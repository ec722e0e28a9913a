package graft.pipelines

import graft.functions.ColumnLib._
import graft.functions.Classifiers
import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship analytical pipeline: the two-pass daily staff fact
  * refresh (SURVEY.md §3 E3; reference runner.py:589-874) as composable
  * DataFrame stages feeding the generic [[graft.operators.Upsert]].
  *
  * Inputs use the canonical ingest column names ([[CallioIngest]]):
  *  - callLog(createTime, startTime, endTime, billDuration, toNumber,
  *    fromUser__id, fromUser__name, fromGroup__id, NgayTao, tenant)
  *  - customer(_id, assignedTime, phone, customField_0_val, user_id,
  *    user_name, user_group_id, NgayUpdate, NgayAssign, tenant)
  *  - group(group_id, name)
  *
  * Scale design: `group` is a tiny dimension → always broadcast (J1, J2,
  * J4). The two fact aggregations shuffle once on (Ngay, MaNV_id); the
  * full-outer metric join (J3) reuses that key. The phone join (J5) is
  * the only potentially skewed fact-to-fact join — null phones are
  * pre-filtered out of nothing (LEFT join must keep them) but AQE skew
  * splitting handles hot numbers. Every scan carries the trailing-window
  * date predicate, which prunes date-partitioned storage.
  */
object FactStaffDaily {

  /** The reporting layer derives `Ngay` from epoch millis in UTC+7
    * (reference runner.py:610, 641) — deliberately different from the
    * ingest layer's UTC dates (X-date duality, SURVEY.md §2.7 ⚠).
    */
  private def ngayVn7(ms: Column): Column = civilDateVn7(ms)

  /** `calls` CTE (runner.py:608-637): call metrics per (Ngay, MaNV_id). */
  def callsAgg(callLog: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val ringSeconds =
      greatest(
        safeDivide((col("endTime") - col("startTime")).cast(DoubleType), lit(1000.0))
          - col("billDuration").cast(DoubleType),
        lit(0.0))
    callLog
      .filter(col("tenant") === tenant && col("createTime").isNotNull &&
        col("NgayTao").between(dStart, dEnd))
      .join(broadcast(group),
        col("fromGroup__id").cast(StringType) === col("group_id").cast(StringType),
        "left")
      .groupBy(ngayVn7(col("createTime")).as("Ngay"),
        col("fromUser__id").cast(StringType).as("MaNV_id"))
      .agg(
        first(col("fromUser__name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(coalesce(col("name"), lit("Unassigned")), ignoreNulls = true).as("Team"),
        count(lit(1)).as("TongCuoc"),
        countDistinct(col("toNumber")).as("SoSDT_Unique"),
        count_if(col("billDuration") > 0).as("SoCuoc_NoiMay"),
        count_if(col("billDuration") === 0).as("SoCuoc_KhongNoiMay"),
        exactSum(when(col("billDuration") > 0, col("billDuration").cast(DoubleType))
          .otherwise(lit(0.0))).as("TongThoiluongGoi_Giay"),
        exactSum(when(col("billDuration") === 0 && col("endTime").isNotNull &&
            col("startTime").isNotNull, ringSeconds)
          .otherwise(lit(0.0))).as("TongRungChuong_Giay"),
        max(col("createTime")).as("max_create_ms"))
      .withColumn("Tenant", lit(tenant))
  }

  /** `customer_in_range` TVF (external, runner.py:648-651 — body not in
    * the reference repo). Documented assumption (SURVEY.md §2.10):
    * customers whose NgayUpdate OR NgayAssign falls in the range.
    */
  def customerInRange(customer: DataFrame, dStart: Column, dEnd: Column): DataFrame =
    customer.filter(
      col("NgayUpdate").between(dStart, dEnd) ||
        col("NgayAssign").between(dStart, dEnd))

  /** `assigned` + `agg_assigned` CTEs (runner.py:639-669). */
  def assignedAgg(customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val assigned = customerInRange(customer, dStart, dEnd)
      .filter(col("tenant") === tenant && col("assignedTime").isNotNull &&
        ngayVn7(col("assignedTime")).between(dStart, dEnd))
      .groupBy(ngayVn7(col("assignedTime")).as("Ngay"),
        col("user_id").cast(StringType).as("MaNV_id"))
      .agg(
        first(col("user_name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(col("user_group_id").cast(StringType), ignoreNulls = true).as("group_id"),
        countDistinct(col("_id")).as("SoDataNhan"),
        max(col("assignedTime")).as("max_assigned_ms"))
    assigned
      .join(broadcast(group.select(col("group_id").cast(StringType).as("g_gid"),
        col("name").as("g_name"))),
        col("group_id") === col("g_gid"), "left")
      .groupBy("Ngay", "MaNV_id")
      .agg(
        first(col("MaNV"), ignoreNulls = true).as("MaNV"),
        first(col("g_name"), ignoreNulls = true).as("Team"),
        max(col("SoDataNhan")).as("SoDataNhan"),
        max(col("max_assigned_ms")).as("max_assigned_ms"))
  }

  /** MERGE A source `S` (runner.py:672-695): calls ⟗ agg_assigned with
    * both-side coalesce and zero-defaulted metrics.
    */
  def mergeASource(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val c = callsAgg(callLog, group, dStart, dEnd, tenant).alias("c")
    val a = assignedAgg(customer, group, dStart, dEnd, tenant).alias("a")
    c.join(a, col("c.Ngay") === col("a.Ngay") &&
        col("c.MaNV_id") === col("a.MaNV_id"), "full_outer")
      .filter(coalesce(col("c.MaNV_id"), col("a.MaNV_id")).isNotNull)
      .select(
        coalesce(col("c.Ngay"), col("a.Ngay")).as("Ngay"),
        lit(tenant).as("Tenant"),
        coalesce(col("c.Team"), col("a.Team")).as("Team"),
        coalesce(col("c.MaNV_id"), col("a.MaNV_id")).as("MaNV_id"),
        coalesce(col("c.MaNV"), col("a.MaNV")).as("MaNV"),
        coalesce(col("c.TongCuoc"), lit(0L)).as("TongCuoc"),
        coalesce(col("c.SoSDT_Unique"), lit(0L)).as("SoSDT_Unique"),
        coalesce(col("c.SoCuoc_NoiMay"), lit(0L)).as("SoCuoc_NoiMay"),
        coalesce(col("c.SoCuoc_KhongNoiMay"), lit(0L)).as("SoCuoc_KhongNoiMay"),
        coalesce(col("c.TongThoiluongGoi_Giay"), lit(0.0)).as("TongThoiluongGoi_Giay"),
        coalesce(col("c.TongRungChuong_Giay"), lit(0.0)).as("TongRungChuong_Giay"),
        coalesce(col("a.SoDataNhan"), lit(0L)).as("SoDataNhan"),
        greatest(coalesce(col("c.max_create_ms"), lit(0L)), lit(0L)).as("max_create_ms"),
        coalesce(col("a.max_assigned_ms"), lit(0L)).as("max_assigned_ms"))
  }

  /** MERGE B staff dims (runner.py:743-787): per-(Ngay, MaNV_id) staff
    * attributes from calls ∪ customers, group-enriched. NOTE: here `Ngay`
    * deliberately reuses the ingest-layer UTC dates (`NgayTao`,
    * `NgayAssign`/`NgayUpdate`) — the reference's X-date inconsistency,
    * preserved (runner.py:745, 757 vs runner.py:610).
    */
  def staffDims(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val fromCalls = callLog
      .filter(col("tenant") === tenant && col("NgayTao").between(dStart, dEnd))
      .groupBy(col("NgayTao").as("Ngay"),
        col("fromUser__id").cast(StringType).as("MaNV_id"))
      .agg(first(col("fromUser__name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(col("fromGroup__id").cast(StringType), ignoreNulls = true).as("group_id"))
    val fromCus = customer
      .filter(col("tenant") === tenant &&
        (col("NgayAssign").between(dStart, dEnd) ||
          col("NgayUpdate").between(dStart, dEnd)))
      .groupBy(coalesce(col("NgayAssign"), col("NgayUpdate")).as("Ngay"),
        col("user_id").cast(StringType).as("MaNV_id"))
      .agg(first(col("user_name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(col("user_group_id").cast(StringType), ignoreNulls = true).as("group_id"))
    val one = fromCalls.unionByName(fromCus)
      .groupBy("Ngay", "MaNV_id")
      .agg(first(col("MaNV"), ignoreNulls = true).as("MaNV"),
        first(col("group_id"), ignoreNulls = true).as("group_id"))
    one.join(broadcast(group.select(col("group_id").cast(StringType).as("g_gid"),
        col("name").as("g_name"))),
        col("group_id") === col("g_gid"), "left")
      .select(col("Ngay"), col("MaNV_id"), col("MaNV"),
        coalesce(col("g_name"), lit("Unassigned")).as("Team"))
  }

  /** MERGE B status pivot (runner.py:789-833): calls joined to customer
    * status strings on phone number, classified into the four counters.
    */
  def statusPivot(callLog: DataFrame, customer: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val callsAll = callLog
      .filter(col("tenant") === tenant && col("NgayTao").between(dStart, dEnd))
      .select(col("NgayTao").as("Ngay"),
        col("fromUser__id").cast(StringType).as("MaNV_id"),
        col("toNumber").as("SDTKhach"))
    val customersRaw = customer
      .filter(col("tenant") === tenant && col("NgayUpdate").between(dStart, dEnd))
      .select(col("phone"),
        nullif(trim(col("customField_0_val").cast(StringType)), lit(""))
          .as("TrangThaiXuLi"))
    val aggs = Classifiers.statusPivotAggs(col("TrangThaiXuLi"))
    // Null-phone fact rows (a large share of call logs) can never match
    // the equi-join; route them around the shuffle instead of hashing
    // them all to one reducer (output identical — a null key left-joins
    // to all-null right columns either way).
    graft.operators.Skew.nullSafeLeftJoin(callsAll,
        customersRaw.withColumnRenamed("phone", "SDTKhach"), "SDTKhach")
      .groupBy("Ngay", "MaNV_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MERGE B source `S` (runner.py:835-849). */
  def mergeBSource(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String = "PK"): DataFrame = {
    val p = statusPivot(callLog, customer, dStart, dEnd, tenant).alias("p")
    val e = staffDims(callLog, customer, group, dStart, dEnd, tenant).alias("e")
    p.join(e, col("p.Ngay") === col("e.Ngay") &&
        col("p.MaNV_id") === col("e.MaNV_id"), "left")
      .select(col("p.Ngay").as("Ngay"), lit(tenant).as("Tenant"),
        col("e.Team").as("Team"), col("p.MaNV_id").as("MaNV_id"),
        col("e.MaNV").as("MaNV"),
        col("SoSDT_KetBanZalo"), col("SoSDT_CoNhuCau"),
        col("SoSDT_TuChoi"), col("SoSDT_KhongNgheMay"))
  }

  /** Full fact schema (inferred from the two INSERT lists,
    * runner.py:718-728 + 865-871).
    */
  val factTemplate: StructType = StructType(Seq(
    StructField("Ngay", DateType), StructField("Tenant", StringType),
    StructField("Team", StringType), StructField("MaNV_id", StringType),
    StructField("MaNV", StringType),
    StructField("TongCuoc", LongType), StructField("SoSDT_Unique", LongType),
    StructField("SoCuoc_NoiMay", LongType), StructField("SoCuoc_KhongNoiMay", LongType),
    StructField("TongThoiluongGoi_Giay", DoubleType),
    StructField("TongRungChuong_Giay", DoubleType),
    StructField("SoDataNhan", LongType),
    StructField("max_create_ms", LongType), StructField("max_assigned_ms", LongType),
    StructField("SoSDT_KetBanZalo", LongType), StructField("SoSDT_CoNhuCau", LongType),
    StructField("SoSDT_TuChoi", LongType), StructField("SoSDT_KhongNgheMay", LongType)))

  /** The two sequential MERGEs (runner.py:589-874) against an in-memory
    * target. MERGE A upserts the full metric row; MERGE B updates only
    * the four status counters, preserving existing Team/MaNV via
    * IFNULL(T.x, S.x) (runner.py:856-863). Both are range-pruned on
    * `Ngay` in [dStart, dEnd].
    */
  def refresh(target: DataFrame, callLog: DataFrame, customer: DataFrame,
      group: DataFrame, dStart: Column, dEnd: Column,
      tenant: String = "PK"): DataFrame =
    compose(conformTo(target, factTemplate),
      conformTo(mergeASource(callLog, customer, group, dStart, dEnd, tenant), factTemplate),
      conformTo(mergeBSource(callLog, customer, group, dStart, dEnd, tenant), factTemplate),
      tenant, aPrune = Some(col("Ngay").between(dStart, dEnd)))

  /** The MERGE spec, single-sourced: MERGE A of `srcA` into `target`,
    * then MERGE B of `srcB` into the result, all three in [[factTemplate]]
    * shape. `aPrune` is MERGE A's target range (the MERGE-ON predicate at
    * runner.py:699-701): outside it, srcA rows insert instead of updating.
    * [[graft.pipelines.BatchRunner.refreshReporting]] passes None (its
    * target is already pruned to the sources' own Ngay range);
    * [[refresh]] passes [dStart, dEnd] — DEVIATIONS.md records where the
    * two differ.
    */
  def compose(target: DataFrame, srcA: DataFrame, srcB: DataFrame,
      tenant: String, aPrune: Option[Column]): DataFrame = {
    val aCols = Seq("Tenant", "Team", "MaNV", "TongCuoc", "SoSDT_Unique",
      "SoCuoc_NoiMay", "SoCuoc_KhongNoiMay", "TongThoiluongGoi_Giay",
      "TongRungChuong_Giay", "SoDataNhan", "max_create_ms", "max_assigned_ms")
    val afterA = Upsert.upsert(target, srcA, keys = Seq("Ngay", "MaNV_id"),
      updateExprs = aCols.map(c => c -> s"s.$c").toMap, targetPrune = aPrune)
    // NO targetPrune on MERGE B, deliberately: `Ngay` is a merge KEY and
    // every srcB row's Ngay lies inside [dStart, dEnd] by construction
    // (mergeBSource derives it from the range-filtered NgayTao), so an
    // out-of-range target row can never match — the reference's redundant
    // MERGE-ON range predicate (runner.py:852-854) is a no-op here. It
    // matters because upsert's prune evaluates the target lineage TWICE
    // (merge branch + passthrough branch): afterA is the whole MERGE A
    // pipeline, and pruning would run it twice per action. (MERGE A keeps
    // its prune: srcA's VN7-derived Ngay CAN fall outside the window, and
    // the reference's range predicate makes such rows insert rather than
    // update an out-of-range target row — observable semantics.)
    Upsert.upsert(afterA, srcB, keys = Seq("Ngay", "MaNV_id"),
      updateExprs = Map(
        "Tenant" -> s"'$tenant'",
        "Team" -> "coalesce(t.Team, s.Team)",
        "MaNV" -> "coalesce(t.MaNV, s.MaNV)",
        "SoSDT_KetBanZalo" -> "s.SoSDT_KetBanZalo",
        "SoSDT_CoNhuCau" -> "s.SoSDT_CoNhuCau",
        "SoSDT_TuChoi" -> "s.SoSDT_TuChoi",
        "SoSDT_KhongNgheMay" -> "s.SoSDT_KhongNgheMay"))
  }
}
