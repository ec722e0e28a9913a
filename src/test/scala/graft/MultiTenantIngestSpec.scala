package graft

import graft.pipelines.BatchRunner
import graft.sources.FixtureSources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `BatchRunner` with several tenants: one fetch plan and one append
  * per entity, per-tenant checkpoints and audit rows, and tables equal
  * to the union of single-tenant runs.
  *
  * Tenants (one fixture doc a minute from T0; ids collide across them):
  *  - PK: 120 docs, then 180 with re-served docs at version 2;
  *  - HN: 90 docs and nothing new later; its backend refuses windows
  *    wider than 15 minutes, so its 30-minute slices are split;
  *  - DN: 60 docs without `customFields`.
  */
class MultiTenantIngestSpec extends SparkSpec {

  private val T0 = 1704844800000L
  private val Min = 60000L
  private val Now1 = T0 + 120 * Min
  private val Now2 = Now1 + 60 * Min
  private val Tenants = Seq("PK", "HN", "DN")

  private def feed(run: Int) = new TenantFeed(Map(
    "PK" -> new FixtureSources.Paged(T0, if (run == 1) 120 else 180, version = run),
    "HN" -> new RefusingWide(new FixtureSources.Paged(T0, 90, version = run), 15 * Min),
    "DN" -> new WithoutCustomFields(new FixtureSources.Paged(T0, 60, version = run))),
    s"runner-$run")

  /** Two runs (customer + call) into a fresh warehouse; returns it and
    * the last runner.
    */
  private def ingest(tenants: Seq[String]): (String, BatchRunner) = {
    val wh = java.nio.file.Files.createTempDirectory("multi_tenant").toString
    val cfg = BatchRunner.Config(wh, tenants, sliceMs = 30 * Min,
      minSliceMs = 10 * Min, pageSize = 13)
    val runs = Seq(1 -> Now1, 2 -> Now2).map { case (run, now) =>
      val r = new BatchRunner(spark, feed(run), new FixtureSources.Snapshots, cfg)
      r.bootstrap()
      r.runCustomer(now)
      r.runCall(now)
      r
    }
    (wh, runs.last)
  }

  private def table(wh: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$wh/$name")
    df.select(df.columns.sorted.toSeq.map(col): _*)
  }

  private def audit(wh: String): Map[(String, String, String, Long), Int] =
    spark.read.parquet(s"$wh/update_log")
      .select("tenant", "table_name", "mode", "rows_loaded").collect()
      .groupBy(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .map { case (k, v) => k -> v.length }

  test("one pass per entity keeps checkpoints, audit rows and tables per tenant") {
    val (wh, r) = ingest(Tenants)

    Seq("customer", "call_log").foreach { t =>
      assert(r.checkpoints.getCheckpoint(t, "PK").contains(T0 + 179 * Min))
      assert(r.checkpoints.getCheckpoint(t, "HN").contains(T0 + 89 * Min))
      assert(r.checkpoints.getCheckpoint(t, "DN").contains(T0 + 59 * Min))
    }

    // Run 1 takes everything; run 2 re-reads the 3-minute customer
    // overlap of every tenant, and only PK has new docs.
    assert(audit(wh) == Map(
      ("PK", "customer", "STAGED", 120L) -> 1, ("PK", "customer", "MERGED", 120L) -> 1,
      ("HN", "customer", "STAGED", 90L) -> 1, ("HN", "customer", "MERGED", 90L) -> 1,
      ("DN", "customer", "STAGED", 60L) -> 1, ("DN", "customer", "MERGED", 60L) -> 1,
      ("PK", "customer", "STAGED", 63L) -> 1, ("PK", "customer", "MERGED", 63L) -> 1,
      ("HN", "customer", "STAGED", 3L) -> 1, ("HN", "customer", "MERGED", 3L) -> 1,
      ("DN", "customer", "STAGED", 3L) -> 1, ("DN", "customer", "MERGED", 3L) -> 1,
      ("HN", "customer", "RESULT_WINDOW_LIMIT", 0L) -> 2,
      ("PK", "call_log", "APPEND", 120L) -> 1, ("PK", "call_log", "APPEND", 60L) -> 1,
      ("HN", "call_log", "APPEND", 90L) -> 1, ("DN", "call_log", "APPEND", 60L) -> 1,
      ("HN", "call_log", "RESULT_WINDOW_LIMIT", 0L) -> 2,
      ("HN", "call_log", "NOOP", 0L) -> 1, ("DN", "call_log", "NOOP", 0L) -> 1))

    // Colliding ids both survive, one row each.
    val customer = table(wh, "customer")
    assert(customer.count() == 330)
    assert(customer.select("tenant", "_id").distinct().count() == 330)
    assert(customer.filter(col("_id") === "c7").select("tenant").collect()
      .map(_.getString(0)).toSet == Tenants.toSet)
    assert(table(wh, "call_log").count() == 330)
    assert(table(wh, "stg_customer").count() == 0)
    // Re-served docs merged per tenant; DN's missing field stays null
    // without touching the other tenants' values.
    def name(t: String, id: String) = customer
      .filter(col("tenant") === t && col("_id") === id).head().getAs[String]("name")
    assert(name("PK", "c150") == "cust 150 v2" && name("HN", "c88") == "cust 88 v2")
    assert(name("HN", "c7") == "cust 7 v1")
    val cf = customer.groupBy("tenant")
      .agg(count(col("customField_0_val")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cf == Map("PK" -> 180L, "HN" -> 90L, "DN" -> 0L))
  }

  test("tables equal the union of single-tenant runs") {
    val (wh, _) = ingest(Tenants)
    val singles = Tenants.map(t => ingest(Seq(t))._1)
    Seq("customer", "stg_customer", "call_log").foreach { t =>
      val union = singles.map(s => table(s, t).collect().toSeq).reduce(_ ++ _)
      val all = table(wh, t).collect().toSeq
      assert(all.length == union.length, t)
      val (a, u) = (all.map(_.toSeq).toSet, union.map(_.toSeq).toSet)
      val (missing, unexpected) = ((u -- a).size, (a -- u).size)
      assert(missing == 0 && unexpected == 0, t)
    }
  }
}
