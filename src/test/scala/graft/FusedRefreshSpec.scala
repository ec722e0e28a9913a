package graft

import graft.operators.Upsert
import graft.pipelines.{BatchRunner, FactStaffDaily}
import graft.sources.FixtureSources
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The reporting refresh composes MERGE A and MERGE B in memory and
  * writes them as ONE partition rewrite. These specs pin it to the rows
  * the earlier two-rewrite path (one lock/read/write/swap round per
  * MERGE) produced on the same warehouse, and check the rewrite's
  * partition-range invariant.
  */
class FusedRefreshSpec extends SparkSpec {

  // 12 hours of docs, one a minute, from 2024-01-10T14:00Z: UTC days
  // 01-10 and 01-11; VN7 days 01-10 (before 17:00Z) and 01-11. So a
  // refresh ending 01-10 (UTC window) emits MERGE A rows dated 01-11.
  private val T0 = 1704895200000L

  private def ingested(): (BatchRunner, String) = {
    val wh = java.nio.file.Files.createTempDirectory("fused_wh").toString
    val r = new BatchRunner(spark, new FixtureSources.Paged(T0, 720, version = 1),
      new FixtureSources.Snapshots, BatchRunner.Config(wh, Seq("PK")))
    r.bootstrap()
    val now = T0 + 720 * 60000L
    r.runCustomer(now)
    r.runCall(now)
    r.runStaffGroup()
    (r, wh)
  }

  private def factRows(wh: String): Seq[String] =
    spark.read.parquet(s"$wh/fact_staff_daily")
      .select(FactStaffDaily.factTemplate.fieldNames.toIndexedSeq.map(col): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  /** Every file under `dir`, by name, with its bytes' digest. */
  private def fileDigests(dir: String): Map[String, String] =
    new java.io.File(dir).listFiles().filter(_.isFile).map { f =>
      f.getName -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
    }.toMap

  // Rows of fact_staff_daily after each refresh, as the two-rewrite path
  // wrote them (columns in factTemplate order).
  private val afterFirst = Seq(
    "2024-01-10|PK|Team One|u1|NV1|36|10|24|12|600.0|360.0|36|1704905760000|1704905760000|720|0|0|720",
    "2024-01-10|PK|Team One|u2|NV2|36|10|24|12|600.0|360.0|36|1704905820000|1704905820000|720|0|0|720",
    "2024-01-10|PK|Team Two|u3|NV3|36|10|24|12|600.0|360.0|36|1704905880000|1704905880000|720|0|0|720",
    "2024-01-10|PK|Team Zero|u0|NV0|36|10|24|12|600.0|360.0|36|1704905700000|1704905700000|720|0|0|720",
    "2024-01-10|PK|Team Zero|u4|NV4|36|10|24|12|600.0|360.0|36|1704905940000|1704905940000|720|0|0|720",
    "2024-01-11|PK|Team One|u4|NV4|84|10|56|28|1400.0|840.0|0|1704931140000|0|null|null|null|null",
    "2024-01-11|PK|Team Two|u0|NV0|84|10|56|28|1400.0|840.0|0|1704930900000|0|null|null|null|null",
    "2024-01-11|PK|Team Two|u2|NV2|84|10|56|28|1400.0|840.0|0|1704931020000|0|null|null|null|null",
    "2024-01-11|PK|Team Zero|u1|NV1|84|10|56|28|1400.0|840.0|0|1704930960000|0|null|null|null|null",
    "2024-01-11|PK|Team Zero|u3|NV3|84|10|56|28|1400.0|840.0|0|1704931080000|0|null|null|null|null")
  private val afterSecond = Seq(
    "2024-01-10|PK|Team One|u1|NV1|36|10|24|12|600.0|360.0|36|1704905760000|1704905760000|864|0|0|864",
    "2024-01-10|PK|Team One|u2|NV2|36|10|24|12|600.0|360.0|36|1704905820000|1704905820000|864|0|0|864",
    "2024-01-10|PK|Team Two|u3|NV3|36|10|24|12|600.0|360.0|36|1704905880000|1704905880000|864|0|0|864",
    "2024-01-10|PK|Team Zero|u0|NV0|36|10|24|12|600.0|360.0|36|1704905700000|1704905700000|864|0|0|864",
    "2024-01-10|PK|Team Zero|u4|NV4|36|10|24|12|600.0|360.0|36|1704905940000|1704905940000|864|0|0|864",
    "2024-01-11|PK|Team One|u4|NV4|108|10|72|36|1800.0|1080.0|108|1704938340000|1704938340000|174|0|0|174",
    "2024-01-11|PK|Team Two|u0|NV0|108|10|72|36|1800.0|1080.0|108|1704938100000|1704938100000|174|0|0|174",
    "2024-01-11|PK|Team Two|u2|NV2|108|10|72|36|1800.0|1080.0|108|1704938220000|1704938220000|174|0|0|174",
    "2024-01-11|PK|Team Zero|u1|NV1|108|10|72|36|1800.0|1080.0|108|1704938160000|1704938160000|174|0|0|174",
    "2024-01-11|PK|Team Zero|u3|NV3|108|10|72|36|1800.0|1080.0|108|1704938280000|1704938280000|174|0|0|174")
  // Back-dated refresh (dEnd 01-10) over existing 01-11 rows: MERGE A's
  // target is not window-pruned, so its partial 01-11 rows UPDATE the
  // existing ones (DEVIATIONS.md), and MERGE B keeps their counters.
  private val afterBackdated = Seq(
    "2024-01-10|PK|Team One|u1|NV1|36|10|24|12|600.0|360.0|36|1704905760000|1704905760000|720|0|0|720",
    "2024-01-10|PK|Team One|u2|NV2|36|10|24|12|600.0|360.0|36|1704905820000|1704905820000|720|0|0|720",
    "2024-01-10|PK|Team Two|u3|NV3|36|10|24|12|600.0|360.0|36|1704905880000|1704905880000|720|0|0|720",
    "2024-01-10|PK|Team Zero|u0|NV0|36|10|24|12|600.0|360.0|36|1704905700000|1704905700000|720|0|0|720",
    "2024-01-10|PK|Team Zero|u4|NV4|36|10|24|12|600.0|360.0|36|1704905940000|1704905940000|720|0|0|720",
    "2024-01-11|PK|Team One|u4|NV4|84|10|56|28|1400.0|840.0|0|1704931140000|0|174|0|0|174",
    "2024-01-11|PK|Team Two|u0|NV0|84|10|56|28|1400.0|840.0|0|1704930900000|0|174|0|0|174",
    "2024-01-11|PK|Team Two|u2|NV2|84|10|56|28|1400.0|840.0|0|1704931020000|0|174|0|0|174",
    "2024-01-11|PK|Team Zero|u1|NV1|84|10|56|28|1400.0|840.0|0|1704930960000|0|174|0|0|174",
    "2024-01-11|PK|Team Zero|u3|NV3|84|10|56|28|1400.0|840.0|0|1704931080000|0|174|0|0|174")

  test("fused refresh writes the rows of the two-merge path, back-dated included") {
    val (r, wh) = ingested()
    r.refreshReporting(java.time.LocalDate.parse("2024-01-10")) // first write
    assert(factRows(wh) == afterFirst)
    r.refreshReporting(java.time.LocalDate.parse("2024-01-11"))
    assert(factRows(wh) == afterSecond)
    r.refreshReporting(java.time.LocalDate.parse("2024-01-10"))
    assert(factRows(wh) == afterBackdated)
  }

  test("a fact partition outside the rewrite range survives byte-identical") {
    val (r, wh) = ingested()
    val old = spark.createDataFrame(java.util.Arrays.asList(
      Row(java.sql.Date.valueOf("2023-12-01"), "PK", "T", "u9", "NV9",
        Long.box(1L), Long.box(1L), Long.box(1L), Long.box(0L), Double.box(1.0),
        Double.box(0.0), Long.box(0L), Long.box(1L), Long.box(0L),
        Long.box(0L), Long.box(0L), Long.box(0L), Long.box(0L))),
      FactStaffDaily.factTemplate)
    old.write.partitionBy("Ngay").parquet(s"$wh/fact_staff_daily")
    val oldDir = s"$wh/fact_staff_daily/Ngay=2023-12-01"
    val before = fileDigests(oldDir)
    assert(before.keys.exists(_.endsWith(".parquet")))
    r.refreshReporting(java.time.LocalDate.parse("2024-01-11"))
    assert(fileDigests(oldDir) == before)
    val days = spark.read.parquet(s"$wh/fact_staff_daily")
      .select(col("Ngay").cast("string")).distinct().collect().map(_.getString(0)).toSet
    assert(days == Set("2023-12-01", "2024-01-10", "2024-01-11"))
  }

  test("an output row outside the partitions read fails the rewrite loudly") {
    val dir = java.nio.file.Files.createTempDirectory("fused_guard").toString + "/t"
    df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"), Row(Long.box(2), "b", "2024-01-02"))
      .write.partitionBy("d").parquet(dir)
    val before = fileDigests(s"$dir/d=2024-01-01")
    val source = df("k BIGINT, v STRING, d STRING", Row(Long.box(2), "B", "2024-01-02"))
    Seq("'2024-01-01'", "CAST(NULL AS STRING)").foreach { stray =>
      val e = intercept[Exception] {
        Upsert.rewritePartitions(spark, dir, "d", Seq(source)) { (target, srcs) =>
          Upsert.upsert(target.get, srcs.head, Seq("k"))
            .unionByName(srcs.head.withColumn("d", expr(stray)))
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("outside the partitions read")),
        s"stray d=$stray must fail with the range message, got $e")
      // Nothing was swapped: the live table is the pre-merge one.
      assert(fileDigests(s"$dir/d=2024-01-01") == before)
      assert(rowSet(spark.read.parquet(dir)) ==
        Set(Seq(1L, "a", java.sql.Date.valueOf("2024-01-01")),
          Seq(2L, "b", java.sql.Date.valueOf("2024-01-02"))))
      assert(!new java.io.File(dir + ".merge-lock").exists())
    }
  }
}
