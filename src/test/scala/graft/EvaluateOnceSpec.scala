package graft

import graft.operators.Upsert
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The write paths evaluate their input exactly once per call. A
  * counted source passes every row through a filter UDF that bumps an
  * accumulator — a filter, so no column pruning can skip it (a
  * `count()` or a partition-range `agg` would prune a projected UDF
  * away, yet still re-run the plan under it): after a call, the
  * accumulator equals the row count only if the source was evaluated
  * once.
  */
class EvaluateOnceSpec extends SparkSpec {

  /** `rows` rows over three `d` days, plus the evaluation counter. */
  private def counted(rows: Int): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator
    val seen = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
    val src = spark.range(0, rows).filter(seen(col("id"))).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"), (col("id") % 7).as("g"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 3).cast("int")).as("d"))
    (src, evals)
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  test("loadAppend evaluates once and observes stats equal to the written table's") {
    val dir = tmp("once_append")
    val (src, evals) = counted(100)
    val got = Storage.loadAppend(src, dir, partitionCol = Some("d"),
      clusterBy = Seq("g"), stats = Seq(max(col("k")), min(col("d")), max(col("d")), sum(col("g"))))
    assert(evals.value == 100)
    val written = Storage.read(spark, dir)
      .agg(count(lit(1)), max(col("k")), min(col("d")), max(col("d")), sum(col("g"))).head()
    assert(got.rows == written.getLong(0))
    assert(got.stats == Row.fromSeq(written.toSeq.tail))
    // No stats asked: the count alone, still one pass.
    val (src2, evals2) = counted(10)
    assert(Storage.loadAppend(src2, dir).rows == 10 && evals2.value == 10)
    assert(Storage.loadAppend(src2, dir).stats == Row())
  }

  test("loadTruncate evaluates once") {
    val dir = tmp("once_trunc")
    val (src, evals) = counted(50)
    assert(Storage.loadTruncate(src, dir) == 50)
    assert(evals.value == 50)
    assert(Storage.read(spark, dir).count() == 50)
  }

  test("applyToPartitionedParquet evaluates its source once, first write and merge") {
    val dir = tmp("once_merge")
    val (first, firstEvals) = counted(30)
    Upsert.applyToPartitionedParquet(spark, dir, first, Seq("k"), "d")
    assert(firstEvals.value == 30)
    val (src, evals) = counted(40) // keys 0..29 update, 30..39 insert
    Upsert.applyToPartitionedParquet(spark, dir, src.withColumn("v", upper(col("v"))),
      Seq("k"), "d")
    assert(evals.value == 40)
    val out = spark.read.parquet(dir)
    assert(out.count() == 40)
    assert(out.filter(col("v") === upper(col("v"))).count() == 40)
  }

  test("fetchDescUntil reports hasDocs from the fetch, agreeing with docs") {
    import graft.sources.{FixtureSources, PagedSource}
    val t0 = 1704844800000L
    val f = new FixtureSources.Paged(t0, 30, version = 1)
    def fetch(cutoff: Long, limit: Option[Int] = None) =
      PagedSource.fetchDescUntil(spark, f, "customer", "t1", "updateTime",
        cutoff, t0 + 30 * 60000L, sliceMs = 600000L, pageSize = 7,
        limitRecords = limit)
    val some = fetch(t0 - 1)
    assert(some.hasDocs && some.docs.count() == 30)
    val none = fetch(t0 + 30 * 60000L - 1) // every doc at or below the cutoff
    assert(!none.hasDocs && none.docs.isEmpty)
    val capped = fetch(t0 - 1, limit = Some(0))
    assert(!capped.hasDocs && capped.docs.isEmpty)
  }
}
