package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Parquet table storage layer (SURVEY.md §2.1 S9-S11): the engine's
  * load/DDL surface over date-partitioned parquet directories.
  *
  *  - [[loadAppend]] ⇔ WRITE_APPEND with ALLOW_FIELD_ADDITION/
  *    RELAXATION + autodetect (reference bigquery_service.py:265-300):
  *    parquet append with `mergeSchema` on read gives the same
  *    fixed-with-evolution schema model (SURVEY.md §1.1.3).
  *  - [[loadTruncate]] ⇔ WRITE_TRUNCATE (bigquery_service.py:302-309).
  *  - [[ensureTable]] ⇔ the idempotent DDL bootstrap
  *    (bigquery_service.py:97-260): DAY partitioning becomes
  *    `partitionBy(dateCol)`, clustering fields become
  *    `sortWithinPartitions` on write — at 100 TB this is what makes
  *    per-day pruning + within-file key locality (min/max row-group
  *    skipping) work.
  */
object Storage {

  /** What [[loadAppend]] observed while it wrote: the row count, and the
    * caller's `stats` aggregates in the order given.
    */
  final case class Appended(rows: Long, stats: Row)

  /** Append with schema evolution: new columns are simply written; the
    * union schema surfaces on [[read]] via mergeSchema. The row count and
    * any extra `stats` aggregates (e.g. `max(updateTime)` for a
    * checkpoint) are observed DURING the write (one pass) — a separate
    * count() or agg() afterwards would evaluate the whole upstream
    * transform pipeline again.
    */
  def loadAppend(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Nil,
      stats: Seq[Column] = Nil): Appended = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("__n"),
      stats.zipWithIndex.map { case (c, i) => c.as(s"__stat$i") }: _*)
    val w = clustered(observed, partitionCol, clusterBy).write.mode("append")
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
    val got = obs.get
    Appended(got("__n").asInstanceOf[Long],
      Row.fromSeq(stats.indices.map(i => got(s"__stat$i"))))
  }

  /** Sort each write task's rows for within-file key locality. A
    * partitioned write must lead with the partition column: Spark's
    * planned write sorts by the partition column alone unless the input
    * is already ordered by it, and that sort would silently replace a
    * `clusterBy`-only sort.
    */
  private def clustered(df: DataFrame, partitionCol: Option[String],
      clusterBy: Seq[String]): DataFrame =
    if (clusterBy.isEmpty) df
    else df.sortWithinPartitions((partitionCol.toSeq ++ clusterBy).map(col): _*)

  /** Full overwrite (snapshot semantics). The input is checkpointed
    * first — it may read the table being overwritten — and the row
    * count is observed during the write, so `df` is evaluated once.
    */
  def loadTruncate(df: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.localCheckpoint(eager = true).observe(obs, count(lit(1)).as("__n"))
      .write.mode("overwrite").parquet(path)
    obs.get("__n").asInstanceOf[Long]
  }

  /** Evolution-aware read: union schema across files. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite a (partitioned) parquet table so
    * each partition holds few large files instead of the many small
    * ones an incremental/streaming sink accumulates. At scale, scan
    * cost is dominated by file count (footer reads, task scheduling),
    * so periodic compaction is part of the table lifecycle. One shuffle
    * on the partition key; data is byte-identical afterwards.
    */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit =
    // Write-to-temp + swap: the rewrite streams from the ORIGINAL files
    // (no in-memory snapshot of the table), and a crash mid-write
    // leaves the original intact — an in-place overwrite would delete
    // the source before the rewrite is durable. Single-writer
    // assumption as everywhere else in this warehouse.
    rewriteInPlace(spark, path) { tmp =>
      val df = read(spark, path)
      val w =
        if (partitionCols.nonEmpty)
          df.repartition(partitionCols.map(col): _*)
            .write.mode("overwrite").partitionBy(partitionCols: _*)
        else
          df.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
            .write.mode("overwrite")
      w.option("maxRecordsPerFile", maxRecordsPerFile).parquet(tmp)
    }

  /** Rewrite-and-swap skeleton shared by [[compact]] and the index
    * compactions: `write(tmpPath)` produces the replacement table, then
    * the live dir is swapped via PARK-then-replace, NOT
    * delete-then-rename — a crash between a delete and a rename would
    * leave NO live table with the data stranded in tmp. Here the
    * no-table window is one rename wide and every crash position is
    * recoverable: mid-write leaves the original untouched (stale tmp
    * deleted on the next run); between the renames leaves the original
    * parked at `.compact-old` (restored on the next run); after leaves
    * only stale debris.
    */
  private[graft] def rewriteInPlace(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val pPath = new org.apache.hadoop.fs.Path(path)
    val pTmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    val pOld = new org.apache.hadoop.fs.Path(path + ".compact-old")
    val fs = pPath.getFileSystem(spark.sessionState.newHadoopConf())
    // Crash recovery first: a prior run that died between its two swap
    // renames left the live table parked at .compact-old — put it back.
    if (!fs.exists(pPath) && fs.exists(pOld)) fs.rename(pOld, pPath)
    if (fs.exists(pTmp)) fs.delete(pTmp, true)
    write(pTmp.toString)
    if (fs.exists(pOld)) fs.delete(pOld, true)
    fs.rename(pPath, pOld)
    fs.rename(pTmp, pPath)
    fs.delete(pOld, true)
  }

  /** Training-shard export — the final step of a corpus build (clean →
    * pack → order → SHARD): rows carrying a global position column
    * (e.g. [[graft.operators.Sampling.deterministicShuffle]]'s `pos`)
    * are written as size-bounded, order-preserving parquet shards.
    * Shard k holds exactly the positions [k*rowsPerShard,
    * (k+1)*rowsPerShard): a data loader that walks `shard=k` dirs in
    * key order and reads rows in file order replays the corpus in
    * training order, and any shard range can be re-read or re-exported
    * independently (the resumable-loader contract).
    *
    * One shuffle, keyed on the derived shard id, so each shard lands
    * WHOLE in one task and therefore one file — file count is
    * nShards, not nShards x tasks. Sorting within partitions is
    * shard-major then position, which keeps every shard file
    * internally position-sorted.
    */
  def writeShards(df: DataFrame, posCol: String, rowsPerShard: Long,
      path: String): Unit = {
    require(rowsPerShard > 0, "need a positive shard size")
    val spark = df.sparkSession
    // A shard export is a SNAPSHOT, not an incremental table: under the
    // engine's dynamic partitionOverwriteMode a re-export that produces
    // FEWER shards would leave the previous export's tail directories
    // in place, and a loader walking shard dirs would replay stale
    // rows. Delete the whole target first (the input must not read
    // from `path`; shard exports never do) — but ONLY a target that is
    // absent, empty, or a prior shard export (has _manifest.jsonl).
    // An unconditional recursive delete would let one mistyped path
    // irreversibly destroy arbitrary data.
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(target)) {
      val isPriorExport =
        fs.exists(new org.apache.hadoop.fs.Path(target, "_manifest.jsonl"))
      val isEmpty = !isPriorExport && fs.listStatus(target).isEmpty
      require(isPriorExport || isEmpty,
        s"refusing to overwrite '$path': it exists, is non-empty, and has " +
          "no _manifest.jsonl - not a prior shard export. Delete it " +
          "explicitly if this is intended.")
      fs.delete(target, true)
    }
    val shardC = graft.functions.ColumnLib.freeColumn(df, "shard")
    val sharded = df.withColumn(shardC,
        org.apache.spark.sql.functions.expr(s"`$posCol` DIV $rowsPerShard"))
      .localCheckpoint(true) // read twice: data write + manifest counts
    sharded
      .repartition(col(shardC))
      .sortWithinPartitions(col(shardC), col(posCol))
      .write.mode("overwrite").partitionBy(shardC).parquet(path)
    // Manifest: one line per shard (id, row count) + a totals line —
    // the loader-side contract that lets a consumer verify a complete,
    // gap-free export (and size its readers) WITHOUT listing/opening
    // shard files. Written last: a manifest's existence implies the
    // data it describes is fully on disk.
    import org.apache.spark.sql.functions.{col => c}
    val counts = sharded.groupBy(c(shardC).as("shard"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val manifest =
      (counts.map { case (s0, n) => s"""{"shard":$s0,"n_rows":$n}""" } :+
        s"""{"total_shards":${counts.length},"total_rows":${counts.map(_._2).sum}}""")
        .mkString("", "\n", "\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_manifest.jsonl"))
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse a [[writeShards]] manifest back: (shard, n_rows) rows in
    * shard order. The totals line is verified against the per-shard
    * lines, so a truncated manifest fails loudly instead of
    * under-reading.
    */
  def readShardManifest(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.jsonl")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    if (lines.isEmpty)
      throw new IllegalStateException(
        s"empty shard manifest at $p: the export did not complete " +
          "(a manifest is written only after all shard data is on disk)")
    val shardRe = """\{"shard":(\d+),"n_rows":(\d+)\}""".r
    val totalRe = """\{"total_shards":(\d+),"total_rows":(\d+)\}""".r
    val shards = lines.init.map {
      case shardRe(s0, n) => (s0.toLong, n.toLong)
      case l => throw new IllegalStateException(s"bad manifest line: $l")
    }
    lines.last match {
      case totalRe(ts, tr) =>
        require(ts.toInt == shards.length && tr.toLong == shards.map(_._2).sum,
          "manifest totals disagree with per-shard lines")
      case l => throw new IllegalStateException(s"bad manifest totals: $l")
    }
    shards
  }

  /** Bucketed managed table: pre-shuffled layout on the join/agg key.
    * Two tables bucketed on the same key with the same count join with
    * NO exchange on either side — the co-located join that at 100 TB
    * removes the dominant cost of repeated fact-fact joins
    * (SURVEY.md §4 "Clustering / data layout"). `sortBy` gives
    * sort-merge joins pre-sorted runs and row-group locality.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path",
        df.sparkSession.conf.get("spark.sql.warehouse.dir") + "/" + table)
      .saveAsTable(table)

  /** A table "exists" when its directory holds data files (a bare
    * _SUCCESS marker from an empty write doesn't count — there is no
    * separate DDL in a parquet warehouse; the first data write declares
    * the layout, see [[graft.operators.Upsert.applyToPartitionedParquet]]).
    * Probed through the Hadoop FileSystem so hdfs:// / s3a:// paths work
    * — a java.io.File probe would report every remote table as absent
    * and let a "first write" overwrite it.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      n.endsWith(".parquet") || n.contains("=")
    }
  }

  /** Columnar formats whose scans support predicate pushdown + column
    * pruning in Spark — the formats [[exportAs]] admits for TABLE
    * interchange. Row formats (csv/json) are deliberately excluded
    * from this surface: they lose types and stats and their ingest
    * path is [[JsonlSource]] (with quarantine), not a table export.
    */
  private val columnarFormats = Set("parquet", "orc")

  /** Format-portable table export (the S9 layout discipline for
    * non-parquet consumers — ORC is the interchange format half the
    * Hadoop estate still speaks): same partition-pruning layout
    * (`partitionBy`) and within-partition key locality
    * (`sortWithinPartitions` → row-group/stripe min-max skipping) as
    * the parquet path, so a consumer's pruned scan reads the same
    * fraction of bytes either way.
    */
  def exportAs(df: DataFrame, path: String, format: String,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Nil): Unit = {
    require(columnarFormats(format),
      s"exportAs supports ${columnarFormats.mkString("/")}, got '$format'")
    val w = clustered(df, partitionCol, clusterBy).write.mode("overwrite").format(format)
    partitionCol.fold(w)(c => w.partitionBy(c)).save(path)
  }

  /** Read back an [[exportAs]] table. Same mergeSchema posture as
    * [[read]]: the union schema of all files surfaces.
    */
  def readAs(spark: SparkSession, path: String, format: String): DataFrame = {
    require(columnarFormats(format),
      s"readAs supports ${columnarFormats.mkString("/")}, got '$format'")
    spark.read.format(format).option("mergeSchema", "true").load(path)
  }
}
