package graft.streaming

import graft.sources.{PagedSource, Storage}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming face of the paged incremental source (SURVEY.md §2.1 S3's
  * "custom MicroBatchStream" option, resolved per the survey's own
  * preference order as a composition of built-ins): one scheduler tick
  * fetches with [[PagedSource.fetchDescUntil]], spools the transformed
  * rows to a staging directory, and drains that directory through a
  * real Structured Streaming query — file source → `foreachBatch`
  * upsert sink — under `Trigger.AvailableNow`.
  *
  * Why this shape instead of a hand-rolled `MicroBatchStream`: the
  * transport ([[PagedSource.DocFetcher]]) is a paged REST protocol
  * whose slice recovery is inherently batch-per-window; wrapping it in
  * a custom V2 stream would re-implement offset tracking the file
  * source + checkpoint directory already provide. Spark's streaming
  * machinery contributes exactly the pieces the reference lacks:
  * file-granular exactly-once progress (a tick that dies mid-drain
  * resumes from the checkpoint without re-merging processed files) and
  * the watermark/state surface of [[IncrementalStream]] for anything
  * stacked on top.
  *
  * Scale: the spool holds one tick's fetch (bounded by the fetch
  * limit), the streaming query's state is file-listing only, and the
  * sink rewrites only the partitions each micro-batch touches. Spool
  * files already merged are skipped by the checkpoint, so periodic
  * [[Storage.compact]] of the spool (or dropping files older than the
  * checkpoint horizon) is routine maintenance, not correctness.
  */
object PagedStream {

  final case class TickResult(stagedRows: Long, hitResultWindowLimit: Boolean)

  /** One slot tick: fetch → spool → drain-available-now → merge.
    *
    * @param transform    raw-doc DataFrame → table rows (e.g.
    *                     [[graft.pipelines.CallioIngest.customerTransform]]);
    *                     must yield a stable schema across ticks
    * @param spoolDir     staging directory the streaming source reads
    * @param targetPath   partitioned parquet table the sink merges into
    * @param checkpointDir streaming checkpoint (file progress) location
    */
  def tick(spark: SparkSession, fetcher: PagedSource.DocFetcher,
      entity: String, tenant: String, timeField: String,
      cutoffMs: Long, nowMs: Long,
      transform: DataFrame => DataFrame,
      spoolDir: String, targetPath: String, keys: Seq[String],
      partitionCol: String, checkpointDir: String,
      sliceMs: Long = 86400000L, minSliceMs: Long = 3600000L,
      pageSize: Int = 500, limitRecords: Option[Int] = None): TickResult = {
    val res = PagedSource.fetchDescUntil(spark, fetcher, entity, tenant,
      timeField, cutoffMs, nowMs, sliceMs, minSliceMs, pageSize, limitRecords)
    val staged =
      if (!res.hasDocs) 0L
      else Storage.loadAppend(transform(res.docs), spoolDir).rows
    if (Storage.exists(spark, spoolDir)) {
      // Schema from the spool itself (not this tick's frame): the
      // stream may also be draining files a crashed prior tick left
      // behind, and an empty fetch still drains the backlog.
      val stream = spark.readStream
        .schema(spark.read.parquet(spoolDir).schema)
        // Native spool hygiene: files are deleted once their micro-batch
        // commits (async cleaner), so the spool holds only unprocessed
        // backlog instead of growing forever. Crash-safe: an uncommitted
        // file survives and is drained by the next tick.
        .option("cleanSource", "delete")
        .parquet(spoolDir)
      val q = IncrementalStream.runAvailableNow(
        IncrementalStream.upsertSink(stream.writeStream, spark, targetPath,
          keys, partitionCol, checkpointDir))
      q.awaitTermination()
    }
    TickResult(staged, res.hitResultWindowLimit)
  }
}
