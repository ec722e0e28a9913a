package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adaptive paged incremental source (SURVEY.md §2.1 S3-S6; reference
  * api.py:86-324). The reference fetches descending-time pages from a
  * REST endpoint, slice by slice, serially. Here the same protocol is a
  * Spark batch source: the driver plans one task per (tenant, time
  * slice) and executors fetch their slice's pages in parallel — the
  * reference's serial per-tenant loop (runner.py:529, 567) parallelized
  * by its own slice planner (api.py:219-230), all tenants of an entity
  * in one plan ([[fetchTenants]]).
  *
  * The transport is behind [[DocFetcher]] so tests (and this offline
  * container) inject fixture data; a production impl wraps
  * java.net.http with the token cache + 401-retry (api.py:43-69,
  * 137-148), which is a transport concern, not an engine one.
  *
  * Semantics preserved from the reference:
  *  - slice planning: [cutoff, now] split into `sliceMs` windows,
  *    processed newest-first (api.py:219-230);
  *  - per-slice descending pages until a doc's time field reaches the
  *    cutoff or the API reports no next page (api.py:190-212);
  *  - result-window recovery (api.py:278-307): if the API refuses the
  *    page depth, advance the slice end below the oldest doc seen so
  *    far, else binary-split the slice down to `minSliceMs`; an
  *    unsplittable slice is dropped and surfaced via the
  *    `hit_result_window_limit` flag;
  *  - first-occurrence-wins dedup on `_id` across slices/pages
  *    (api.py:231-257), per tenant — newest slice wins, preserved by
  *    ordering on (slice, page, position);
  *  - sort by the time field descending + head-N (api.py:311-313),
  *    which Spark executes as top-k; without a limit the sort only
  *    matters to callers that want page order ([[fetchDescUntil]]).
  */
object PagedSource {

  /** One fetched page. `docs` are raw JSON documents. */
  final case class Page(docs: Seq[String], hasNextPage: Boolean)

  /** Thrown by fetchers when the backend refuses the page window —
    * the "Result window is too large" HTTP 400 (api.py:170-181).
    */
  final class ResultWindowTooLarge extends RuntimeException("result window too large")

  /** Thrown by fetchers when the backend rejects the auth token —
    * the HTTP 401 that triggers re-login (api.py:137-148).
    */
  final class AuthExpired extends RuntimeException("auth token expired")

  /** Transport abstraction: fetch one descending-time page of `entity`
    * docs with `fromMs <= timeField < toMs`.
    */
  trait DocFetcher extends Serializable {
    def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page
  }

  /** 401-retry decorator (S6, reference api.py:137-148): on
    * [[AuthExpired]], invalidate the cached token via `refreshAuth` and
    * retry the SAME page, at most `maxRetries` times per call; a retry
    * that fails again propagates (the reference re-raises after one
    * re-login, never loops on a dead credential). Composes over any
    * transport; runs inside the executor-side slice task, so the token
    * refresh is per-executor — exactly where a per-JVM token cache
    * lives. [[ResultWindowTooLarge]] passes through untouched: it is
    * recovery-protocol signal, not an auth failure.
    */
  final class RetryingFetcher(inner: DocFetcher, refreshAuth: () => Unit,
      maxRetries: Int = 1) extends DocFetcher {
    require(maxRetries >= 1, "retrying fetcher needs at least one retry")
    override def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
      var attempt = 0
      while (true) {
        try return inner.fetchPage(entity, tenant, timeField, fromMs, toMs,
          page, pageSize)
        catch {
          case e: AuthExpired =>
            if (attempt >= maxRetries) throw e
            attempt += 1
            refreshAuth()
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  final case class FetchedDoc(tenant: String, sliceIdx: Int, page: Int, pos: Int,
      doc: String)

  /** `hasDocs`: at least one doc survived the cutoff, so `docs` is
    * non-empty unless `limitRecords` is 0 — known from the fetch itself,
    * without a job over `docs`.
    */
  final case class FetchResult(docs: DataFrame, hitResultWindowLimit: Boolean,
      hasDocs: Boolean)

  /** Plan [cutoff, now) into newest-first slices (api.py:219-230). */
  def planSlices(cutoffMs: Long, nowMs: Long, sliceMs: Long): Seq[(Long, Long)] = {
    require(sliceMs > 0)
    val starts = Iterator.iterate(nowMs)(_ - sliceMs)
      .takeWhile(_ > cutoffMs).toSeq
    starts.map(end => (math.max(cutoffMs, end - sliceMs), end))
  }

  /** Fetch one slice with the adaptive recovery loop. Local to one
    * executor task; returns docs tagged with (page-order) position plus
    * whether the result-window limit was hit.
    */
  private[sources] def fetchSlice(fetcher: DocFetcher, entity: String,
      tenant: String, timeField: String, cutoffMs: Long,
      slice: (Long, Long), minSliceMs: Long, pageSize: Int,
      maxPagesPerSlice: Int): (Seq[(Int, Int, String)], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var hitLimit = false
    // Work stack of pending sub-slices (newest-first), mutated by the
    // result-window recovery strategy.
    val stack = scala.collection.mutable.Stack[(Long, Long)](slice)
    var pageCounter = 0
    while (stack.nonEmpty) {
      var (from, to) = stack.pop()
      var page = 1
      var done = false
      var oldestSeen = Long.MaxValue
      while (!done && pageCounter < maxPagesPerSlice) {
        try {
          val res = fetcher.fetchPage(entity, tenant, timeField, from, to, page, pageSize)
          // Docs at-or-below the cutoff are excluded, not just a stop
          // signal (api.py:190-196 skips them before breaking).
          res.docs.zipWithIndex.foreach { case (d, i) =>
            val ts = extractTs(d, timeField)
            if (ts > cutoffMs) {
              out += ((pageCounter, i, d))
              if (ts < oldestSeen) oldestSeen = ts
            }
          }
          val reachedCutoff = res.docs.exists(d => extractTs(d, timeField) <= cutoffMs)
          done = !res.hasNextPage || reachedCutoff || res.docs.isEmpty
          page += 1
          pageCounter += 1
        } catch {
          case _: ResultWindowTooLarge =>
            hitLimit = true
            pageCounter += 1 // refusals count against the bound too
            if (oldestSeen != Long.MaxValue && oldestSeen < to) {
              // Progress made since the last refusal: continue below the
              // oldest doc seen. `to` is EXCLUSIVE in the fetch contract,
              // so the new end is oldestSeen itself (the reference's -1
              // fits its inclusive-end ranges). `oldestSeen < to` makes
              // the window strictly narrower each time — a refusal with
              // no new docs falls through to split/drop, never loops.
              // Residual caveat shared with the reference: unfetched
              // docs tied AT oldestSeen are lost (hitLimit flags it).
              to = oldestSeen
              page = 1
            } else if (to - from > minSliceMs) {
              // binary split (api.py:294-300), newest half first
              val mid = from + (to - from) / 2
              stack.push((from, mid))
              stack.push((mid, to))
              done = true
            } else {
              // unsplittable: warn + drop (api.py:301-307)
              done = true
            }
        }
      }
    }
    (out.toSeq, hitLimit)
  }

  /** Best-effort time extraction from a raw doc for the cutoff check —
    * matches `"<timeField>": <millis>`.
    */
  private def extractTs(doc: String, timeField: String): Long = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(timeField) + "\"\\s*:\\s*(\\d+)")
      .matcher(doc)
    if (m.find()) m.group(1).toLong else 0L
  }

  /** Per-tenant incremental fetch in ONE Spark plan (SURVEY.md §3 E1:
    * one frame per tenant out of a shared scan). Every tenant's slices
    * are planned on the driver and run as one task per (tenant, slice)
    * — `parallelize` places the task list directly, no shuffle. The
    * first-wins dedup runs per (tenant, key) BEFORE the one eager
    * `localCheckpoint`, so fetch and dedup are evaluated once and no
    * consumer re-runs either: every fetchPage call is a live network
    * request, and localCheckpoint blocks are released by the
    * ContextCleaner when unreferenced (unlike cache(), daemon-style
    * runs don't accumulate).
    *
    * Each tenant's JSON schema is inferred over its own checkpointed
    * docs (one job per tenant with docs), so one tenant's doc shapes
    * never change another's columns or types; a tenant without docs gets
    * an empty frame and no job. Docs come back UNORDERED unless
    * `limitRecords` is set, which keeps the newest N per tenant (sort by
    * the time field descending, then head-N — api.py:311-313, executed
    * as top-k).
    */
  def fetchTenants(spark: SparkSession, fetcher: DocFetcher, entity: String,
      timeField: String, cutoffs: Seq[(String, Long)], nowMs: Long,
      sliceMs: Long = 86400000L, minSliceMs: Long = 3600000L,
      pageSize: Int = 500, limitRecords: Option[Int] = None,
      maxPagesPerSlice: Int = 10000): Map[String, FetchResult] = {
    import spark.implicits._
    require(cutoffs.map(_._1).distinct.size == cutoffs.size,
      s"duplicate tenants in $cutoffs")
    val tasks = cutoffs.zipWithIndex.flatMap { case ((_, cutoff), t) =>
      planSlices(cutoff, nowMs, sliceMs).zipWithIndex.map { case (slice, idx) =>
        (t, idx, cutoff, slice)
      }
    }
    // Two flags per tenant ride the fetch itself as accumulators: did a
    // slice hit the result-window limit (a fully-dropped slice included),
    // and did any doc survive the cutoff. Flag semantics (read as > 0),
    // so a retried task adding twice is harmless.
    val hitAcc = cutoffs.map(c => spark.sparkContext.longAccumulator(
      s"paged.hitResultWindowLimit.${c._1}"))
    val docsAcc = cutoffs.map(c => spark.sparkContext.longAccumulator(
      s"paged.docs.${c._1}"))
    val tenants = cutoffs.map(_._1)
    val fetched = spark.sparkContext
      .parallelize(tasks, math.max(1, tasks.size))
      .flatMap { case (t, idx, cutoff, slice) =>
        val (docs, hit) = fetchSlice(fetcher, entity, tenants(t), timeField,
          cutoff, slice, minSliceMs, pageSize, maxPagesPerSlice)
        if (hit) hitAcc(t).add(1)
        if (docs.nonEmpty) docsAcc(t).add(1)
        docs.map { case (pg, pos, d) => FetchedDoc(tenants(t), idx, pg, pos, d) }
      }
    // First-occurrence-wins dedup (api.py:238-257) per tenant: newest
    // slice first, then page order. Fallback key mirrors `f"{ts}:{len}"`.
    val tagged = fetched.toDF()
      .withColumn("_dedup_key", coalesce(
        get_json_object(col("doc"), "$._id"),
        concat_ws(":", get_json_object(col("doc"), s"$$.$timeField"),
          length(col("doc")).cast("string"))))
    val first = graft.functions.ColumnLib.latestWins(tagged,
      keys = Seq("tenant", "_dedup_key"),
      ordering = Seq(col("sliceIdx").asc, col("page").asc, col("pos").asc))
    // The accumulators are complete once this eager checkpoint returns.
    val materialized = first.select("tenant", "doc").localCheckpoint(true)

    cutoffs.zipWithIndex.map { case ((tenant, _), t) =>
      val hasDocs = docsAcc(t).value > 0
      val docs =
        if (!hasDocs) spark.emptyDataFrame
        else {
          val parsed = spark.read.json(
            materialized.filter(col("tenant") === tenant).select("doc").as[String])
          limitRecords.fold(parsed) { n =>
            if (parsed.columns.contains(timeField))
              parsed.orderBy(col(timeField).desc_nulls_last).limit(n)
            else parsed.limit(n)
          }
        }
      tenant -> FetchResult(docs, hitAcc(t).value > 0,
        hasDocs && !limitRecords.contains(0))
    }.toMap
  }

  /** One tenant's incremental fetch ([[fetchTenants]]) with its docs
    * sorted by the time field descending — the reference's page order.
    */
  def fetchDescUntil(spark: SparkSession, fetcher: DocFetcher, entity: String,
      tenant: String, timeField: String, cutoffMs: Long, nowMs: Long,
      sliceMs: Long = 86400000L, minSliceMs: Long = 3600000L,
      pageSize: Int = 500, limitRecords: Option[Int] = None,
      maxPagesPerSlice: Int = 10000): FetchResult = {
    val res = fetchTenants(spark, fetcher, entity, timeField,
      Seq(tenant -> cutoffMs), nowMs, sliceMs, minSliceMs, pageSize,
      limitRecords, maxPagesPerSlice)(tenant)
    if (limitRecords.nonEmpty || !res.docs.columns.contains(timeField)) res
    else res.copy(docs = res.docs.orderBy(col(timeField).desc_nulls_last))
  }
}
