package perfbench

import graft.pipelines.BatchRunner
import graft.sources.PagedSource
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Shape of one seeded feed. Times are epoch millis (UTC). */
final case class FeedSpec(
    seed: Long,
    tenants: Seq[String],
    customersPerTenant: Int,
    callsPerTenant: Int,
    staffPerTenant: Int,
    groupsPerTenant: Int,
    startMs: Long,
    endMs: Long,
    burstTenant: String,
    burstDayStartMs: Long,
    burstCalls: Int,
    resultWindowCap: Int,
    slotBoundaryMs: Seq[Long])

/** One generated doc version. `visibleAt` is when the API starts
  * serving it: late updates become visible up to `maxLateMs` after
  * their own time field.
  */
final case class Doc(tenant: String, id: String, ts: Long, visibleAt: Long,
    user: String, name: String, json: String)

/** A seeded Callio-shaped document universe, indexed so that a page is
  * served by binary search: docs are kept per (entity, tenant) sorted by
  * time field descending, so a window lookup is O(log n) and a page
  * copy is O(page). The API contract it mimics:
  *  - both window ends are inclusive (`fromMs <= t <= toMs`), so a doc
  *    sitting exactly on a slice boundary is served by both slices;
  *  - a page deeper than `resultWindowCap` results is refused with
  *    [[PagedSource.ResultWindowTooLarge]];
  *  - a doc is only served once the simulated clock reaches its
  *    `visibleAt`.
  */
final class Feed(val spec: FeedSpec) {
  import Feed._

  val maxLateMs: Long = 150000L

  private val rnd = new java.util.Random(spec.seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def between(lo: Long, hi: Long): Long =
    lo + (rnd.nextDouble() * (hi - lo)).toLong

  private val statuses = IndexedSeq("kết bạn zalo", "có nhu cầu", "suy nghĩ thêm",
    "không nhu cầu", "tắt máy ngang", "không nghe máy", "thuê bao", "bận", "")

  def staffIds(tenant: String): IndexedSeq[String] =
    (0 until spec.staffPerTenant).map(i => s"$tenant-u$i")
  def groupIds(tenant: String): IndexedSeq[String] =
    (0 until spec.groupsPerTenant).map(i => s"$tenant-g$i")
  def groupOf(staff: String): String = {
    val (t, i) = (staff.takeWhile(_ != '-'), staff.drop(staff.indexOf("-u") + 2).toInt)
    s"$t-g${i % spec.groupsPerTenant}"
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** A late doc (10% of customer versions) becomes visible up to
    * `maxLateMs` after its time field: inside the 180 s overlap, so the
    * next run's overlap re-read must pick it up.
    */
  private def lateness(): Long =
    if (rnd.nextInt(10) == 0) 1000L + (rnd.nextDouble() * (maxLateMs - 1000L)).toLong
    else 0L

  private def customerDocs(tenant: String): Seq[Doc] = {
    val staff = staffIds(tenant)
    (0 until spec.customersPerTenant).flatMap { i =>
      val id = s"$tenant-c$i"
      val phone = f"09${i}%08d"
      val created = between(spec.startMs - 5 * Day, spec.endMs)
      val nVersions = 1 + rnd.nextInt(3)
      var t = math.max(created, between(spec.startMs, spec.endMs))
      (0 until nVersions).flatMap { v =>
        if (v > 0) t += 3600000L + (rnd.nextDouble() * 3 * Day).toLong
        if (t > spec.endMs) None
        else {
          val user = pick(staff)
          val status = pick(statuses)
          val assigned = t - (rnd.nextDouble() * Day).toLong
          val json = s"""{"_id":"$id","updateTime":$t,"createTime":$created,""" +
            s""""assignedTime":$assigned,"name":"cust $i v$v","phone":"$phone",""" +
            s""""user":{"_id":"$user","name":"NV $user","group":{"_id":"${groupOf(user)}"}},""" +
            s""""customFields":[{"key":"tinh-trang-kh","val":"${esc(status)}"}]}"""
          Some(Doc(tenant, id, t, t + lateness(), user, s"cust $i v$v", json))
        }
      }
    }
  }

  private def callDocs(tenant: String): Seq[Doc] = {
    val staff = staffIds(tenant)
    val burst = if (tenant == spec.burstTenant) spec.burstCalls else 0
    // A few calls sit exactly on the slice boundaries of the runs, where
    // both adjacent slices serve them.
    val onBoundary = spec.slotBoundaryMs.take(spec.callsPerTenant / 100)
    val times = (0 until spec.callsPerTenant - onBoundary.size)
      .map(_ => between(spec.startMs, spec.endMs)) ++
      onBoundary ++
      (0 until burst).map(_ => between(spec.burstDayStartMs, spec.burstDayStartMs + Day))
    times.zipWithIndex.map { case (t, i) =>
      val id = s"$tenant-k$i"
      val user = pick(staff)
      val bill = if (rnd.nextInt(3) == 0) 0 else 5 + rnd.nextInt(300)
      val ring = 2000 + rnd.nextInt(20000)
      val to = f"09${rnd.nextInt(spec.customersPerTenant)}%08d"
      val json = s"""{"_id":"$id","createTime":$t,"startTime":$t,""" +
        s""""endTime":${t + ring + bill * 1000L},"billDuration":$bill,""" +
        s""""direction":"outbound","toNumber":"$to",""" +
        s""""fromUser":{"_id":"$user","name":"NV $user"},"fromGroup":{"_id":"${groupOf(user)}"}}"""
      Doc(tenant, id, t, t, user, "", json)
    }
  }

  /** Docs per (entity, tenant), time field descending. */
  val index: Map[(String, String), Array[Doc]] = spec.tenants.flatMap { t =>
    Seq(("customer", t) -> customerDocs(t).sortBy(d => -d.ts).toArray,
      ("call", t) -> callDocs(t).sortBy(d => -d.ts).toArray)
  }.toMap

  private val times: Map[(String, String), Array[Long]] =
    index.map { case (k, docs) => k -> docs.map(_.ts) }

  /** Simulated clock: docs with `visibleAt > nowMs` are not served. */
  @volatile var nowMs: Long = Long.MaxValue

  // Counters over the feed's lifetime; the harness takes deltas.
  val pages = new AtomicLong
  val docsServed = new AtomicLong
  val firstServes = new AtomicLong
  val refusals = new AtomicLong
  val sourceNanos = new AtomicLong
  private val served: Map[(String, String), java.util.BitSet] =
    index.map { case (k, _) => k -> new java.util.BitSet }

  /** First index whose time is <= `t` in a descending array. */
  private def firstAtOrBelow(ts: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= t) hi = mid else lo = mid + 1
    }
    lo
  }

  def fetchPage(entity: String, tenant: String, fromMs: Long, toMs: Long,
      page: Int, pageSize: Int): PagedSource.Page = {
    val t0 = System.nanoTime()
    try {
      if (page.toLong * pageSize > spec.resultWindowCap) {
        refusals.incrementAndGet()
        throw new PagedSource.ResultWindowTooLarge
      }
      val key = (entity, tenant)
      val docs = index.getOrElse(key, Array.empty[Doc])
      val ts = times.getOrElse(key, Array.empty[Long])
      val start = firstAtOrBelow(ts, toMs)
      val end = firstAtOrBelow(ts, fromMs - 1)
      // Only docs newer than now - maxLateMs can still be invisible;
      // everything older is served unconditionally.
      val now = nowMs
      val settled = math.max(start, math.min(end,
        if (now == Long.MaxValue) 0 else firstAtOrBelow(ts, now - maxLateMs - 1)))
      val fresh = (start until settled).filter(i => docs(i).visibleAt <= now)
      val skip = (page - 1) * pageSize
      val visible = fresh.size + (end - settled)
      val picked = (skip until math.min(visible, skip + pageSize)).map { j =>
        if (j < fresh.size) fresh(j) else settled + (j - fresh.size)
      }
      val bits = served(key)
      bits.synchronized {
        picked.foreach { i =>
          if (!bits.get(i)) { bits.set(i); firstServes.incrementAndGet() }
        }
      }
      pages.incrementAndGet()
      docsServed.addAndGet(picked.size)
      PagedSource.Page(picked.map(docs(_).json), hasNextPage = skip + pageSize < visible)
    } finally sourceNanos.addAndGet(System.nanoTime() - t0)
  }

  def register(): Long = {
    val id = nextId.incrementAndGet()
    registry.put(id, this)
    id
  }
}

object Feed {
  val Day: Long = 86400000L

  private val nextId = new AtomicLong
  // Fetchers are serialized into Spark tasks; in local mode the task
  // runs in this JVM, so a fetcher carries only the feed id.
  private val registry = new ConcurrentHashMap[Long, Feed]()
  def lookup(id: Long): Feed = registry.get(id)

  final class Fetcher(id: Long) extends PagedSource.DocFetcher {
    override def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): PagedSource.Page =
      lookup(id).fetchPage(entity, tenant, fromMs, toMs, page, pageSize)
  }

  final class Snapshots(id: Long) extends BatchRunner.SnapshotFetcher {
    override def fetchAll(spark: SparkSession, entity: String,
        tenant: String): DataFrame = {
      import scala.jdk.CollectionConverters._
      val feed = lookup(id)
      val t0 = System.nanoTime()
      val rows =
        if (entity == "staff")
          feed.staffIds(tenant).map(u => Row(u, s"NV $u",
            s"""{"_id":"${feed.groupOf(u)}"}""", Long.box(feed.spec.startMs)))
        else feed.groupIds(tenant).map(g => Row(g, s"Team $g"))
      val schema =
        if (entity == "staff") "_id STRING, name STRING, group STRING, updateTime BIGINT"
        else "_id STRING, name STRING"
      feed.sourceNanos.addAndGet(System.nanoTime() - t0)
      spark.createDataFrame(rows.toList.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    }
  }
}
