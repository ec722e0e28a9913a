package perfbench

import graft.incremental.Scheduler
import graft.pipelines.BatchRunner
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable

/** The ETL workload: `BatchRunner` driven over a seeded [[Feed]] with the
  * reference's operating envelope (500-row pages, 24 h slices with a 1 h
  * minimum, 180 s overlap, 30-day cold backfill, the five daily
  * `Scheduler.defaultRunTimes` slots, staff/group once per simulated
  * day). One client, closed loop.
  *
  * A run is: feed generation (three times, median kept) → cold
  * backfill (bootstrap, customer, call, staff/group, first reporting
  * refresh; timed, and also the JVM's warm-up, so it counts in set-up) →
  * measured region: incremental cycles (customer + call [+ staff/group
  * on a new day] + reporting refresh) at successive slots until
  * `--seconds` have elapsed, at least [[MinCycles]] → output checks
  * against the generator's own truth.
  */
object EtlWorkload {

  /** The backfill runs at the first slot of a day; cycles follow at 04:00,
    * 06:00, 08:00, 11:00 and, on the next day, 02:30 (15.5 h of new data
    * and the day's staff/group snapshot).
    */
  val Anchor: Long = Instant.parse("2024-03-01T02:30:00Z").toEpochMilli
  val Tenants = Seq("PK", "HN")
  val MinCycles = 2
  val MaxCycles = 20
  val Day: Long = Feed.Day

  def slotsAfter(t: Long, n: Int): Seq[Long] =
    Iterator.iterate(t)(s => Scheduler.nextScheduled(Instant.ofEpochMilli(s),
      Scheduler.defaultRunTimes).toEpochMilli).slice(1, n + 1).toSeq

  /** The feed at `scale` 1: ~15k doc versions and ~11k calls over 35
    * days, two tenants, and one burst day with three times the result
    * window of calls for tenant PK.
    */
  def spec(seed: Long, scale: Double): FeedSpec = {
    val cap = 1000
    FeedSpec(seed, Tenants,
      customersPerTenant = (2500 * scale).toInt,
      callsPerTenant = (4000 * scale).toInt,
      staffPerTenant = 12, groupsPerTenant = 3,
      startMs = Anchor - 31 * Day,
      endMs = Anchor + (MaxCycles / 5 + 1) * Day,
      burstTenant = "PK",
      burstDayStartMs = Anchor - 10 * Day - 7 * 3600000L,
      burstCalls = (3 * cap * scale).toInt,
      resultWindowCap = cap,
      slotBoundaryMs = (1 to 29).map(k => Anchor - k * Day) ++ slotsAfter(Anchor, MaxCycles))
  }

  def vn7(ms: Long): LocalDate = Instant.ofEpochMilli(ms).atZone(ZoneOffset.ofHours(7)).toLocalDate
  def utc(ms: Long): LocalDate = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate

  /** Phase name -> raw seconds. */
  type Phases = mutable.LinkedHashMap[String, Double]

  /** One backfill or cycle, timed phase by phase. */
  private def step(ctx: RunContext, speed: Speed, runner: BatchRunner, feed: Feed, now: Long,
      staffGroup: Boolean, bootstrap: Boolean): Phases = {
    val tr = ctx.tracer
    val ph: Phases = mutable.LinkedHashMap.empty
    def phase(name: String)(body: => Unit): Unit = ph(name) = speed.timed(tr.span(name, name)(body))._2
    feed.nowMs = now
    if (bootstrap) phase("warm")(runner.bootstrap())
    phase("customer")(runner.runCustomer(now))
    phase("call")(runner.runCall(now))
    if (staffGroup) phase("staffgroup")(runner.runStaffGroup())
    phase("report")(runner.refreshReporting(vn7(now)))
    ph
  }

  private def newRunner(ctx: RunContext, feed: Feed, warehouse: String): BatchRunner = {
    val id = feed.register()
    new BatchRunner(ctx.spark, new Feed.Fetcher(id), new Feed.Snapshots(id),
      BatchRunner.Config(warehouse, Tenants))
  }

  /** Parquet files and bytes under a directory. */
  def diskUsage(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var files = 0L
        var bytes = 0L
        s.iterator().forEachRemaining { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            bytes += java.nio.file.Files.size(p)
            if (p.getFileName.toString.endsWith(".parquet")) files += 1
          }
        }
        (files, bytes)
      } finally s.close()
    }
  }

  def run(ctx: RunContext, out: Outcome, processStart: Double): Unit = {
    val tr = ctx.tracer

    // Set-up: the feed, then the cold backfill.
    var feed: Feed = null
    val gens = (1 to 3).map { _ =>
      val t = System.nanoTime()
      feed = new Feed(spec(ctx.seed, 1.0))
      (System.nanoTime() - t) / 1e9
    }
    val warehouse = s"${ctx.runDir}/warehouse"
    val runner = newRunner(ctx, feed, warehouse)
    val speed = new Speed(ctx.cores, ctx.tracer)
    tr.attach()
    def attempt[T](body: => T): Option[T] = {
      out.attempted += 1
      try Some(body) catch {
        case e: Exception =>
          e.printStackTrace()
          out.failed += 1
          out.fail(s"ETL step threw $e")
          None
      }
    }
    val (backfill, _) = tr.span("backfill", "backfill") {
      attempt(step(ctx, speed, runner, feed, Anchor, staffGroup = true, bootstrap = true))
    }
    val filesAfterBackfill = diskUsage(warehouse)._1
    val setupRaw = (tr.now() - processStart) / 1000.0 - gens.sum + Stats.median(gens)

    // Measured region.
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val cycles = mutable.ArrayBuffer.empty[(Long, Phases)]
    var slot = Anchor
    var staffDay = utc(Anchor)
    var broken = backfill.isEmpty
    while (!broken && (cycles.size < MinCycles ||
        (System.nanoTime() < deadline && cycles.size < MaxCycles))) {
      slot = slotsAfter(slot, 1).head
      val newDay = utc(slot) != staffDay
      if (newDay) staffDay = utc(slot)
      val (ph, _) = tr.span("cycle", s"${cycles.size}@$slot") {
        attempt(step(ctx, speed, runner, feed, slot, newDay, bootstrap = false))
      }
      ph match {
        case Some(p) => cycles += ((slot, p))
        case None => broken = true
      }
    }
    speed.mark()
    tr.drain()
    val lastNow = slot

    val f = speed.factor
    out.endToEnd("setup_s") = (setupRaw * f, "s")
    val walls = cycles.map(_._2.values.sum * f).toSeq
    backfill.foreach(b => out.endToEnd("pass_s") = (b.values.sum * f, "s"))
    if (walls.nonEmpty) {
      val (pct, tail) = Stats.tail(walls)
      out.endToEnd("p50_s") = (Stats.median(walls), "s")
      out.endToEnd("geomean_s") = (Stats.geomean(walls), "s")
      out.endToEnd("tail_s") = (tail, "s")
      out.detail("tail_percentile") = pct
      out.detail("tail_samples") = walls.size
    }
    out.detail("raw_setup_s") = setupRaw
    out.detail("raw_cycles") = cycles.map { case (s, p) =>
      Json.obj("slot" -> Instant.ofEpochMilli(s).toString, "s" -> p.values.sum, "phases" -> p)
    }
    out.detail("raw_backfill") = backfill.map(b => Json.obj("s" -> b.values.sum, "phases" -> b))
    out.detail("calibration_s") = speed.samples

    val (files, bytes) = diskUsage(warehouse)
    val served = feed.docsServed.get.toDouble
    if (tr.enabled) {
      val ops = tr.spans.filter(s => s.name == "backfill" || s.name == "cycle").toSeq
      Layers.compute(tr, ops, speed.intervals.toSeq, ctx.cores, 1.0, out)
      val coverage = out.perLayer("trace.coverage")._1
      if (coverage < 0.9)
        out.fail(f"trace: spans and jobs cover only $coverage%.3f of a cycle's wall time")
      etlLayers(ctx, out, feed, cycles.toSeq, backfill, files, filesAfterBackfill, bytes,
        served, warehouse, lastNow)
    }
    tr.detach()

    // Output checks, outside the measured region.
    if (!broken) check(ctx, out, feed, lastNow, warehouse)
  }

  private def etlLayers(ctx: RunContext, out: Outcome, feed: Feed,
      cycles: Seq[(Long, Phases)], backfill: Option[Phases], files: Long,
      filesAfterBackfill: Long, bytes: Long, served: Double, warehouse: String,
      lastNow: Long): Unit = {
    val tr = ctx.tracer
    def put(n: String, v: Double, u: String) = out.perLayer(n) = (v, u)
    put("fetch.pages", feed.pages.get.toDouble, "count")
    put("fetch.docs", served, "count")
    put("fetch.refusals", feed.refusals.get.toDouble, "count")
    put("fetch.reread_ratio",
      if (feed.firstServes.get > 0) served / feed.firstServes.get else 0.0, "ratio")
    put("fetch.source_s", feed.sourceNanos.get / 1e9, "s")
    put("storage.files", files.toDouble, "count")
    put("storage.mb", bytes / 1048576.0, "MB")
    put("storage.files_per_cycle",
      if (cycles.nonEmpty) (files - filesAfterBackfill).toDouble / cycles.size else 0.0, "count")
    put("storage.bytes_per_doc", if (served > 0) bytes / served else 0.0, "B")
    val ops = tr.spans.filter(s => s.name == "backfill" || s.name == "cycle").toSeq
    val jobs = Layers.inside(tr, ops)
    val upserts = jobs.filter(_.layer == "upsert")
    put("upsert.rows_written", upserts.map(_.recordsWritten).sum.toDouble, "count")
    val customerSpans = tr.spans.filter(_.name == "customer").toSeq
    val customerUpserts = Layers.inside(tr, customerSpans).filter(_.layer == "upsert")
    val spark = ctx.spark
    import org.apache.spark.sql.functions._
    val log = spark.read.parquet(s"$warehouse/update_log")
    val staged = log.filter(col("table_name") === "customer" && col("mode") === "STAGED")
      .agg(sum("rows_loaded")).head()
    val stagedRows = if (staged.isNullAt(0)) 0L else staged.getLong(0)
    put("upsert.write_amp",
      if (stagedRows > 0) customerUpserts.map(_.recordsWritten).sum.toDouble / stagedRows
      else 0.0, "ratio")
    put("audit.rows", log.count().toDouble, "count")
    put("incremental.warm_s", backfill.flatMap(_.get("warm")).getOrElse(0.0), "s")
    def med(name: String) = {
      val xs = cycles.flatMap(_._2.get(name))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq("customer", "call", "staffgroup", "report").foreach(n => put(s"runner.${n}_s", med(n), "s"))
    val reports = cycles.flatMap(_._2.get("report"))
    put("runner.report_slope_s", slope(reports), "s")
    put("etl.cycles", cycles.size.toDouble, "count")
    // Overhead probe: the call feed re-read at the last slot. It finds
    // nothing new, so it only adds NOOP audit rows (counted above).
    val probe = newRunner(ctx, feed, warehouse)
    probe.bootstrap()
    put("trace.overhead", tr.overhead(probe.runCall(lastNow)), "ratio")
  }

  /** Least-squares slope of `ys` against their index. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      ys.indices.map(i => (i - mx) * (ys(i) - my)).sum / ys.indices.map(i => (i - mx) * (i - mx)).sum
    }

  /** The warehouse against the generator's own truth. */
  private def check(ctx: RunContext, out: Outcome, feed: Feed, lastNow: Long,
      warehouse: String): Unit = {
    val spark = ctx.spark
    val cutoff0 = Anchor - 30 * Day
    def docs(entity: String) = Tenants.flatMap(t => feed.index((entity, t)).toSeq)

    // call_log holds exactly the generated calls in (first cutoff, last now], each once.
    val calls = docs("call").filter(d => d.ts > cutoff0 && d.ts <= lastNow)
    val logged = spark.read.parquet(s"$warehouse/call_log").select("tenant", "_id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val expected = calls.map(d => (d.tenant, d.id)).toSet
    if (logged.length != logged.distinct.length)
      out.fail(s"call_log: ${logged.length - logged.distinct.length} duplicate rows")
    if (logged.toSet != expected)
      out.fail(s"call_log: ${(expected -- logged).size} calls missing, " +
        s"${(logged.toSet -- expected).size} unexpected")

    // Newest customer row per (tenant, _id) is the latest visible version.
    val truth = docs("customer").filter(d => d.ts > cutoff0 && d.visibleAt <= lastNow)
      .groupBy(d => (d.tenant, d.id)).map { case (k, vs) => k -> vs.maxBy(_.ts) }
    val rows = spark.read.parquet(s"$warehouse/customer")
      .select("tenant", "_id", "updateTime", "name", "NgayUpdate").collect()
    val newest = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.maxBy(_.getLong(2)) }
    if (newest.keySet != truth.keySet)
      out.fail(s"customer: ${(truth.keySet -- newest.keySet).size} ids missing, " +
        s"${(newest.keySet -- truth.keySet).size} unexpected")
    val stale = truth.count { case (k, d) =>
      newest.get(k).exists(r => r.getLong(2) != d.ts || r.getString(3) != d.name)
    }
    if (stale > 0) out.fail(s"customer: $stale ids whose newest row is not the latest version")
    val dupes = rows.groupBy(r => (r.getString(0), r.getString(1), r.get(4))).count(_._2.length > 1)
    if (dupes > 0) out.fail(s"customer: $dupes (tenant, _id) repeated within one NgayUpdate")
    // Kept visible, not asserted: the partition-range MERGE keeps an old
    // partition's row when an id is re-versioned on a later UTC day.
    out.detail("customer_rows") = rows.length
    out.detail("customer_ids") = newest.size

    // The last window's TongCuoc per (Ngay, MaNV_id) equals the calls the
    // generator made: tenant PK, UTC day in the window, grouped by VN7 day.
    val hi = vn7(lastNow)
    val lo = hi.minusDays(7)
    val counts = calls.filter(d => d.tenant == "PK" && {
      val day = utc(d.ts); !day.isBefore(lo) && !day.isAfter(hi)
    }).groupBy(d => (vn7(d.ts).toString, d.user)).map { case (k, v) => k -> v.size.toLong }
    val fact = spark.read.parquet(s"$warehouse/fact_staff_daily")
      .select("Ngay", "MaNV_id", "TongCuoc").collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val wrong = counts.count { case (k, n) => !fact.get(k).contains(n) }
    if (wrong > 0) out.fail(s"fact_staff_daily: $wrong of ${counts.size} (Ngay, MaNV_id) TongCuoc differ")
    out.detail("checked") = Json.obj("calls" -> expected.size, "customers" -> truth.size,
      "fact_keys" -> counts.size)
  }
}
