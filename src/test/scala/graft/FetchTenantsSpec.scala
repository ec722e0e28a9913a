package graft

import graft.sources.{FixtureSources, PagedSource}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[PagedSource.fetchTenants]]: every tenant of an entity in one plan,
  * fetched once, each tenant's schema inferred on its own.
  */
class FetchTenantsSpec extends SparkSpec {

  // 2024-01-10T00:00:00Z; fixture docs one a minute from here.
  private val T0 = 1704844800000L
  private val Now = T0 + 120 * 60000L
  private val Cutoff = T0 - 1
  private val SliceMs = 1800000L
  private val PageSize = 7

  /** PK: 120 docs; HN: 45 docs without `customFields`, ids colliding
    * with PK's; DN: no docs.
    */
  private def feed(counter: String) = new TenantFeed(Map(
    "PK" -> new FixtureSources.Paged(T0, 120, version = 1),
    "HN" -> new WithoutCustomFields(new FixtureSources.Paged(T0, 45, version = 1)),
    "DN" -> new FixtureSources.Paged(T0, 0, version = 1)), counter)

  private def fetch(tenants: Seq[String], counter: String,
      limit: Option[Int] = None) =
    PagedSource.fetchTenants(spark, feed(counter), "customer", "updateTime",
      tenants.map(_ -> Cutoff), Now, sliceMs = SliceMs, pageSize = PageSize,
      limitRecords = limit)

  /** Pages one fetch of a tenant with `n` fixture docs requests: each
    * slice pages through its docs, and an empty slice still costs one.
    */
  private def pagesOnce(n: Int): Long =
    PagedSource.planSlices(Cutoff, Now, SliceMs).map { case (from, to) =>
      val k = (0 until n).count { i => val ts = T0 + i * 60000L; ts >= from && ts < to }
      math.max(1, (k + PageSize - 1) / PageSize).toLong
    }.sum

  /** Jobs started while `body` runs, counted by a SparkListener. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusSync(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusSync(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("every page is requested once, however often the docs are consumed") {
    val res = fetch(Seq("PK", "HN", "DN"), "fetch-once")
    val served = pagesOnce(120) + pagesOnce(45) + pagesOnce(0)
    assert(TenantFeed.served("fetch-once") == served)
    res.values.foreach { r => r.docs.count(); r.docs.collect() }
    assert(TenantFeed.served("fetch-once") == served, "consuming docs re-ran the fetch")
    // Colliding ids survive per tenant; the empty tenant is flagged.
    assert(res("PK").docs.count() == 120 && res("HN").docs.count() == 45)
    assert(res("PK").hasDocs && res("HN").hasDocs && !res("DN").hasDocs)
    assert(res("DN").docs.isEmpty)
    assert(res.values.forall(!_.hitResultWindowLimit))
  }

  test("the fetch costs 2 jobs plus one per tenant with docs") {
    assert(jobsDuring(fetch(Seq("PK"), "jobs")) == 3)
    assert(jobsDuring(fetch(Seq("PK", "HN", "DN"), "jobs")) == 4)
    assert(jobsDuring(fetch(Seq("DN"), "jobs")) == 2)
  }

  test("each tenant's schema is inferred from its own docs") {
    val res = fetch(Seq("PK", "HN"), "schema")
    assert(res("PK").docs.columns.contains("customFields"))
    assert(!res("HN").docs.columns.contains("customFields"),
      "one tenant's doc shapes leaked into another's columns")
    assert(res("PK").docs.schema("_id") == res("HN").docs.schema("_id"))
  }

  test("result-window flags and limits are per tenant") {
    val f = new TenantFeed(Map(
      "PK" -> new FixtureSources.Paged(T0, 120, version = 1),
      "HN" -> new RefusingWide(new FixtureSources.Paged(T0, 60, version = 1), 900000L)),
      "flags")
    val res = PagedSource.fetchTenants(spark, f, "customer", "updateTime",
      Seq("PK" -> Cutoff, "HN" -> Cutoff), Now, sliceMs = SliceMs,
      minSliceMs = 600000L, pageSize = PageSize, limitRecords = Some(5))
    assert(!res("PK").hitResultWindowLimit && res("HN").hitResultWindowLimit)
    // Newest 5 per tenant, the refused tenant's split slices included.
    def times(t: String) = res(t).docs.collect().map(_.getAs[Long]("updateTime")).toSeq
    assert(times("PK") == (115 to 119).reverse.map(i => T0 + i * 60000L))
    assert(times("HN") == (55 to 59).reverse.map(i => T0 + i * 60000L))
  }
}
