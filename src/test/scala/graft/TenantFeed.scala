package graft

import graft.sources.PagedSource.{DocFetcher, Page, ResultWindowTooLarge}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Tenant-aware fixture feed: each tenant is served by its own fetcher,
  * so ids may collide across tenants and each tenant may have its own
  * doc shapes and refusals. Every page request is counted under
  * `counter` in [[TenantFeed.pages]] — a static counter, which tasks
  * reach in local mode because they run in this JVM.
  */
class TenantFeed(feeds: Map[String, DocFetcher], counter: String)
    extends DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    TenantFeed.pages.computeIfAbsent(counter, _ => new AtomicLong).incrementAndGet()
    feeds(tenant).fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
  }
}

object TenantFeed {
  val pages = new ConcurrentHashMap[String, AtomicLong]()
  def served(counter: String): Long =
    Option(pages.get(counter)).map(_.get).getOrElse(0L)
}

/** Serves `inner`'s docs with their `customFields` array removed — a
  * tenant whose API payloads lack the field altogether.
  */
class WithoutCustomFields(inner: DocFetcher) extends DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    val p = inner.fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
    p.copy(docs = p.docs.map(_.replaceAll(""","customFields":\[[^\]]*\]""", "")))
  }
}

/** Refuses every window wider than `limitMs` with the result-window
  * error, like a backend whose page depth is capped; narrower windows
  * are served by `inner`.
  */
class RefusingWide(inner: DocFetcher, limitMs: Long) extends DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page =
    if (toMs - fromMs > limitMs) throw new ResultWindowTooLarge
    else inner.fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
}
