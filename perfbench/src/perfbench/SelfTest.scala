package perfbench

import graft.sources.PagedSource
import org.apache.spark.sql.Row

/** The benchmark's own tests: the pager, the tail rule and digest
  * canonicalization. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private def check(cond: Boolean, what: String): Unit =
    if (cond) println(s"ok   $what")
    else { failures += 1; println(s"FAIL $what") }

  private def tail(): Unit = {
    check(Stats.tail((1 to 83).map(_.toDouble)) == ((87, 73.0)), "tail of 83 samples is p87")
    check(Stats.tail((1 to 133).map(_.toDouble)) == ((92, 123.0)), "tail of 133 samples is p92")
    check(Stats.tail((1 to 10).map(_.toDouble)) == ((100, 10.0)), "10 samples fall back to the max")
    check(Stats.tail((1 to 11).map(_.toDouble)) == ((9, 1.0)), "11 samples leave 10 beyond the min")
    val xs = (1 to 40).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    check(xs.count(_ > v) >= 10 && xs.count(_ > Stats.tail(xs, 9)._2) >= 9,
      s"p$p of 40 samples has at least 10 beyond it")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")
    check(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0, "interval union")
  }

  private def digest(): Unit = {
    val cols = Seq("b", "a", "c")
    val rows = Seq(Row(1L, 0.5, "x"), Row(null, -0.0, null), Row(3L, Double.NaN, "é"))
    // Same vector as test_perfbench.py computes with the Python encoder.
    check(Digest.digest(cols, rows.iterator) == ((3L, "e73453826266df7a")),
      "digest matches the Python encoder")
    check(Digest.digest(cols, rows.reverseIterator) == Digest.digest(cols, rows.iterator),
      "digest ignores row order")
    check(Digest.encode(53L) != Digest.encode(53.0), "integers and floats are type-tagged")
    check(Digest.encode(53) == Digest.encode(53L), "integer widths are one type")
    check(Digest.encode(new java.math.BigDecimal("1.50")) == "d:1.50", "decimal keeps its scale")
    check(Digest.encode(java.sql.Date.valueOf("2024-03-01")) == "t:2024-03-01", "date encoding")
    check(Digest.encode(Seq[Any](1, 2.0)) == "[i:1,f:4000000000000000]", "array encoding")
  }

  private def pager(): Unit = {
    val base = EtlWorkload.spec(7L, 0.2)
    val feed = new Feed(base.copy(resultWindowCap = 1000000))
    val rnd = new java.util.Random(1)
    var agree = true
    for (_ <- 1 to 300) {
      val tenant = EtlWorkload.Tenants(rnd.nextInt(2))
      val entity = if (rnd.nextBoolean()) "call" else "customer"
      val now = base.startMs + (rnd.nextDouble() * (base.endMs - base.startMs)).toLong
      feed.nowMs = now
      val to = now - (rnd.nextDouble() * 3 * Feed.Day).toLong
      val from = to - (rnd.nextDouble() * 2 * Feed.Day).toLong
      val size = 1 + rnd.nextInt(40)
      val page = 1 + rnd.nextInt(4)
      val all = feed.index((entity, tenant))
        .filter(d => d.ts >= from && d.ts <= to && d.visibleAt <= now).map(_.json).toSeq
      val want = all.slice((page - 1) * size, page * size)
      val got = feed.fetchPage(entity, tenant, from, to, page, size)
      agree &&= got.docs == want && got.hasNextPage == (page * size < all.size)
    }
    check(agree, "binary-search pages equal a brute-force filter (inclusive ends, visibility)")
    val capped = new Feed(base.copy(resultWindowCap = 1000))
    val refused =
      try { capped.fetchPage("call", "PK", 0L, Long.MaxValue, 3, 500); false }
      catch { case _: PagedSource.ResultWindowTooLarge => true }
    check(refused && capped.refusals.get == 1, "pages past the result window are refused")
    val full = new Feed(EtlWorkload.spec(7L, 1.0))
    val burstDay = full.index(("call", "PK"))
      .count(d => d.ts >= full.spec.burstDayStartMs && d.ts < full.spec.burstDayStartMs + Feed.Day)
    check(burstDay / 2 > full.spec.resultWindowCap,
      s"the burst day ($burstDay calls) overflows the result window in a 24 h slice")
    val lateOnes = full.index(("customer", "PK")).count(d => d.visibleAt > d.ts)
    check(lateOnes > 0 && full.index(("customer", "PK")).forall(d => d.visibleAt - d.ts < 180000L),
      "late customer versions exist and stay inside the 180 s overlap")
  }

  def main(args: Array[String]): Unit = {
    tail()
    digest()
    pager()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
