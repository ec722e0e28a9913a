package perfbench

import graft.QueryDef
import org.apache.spark.sql.DataFrame

/** The query workload: a fixed subset of the registered [[QueryDef]]s
  * over the fixture tables in `perfbench/data`, each executed as
  * `QueryDef.fn` (plan build, including any eager jobs) followed by a
  * noop-sink write that consumes every output column. One client, closed
  * loop: the next query starts when the previous one returns.
  *
  * A run is: warm-up pass (every query once, results collected and
  * checked against `perfbench/golden`, counted in set-up) → measured
  * passes in a seed-permuted order until `--seconds` have elapsed, whole
  * passes only, so every query has the same number of samples; a query's
  * time is its fastest pass → (traced runs) an untraced/traced overhead
  * probe.
  */
object QueryWorkload {

  val dataDir = "perfbench/data/sf0.01"

  /** The measured subset, fixed when the benchmark was defined. From the
    * SQL surface (`queries.Relational`, `Scalars`, `Advanced`,
    * `PipelineOps`): the queries at the 10th, 30th, 50th, 70th and 90th
    * percentile of warm wall time on the fixture data. From the operator
    * modules (`TextOps`, `DedupOps`, `SimilarityOps`, `MultimodalOps`):
    * one query near the 10th, 70th and 90th percentile, each from a
    * different module. A whole module set does not fit the run budget;
    * see perfbench/README.md.
    */
  val relational: Seq[String] = Seq("q10_date_tz", "q05_window_dedup",
    "q04_join_full_outer", "q151_cdc_apply", "q199_kmv_setops")
  val operators: Seq[String] = Seq("q31_minhash_sig", "q121_edit_verify", "q88_sq8_recall")

  def registry: Seq[QueryDef] =
    graft.queries.Relational.defs ++ graft.queries.Scalars.defs ++
      graft.queries.Advanced.defs ++ graft.queries.PipelineOps.defs ++
      graft.queries.TextOps.defs ++ graft.queries.DedupOps.defs ++
      graft.queries.SimilarityOps.defs ++ graft.queries.MultimodalOps.defs

  def defs: Seq[QueryDef] = {
    val byName = registry.map(d => d.name -> d).toMap
    (relational ++ operators).map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no query named $n")))
  }

  final case class Expected(rows: Long, digest: String, oracle: Boolean)

  def goldenPath(root: String, workload: String) = s"$root/perfbench/golden/$workload.json"

  def readGolden(path: String): Map[String, Expected] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    val it = node.fields()
    val out = Map.newBuilder[String, Expected]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      out += e.getKey -> Expected(v.get("rows").asLong(), v.get("digest").asText(),
        v.get("oracle").asBoolean())
    }
    out.result()
  }

  private def collectDigest(ctx: RunContext, d: QueryDef): (Long, String) =
    Digest.of(d.fn(ctx.spark, s"${ctx.root}/$dataDir"))

  /** Expected outputs at this commit, verified against DuckDB by
    * `perfbench/oracle_check.py`.
    */
  def writeGolden(ctx: RunContext, out: String): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val qs = defs.map { d =>
      val (rows, digest) = collectDigest(ctx, d)
      d.name -> Json.obj("rows" -> rows, "digest" -> digest,
        "oracle" -> oracles.contains(d.name))
    }
    val doc = Json.obj("workload" -> ctx.workload, "data" -> dataDir,
      "queries" -> Json.obj(qs: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json.write(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Oracle SQL of every benchmark query, for `oracle_check.py`. */
  def dumpOracle(out: String): Unit = {
    val all = graft.SparkEntry.oracleSql
    val names = (relational ++ operators).toSet
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json.write(Json.obj(all.toSeq.filter(x => names(x._1)).sortBy(_._1): _*))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def run(ctx: RunContext, out: Outcome, processStart: Double): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.root}/$dataDir"
    val all = defs
    val golden = readGolden(goldenPath(ctx.root, ctx.workload))
    val tr = ctx.tracer

    // Set-up: read each table's footer (three times, median kept), then
    // the warm-up pass, which is also the output check.
    val speed = new Speed(ctx.cores, ctx.tracer)
    val loads = (1 to 3).map(_ => speed.timed {
      graft.Tables.all.foreach(n => graft.Tables.table(spark, dir, n).schema)
    }._2)
    all.foreach { d =>
      out.attempted += 1
      try {
        val ((rows, digest), _) = speed.timed(collectDigest(ctx, d))
        golden.get(d.name) match {
          case None => out.fail(s"${d.name}: no golden entry")
          case Some(e) =>
            if (e.rows != rows) out.fail(s"${d.name}: rows $rows, expected ${e.rows}")
            else if (e.oracle && e.digest != digest)
              out.fail(s"${d.name}: digest $digest, expected ${e.digest}")
        }
      } catch {
        case ex: Exception =>
          out.failed += 1
          out.fail(s"${d.name}: warm-up threw $ex")
      }
    }
    val setupRaw = (tr.now() - processStart) / 1000.0 - loads.sum + Stats.median(loads)

    // Measured region.
    val order = new scala.util.Random(ctx.seed).shuffle(all)
    val samples = scala.collection.mutable.LinkedHashMap(all.map(_.name -> List.empty[Double]): _*)
    // Each visit starts from a collected heap, so the garbage the previous
    // query left behind (which depends on the seed's order) is not billed
    // to this one.
    def visit(d: QueryDef): Unit = {
      out.attempted += 1
      System.gc()
      try {
        val (_, raw) = speed.timed(tr.span("query", d.name) {
          val (df, _) = tr.span("build", d.name)(d.fn(spark, dir))
          tr.span("exec", d.name)(df.write.format("noop").mode("overwrite").save())
        })
        samples(d.name) = raw :: samples(d.name)
      } catch {
        case ex: Exception =>
          out.failed += 1
          out.fail(s"${d.name}: measured run threw $ex")
      }
    }
    tr.attach()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (i % order.size != 0 || i == 0 || System.nanoTime() < deadline) {
      visit(order(i % order.size))
      i += 1
    }
    speed.mark()
    val passes = i.toDouble / order.size
    tr.drain()
    val f = speed.factor
    out.endToEnd("setup_s") = (setupRaw * f, "s")
    // A query's time is its fastest pass, as in graft.Bench: one pass
    // slowed by load cannot poison it.
    val raws = samples.collect { case (n, xs) if xs.nonEmpty => n -> xs.min }
    val measured = raws.map { case (n, x) => n -> x * f }
    val walls = measured.values.toSeq
    if (walls.nonEmpty) {
      val (pct, tail) = Stats.tail(walls)
      out.endToEnd("pass_s") = (walls.sum, "s")
      out.endToEnd("p50_s") = (Stats.median(walls), "s")
      out.endToEnd("geomean_s") = (Stats.geomean(walls), "s")
      out.endToEnd("tail_s") = (tail, "s")
      out.detail("tail_percentile") = pct
      out.detail("tail_samples") = walls.size
    }
    out.detail("visits") = i
    out.detail("passes") = passes
    out.detail("per_query_s") = measured
    out.detail("raw_setup_s") = setupRaw
    out.detail("raw_per_query_s") = raws
    out.detail("calibration_s") = speed.samples
    out.detail("order") = order.map(_.name)

    if (tr.enabled) {
      val opSpans = tr.spans.filter(_.name == "query").toSeq
      Layers.compute(tr, opSpans, speed.intervals.toSeq, ctx.cores, passes, out)
      val builds = tr.spans.filter(_.name == "build").map(_.length).sum / 1000.0
      val execs = tr.spans.filter(_.name == "exec").map(_.length).sum / 1000.0
      def part(names: Seq[String]) = names.flatMap(raws.get).sum
      out.perLayer("queries.relational_s") = (part(relational), "s")
      out.perLayer("queries.operators_s") = (part(operators), "s")
      out.perLayer("queries.build_s") = (builds / passes, "s")
      out.perLayer("queries.exec_s") = (execs / passes, "s")
      // Overhead probe: the first three queries of the pass, after the region.
      out.perLayer("trace.overhead") = (tr.overhead(order.take(3).foreach { d =>
        d.fn(spark, dir).write.format("noop").mode("overwrite").save()
      }), "ratio")
    }
    tr.detach()
  }


}
