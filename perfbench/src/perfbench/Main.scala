package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload needs for one run. `root` is the checkout the
  * benchmark runs from; `runDir` is this run's fresh scratch directory.
  */
final case class RunContext(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    root: String,
    runDir: String,
    cores: Int,
    tracer: Tracer)

/** What a workload reports. `metrics` hold name -> (value, unit); the
  * side file gets `detail` plus the per-layer numbers.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }
  def correct: Boolean = problems.isEmpty && failed == 0
}

/** Entry point: `perfbench.Main <mode> key=value...`.
  *
  * Modes: `run` (one benchmark run), `golden` (write the expected
  * query outputs for a query workload), `oracle-sql` (dump the DuckDB
  * oracle SQL of the benchmark's queries), `selftest` (the benchmark's
  * own tests).
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("run")
    val kv = argv.drop(1).map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    mode match {
      case "selftest" => SelfTest.main(Array.empty)
      case "oracle-sql" => QueryWorkload.dumpOracle(kv("out"))
      case _ => run(mode, kv)
    }
  }

  private def readLoad(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "" }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Throwable => Double.NaN }

  private def run(mode: String, kv: Map[String, String]): Unit = {
    val processStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadStart = readLoad()
    val workload = kv("workload")
    val cores = kv("cores").toInt
    val spark = graft.Engine.local(cores)
    val trace = kv.get("trace").contains("1")
    val ctx = RunContext(spark, workload, kv("seed").toLong, kv("seconds").toInt,
      trace, kv("root"), kv("run_dir"), cores, new Tracer(spark, trace))
    val outcome = new Outcome
    outcome.detail("session_s") = (System.currentTimeMillis() - processStart) / 1000.0
    try {
      mode match {
        case "golden" => QueryWorkload.writeGolden(ctx, kv("out"))
        case _ =>
          workload match {
            case "etl_cycle" => EtlWorkload.run(ctx, outcome, processStart)
            case "query_mixed" => QueryWorkload.run(ctx, outcome, processStart)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        outcome.failed += 1
        outcome.attempted = math.max(outcome.attempted, 1L)
        outcome.fail(s"run aborted: $e")
    }
    if (mode == "golden") { spark.stop(); return }
    outcome.endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
    val metrics = if (trace) Layers.complete(outcome) else outcome.endToEnd.toSeq
    val hygiene = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores, "loadavg_start" -> loadStart, "loadavg_end" -> readLoad(),
      "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> spark.version, "commit" -> kv.getOrElse("commit", "unknown"),
      "source_digest" -> kv.getOrElse("source_digest", "unknown"),
      "run_dir" -> ctx.runDir)
    val side = Json.obj(
      "hygiene" -> hygiene,
      "correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "problems" -> outcome.problems,
      "end_to_end" -> outcome.endToEnd.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "per_layer" -> outcome.perLayer.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "detail" -> outcome.detail,
      "spans" -> ctx.tracer.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "key" -> s.key, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> ctx.tracer.selfTime(s))))
    kv.get("side").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        Json.write(side).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    println(Json.write(Json.obj(
      "correct" -> outcome.correct,
      "attempted" -> math.max(outcome.attempted, 1L),
      "failed" -> outcome.failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))))
  }
}
