package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds the engine's SparkSession with the
  * configuration contract every entrypoint (Verify, Bench, tests)
  * shares. Keeping this centralized means a scale-tuning change (AQE,
  * shuffle partitions, partition-overwrite mode) applies everywhere.
  */
object Engine {

  /** Engine extensions: native codegen'd expressions registered as SQL
    * functions (callable via `call_function` / `expr` / plain SQL).
    */
  def extensions(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    // Loop-shape parameters (hash counts, gram widths, bit widths)
    // parameterize the generated code, not the data path, so they must
    // be compile-time constants.
    def litInt(fn: String)(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
        // Route non-integral literals (1.5, 'abc') through the same
        // message instead of leaking a raw NumberFormatException.
        v match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long if l.longValue().isValidInt => l.intValue()
          case s: java.lang.Short => s.intValue()
          case b: java.lang.Byte => b.intValue()
          case other => throw new IllegalArgumentException(
            s"$fn: $name must be an integer literal, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $other")
    }
    // Whole-operator plan: grouped top-k via bounded heaps
    // (logical node graft.plans.TopKPerGroup → physical TopKPerGroupExec).
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CosineSimilarity].getName,
        "cosine_sim"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_exact"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DotProductExact].getName,
        "dot_exact"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DotProductExact(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.MinHashSignature].getName,
        "minhash_sig"),
      (children: Seq[Expression]) => {
        val p = litInt("minhash_sig") _
        graft.functions.expressions.MinHashSignature(
          children(0), p(children(1), "k"), p(children(2), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("ngram_stats"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.NgramStats].getName,
        "ngram_stats"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.NgramStats(
          children(0), litInt("ngram_stats")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DotProduct].getName,
        "dot_product"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("fwht"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.Fwht].getName,
        "fwht"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.Fwht(children(0))))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WordShingles].getName,
        "word_shingles"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.WordShingles(
          children(0), litInt("word_shingles")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WinnowFingerprints].getName,
        "winnow_fp"),
      (children: Seq[Expression]) => {
        val p = litInt("winnow_fp") _
        graft.functions.expressions.WinnowFingerprints(
          children(0), p(children(1), "k"), p(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.NfcNormalize].getName,
        "nfc"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.NfcNormalize(children(0))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.JaroWinkler].getName,
        "jaro_winkler"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.JaroWinkler(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("winnow_fp_pos"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WinnowFingerprintPositions].getName,
        "winnow_fp_pos"),
      (children: Seq[Expression]) => {
        val p = litInt("winnow_fp_pos") _
        graft.functions.expressions.WinnowFingerprintPositions(
          children(0), p(children(1), "k"), p(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.SimHashBits].getName,
        "simhash"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.SimHashBits(
          children(0), litInt("simhash")(children(1), "bits"))))
    ext.injectFunction((
      FunctionIdentifier("char_ngram_stats"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CharNgramStats].getName,
        "char_ngram_stats"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.CharNgramStats(
          children(0), litInt("char_ngram_stats")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("deflate_len"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DeflateLen].getName,
        "deflate_len"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DeflateLen(children(0))))
  }

  /** The engine's session builder: engine defaults, applied on top of
    * the master/cores choice.
    *
    *  - non-ANSI: the reference's SAFE_CAST / pandas-coercion semantics
    *    (reference runner.py:171, api.py:109-127) are permissive.
    *  - AQE on: runtime coalescing + skew-join splitting is the 100 TB
    *    answer to skewed keys (SURVEY.md §4).
    *  - dynamic partition overwrite: the MERGE rewrite path
    *    ([[operators.Upsert.applyToPartitionedParquet]]) must replace only
    *    the partitions it touched.
    *  - nanosAsLong: the fixture `events` table carries parquet
    *    TIMESTAMP(NANOS), which Spark's reader otherwise rejects
    *    (PARQUET_TYPE_ILLEGAL); we read the raw int64 and convert in
    *    [[Tables.table]].
    *  - codegen cache sized to the working set: one steady incremental
    *    ETL cycle (customer + call + reporting refresh over two tenants)
    *    compiles about 300 distinct generated classes (297-313 measured
    *    per cycle with `CodegenMetrics`). Spark's default cache holds
    *    100, so every cycle evicted the previous cycle's classes before
    *    reusing them and recompiled all of them. 512 holds a cycle with
    *    headroom; a larger cache only keeps more rarely reused classes
    *    loaded, which costs resident memory. It is a static conf: it
    *    takes effect only when this builder creates the JVM's first
    *    session.
    *
    * `spark.master` contract: the `master` argument is only the LOCAL
    * default. A `spark.master` JVM system property (what spark-submit
    * `--master` sets) wins over it, so a cluster deployment is never
    * silently turned into a driver-local run. A master set on the
    * returned builder (`.master(...)`) wins over both: the last setting
    * wins, and `Engine.local`/tests never set one. The flip side: any
    * `-Dspark.master=...` that leaks into a JVM (a shell's `SBT_OPTS` or
    * `JAVA_TOOL_OPTIONS`, a forked test JVM's options) also wins over
    * `Engine.local(n)` — the test suite would then run against that
    * master, with `n` shuffle partitions sized for a different core
    * count. Test and bench JVMs must not carry the property.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    // The `spark.master` contract above: an external master wins.
    if (!sys.props.contains("spark.master")) b.master(master)
    b
      .withExtensions(extensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor, stock default. Round-15 swept 1m→1k:
      // order-corrected same-JVM A/Bs showed NO reproducible net win
      // (heavy gates ~0.95, cheap tail ~1.1-1.6 at small floors, full
      // suite 1.00) — the apparent early wins were run-order warmth
      // bias (OPTIMIZATION_r15.md "Measurement honesty"). The knob
      // stays: a deploy whose post-shuffle stages are byte-light but
      // CPU-dense (decimal over posexplode) can lower it per workload.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"))
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Output committer algorithm, stock default (v1). Round-15
      // A/B'd v2 (task-commit renames, no serial job-commit merge):
      // the naive same-JVM A/B said 0.87, the order-REVERSED A/B said
      // v1 0.78 — i.e. whatever ran second won, and the order-corrected
      // A/B landed at 1.09. No proven win at 16-32 dirs/write, so the
      // safer v1 stays; the knob remains for deploys with hundreds of
      // partition dirs per write, where v2's parallel task-commit
      // renames do matter (this engine tolerates v2's weaker
      // job-failure atomicity — index writes commit via ledger rows,
      // compacts via rewriteInPlace's directory swap).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.env.getOrElse("SPARK_GRAFT_COMMITTER_ALGO", "1"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // Managed-table warehouse (bucketed tables) outside the repo; a
      // cluster deployment overrides this to its real warehouse path.
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
  }

  /** Standard local session: `local[cpus]` with one shuffle partition per
    * core (local mode has no reason to over-partition; a cluster deploy
    * sets `spark.sql.shuffle.partitions` to ~2-3× total cores instead).
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
