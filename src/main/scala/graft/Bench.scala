package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times `.count()` of every declared query at the sf-dir
  * from SPARK_GRAFT_SF_DIR and prints ONE JSON line. A failed query is
  * reported with `"ok":false` and its elapsed time — never silently folded
  * into the total as a near-zero "fast" result (VERDICT r1 finding).
  *
  * Contention-proofing (VERDICT r3 #1): a bench sharing the box with
  * another 32-thread process reads as a 17× "regression" that no code
  * change caused. Defenses:
  *  - per-query process-CPU time is measured alongside wall time; a
  *    starved JVM self-identifies as cpu ≪ wall (a healthy CPU-bound
  *    query on an idle box burns ≥ ~1 cpu-sec per wall-sec). Queries
  *    with wall ≥ 1 s and cpu < 0.6 × wall are re-run once at
  *    end-of-run and the minimum wall time is kept.
  *  - a second poisoning mode shows cpu ≈ wall but 10–30× slowdown
  *    (observed on this VM as a contiguous multi-minute window —
  *    host-level CPU throttling, invisible to the starvation check).
  *    Against it, per-key reference times (resources/graft/
  *    bench_ref.json, minima of clean runs) flag any key at ≥ 3× its
  *    reference (+2 s absolute) for the same end-of-run re-run.
  *  - the JSON line carries `cpu_sec` (total process CPU), `load`
  *    (1-min system load average at start/end) and `rerun_n`, so a
  *    contended run is distinguishable from a regression IN the
  *    artifact.
  *  - (VERDICT r10 #1) a deterministic CALIBRATION PROBE — fixed spin
  *    work, single-thread and all-threads — runs before and after the
  *    key loop; its clean-run durations are recorded in bench_ref.json
  *    (`_calib_single` / `_calib_par`). If any probe reads ≥ 1.5× its
  *    clean constant, the whole run is presumed host-throttled: after a
  *    backoff the ENTIRE key loop re-runs once and the per-key minima
  *    are kept (bounded: one full retry). The JSON line carries
  *    `calib` (all [single, par] probe readings), `calib_ref`, and
  *    `full_rerun`, so the artifact self-reports whether its window was
  *    clean. Per-query cpu seconds go to a detail file
  *    (GRAFT_BENCH_DETAIL, default /tmp/graft_bench_detail.json) AND —
  *    since round 22 (VERDICT r21 #2) — as the `queries` per-key seconds
  *    map on the stdout line itself: the driver contract names that
  *    field, its PERF comparator joins per-query speedups/geomean/
  *    scaling from it, and the round-21 driver demonstrably parses the
  *    full line (BENCH_r21 `parsed` is populated), so the old ~400 B
  *    self-restriction (SURVEY §7.4.13, written against the early
  *    drivers whose `parsed` was a constant null) no longer buys
  *    anything and blinded the driver to per-key regressions. All
  *    previously existing fields are unchanged.
  */
object Bench {
  /** Sink for calibration-probe results so the JIT can't elide the spin. */
  @volatile private var blackhole: Long = 0L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuSec: Double = os.getProcessCpuTime / 1e9 // ns → s; -1 → negative, handled below
    val loadStart = os.getSystemLoadAverage
    // Warm-up (untimed): JIT the scan/shuffle/codegen paths and touch each
    // input file once, so the one-time JVM cost doesn't land on whichever
    // query happens to run first and distort its per-query number.
    // Warm-up failures must never abort the run, but they must not be
    // SILENT either (ADVICE r10): a failed one-time setup here means its
    // cost lands back in the timed run and would otherwise read as an
    // untraceable regression.
    def warnWarm(what: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $what failed: ${e.getMessage}")
      }
    spark.range(1 << 20).selectExpr("sum(id % 7)").collect()
    Tables.names.foreach { t =>
      warnWarm(s"table $t")(Tables.table(spark, sfDir, t).count())
    }
    warnWarm("events")(Tables.events(spark, sfDir).count())
    // Optional key filter (args) for local iteration; the driver always
    // invokes with no args → full run.
    val only = args.toSet
    // One-time layout/catalog setup out of the timed path (round-9
    // verdict item 2): the first q_join_cbo invocation otherwise pays its
    // 3× saveAsTable + ANALYZE (~2 s of its timed reading), and
    // q_join_bucketed / q_scan_partitioned their one-per-JVM layout
    // writes (per-run scratch nonce — no cross-run reuse). One untimed
    // invocation here populates the session-keyed caches and layouts, so
    // the timed runs measure the recurring query, not the setup a real
    // deployment amortizes across its whole workload.
    // q_scan_binary's per-document fixture write (round 13) and the BPE
    // training artifact (q_text_bpe / q_text_bpe_apply) join the layout
    // warm-ups: each is a once-per-run build whose cost the timed run
    // should not re-measure — at scale the binary files ARE the input
    // and the tokenizer is trained by a separate scheduled job.
    // q_table_timetravel/compact/merge/schema_evolution/rollback join
    // the list for their build-once committed tables (demo/compacttbl/
    // mergetbl/evotbl/rbtbl; the read / compact-commit / merge-commit /
    // merged-schema read / rollback-commit is each key's timed
    // semantics; the commit history underneath is the one-time layout a
    // deployment writes at ingest; q_table_changes AND q_table_stream
    // share q_table_timetravel's table — under an --only filter either
    // would pay the cold three-commit build inside the key)
    Seq("q_join_cbo", "q_join_bucketed", "q_scan_partitioned",
        "q_scan_timeslice", "q_scan_binary", "q_text_bpe",
        "q_sim_index_persist", "q_ml_persist", "q_table_timetravel",
        "q_table_compact", "q_table_merge", "q_table_rollback",
        "q_table_schema_evolution")
      .filter(k => only.isEmpty || only(k))
      .foreach { k =>
        warnWarm(s"setup $k")(SparkEntry.queries(k)(spark, sfDir).count())
      }
    // q_delete_execute: warm ONLY the ownership-clustered layout build
    // (the standing table layout a deployment writes once at ingest —
    // 55 cpu-s of lineitem join + 64-file writes at sf0.1, measured
    // round 14), NOT the key itself: the timed run must still perform
    // the actual delete — manifest, discovery, affected-files rewrite,
    // convergence check — because the rewrite IS the recurring
    // semantics, unlike the layout underneath it.
    if (only.isEmpty || only("q_delete_execute")) {
      warnWarm("setup q_delete_execute layout") {
        llm.Governance.ensureDeletableLayouts(spark, sfDir): Unit
      }
    }
    // q_index_drift / q_sim_index_update share the incremental-index
    // artifact: warm the one-time day-1 train+encode+persist and the
    // first day-2 ingest here, so the alphabetically-first key
    // (q_index_drift) doesn't pay the build (VERDICT r14 wart 2). The
    // timed monitor is then its postings scan; the timed update still
    // re-encodes day-2 every invocation — that IS ingest's semantics.
    if (only.isEmpty || only("q_index_drift") ||
        only("q_sim_index_update") || only("q_index_rebuild") ||
        only("q_index_policy")) {
      warnWarm("setup sim update artifact") {
        llm.Similarity.ensureUpdateArtifact(spark, sfDir): Unit
      }
    }
    spark.catalog.clearCache()
    // JIT the L-BFGS/breeze optimizer path: the first LR fit in a JVM
    // otherwise pays 5–20 s of tiered compilation, landing on whichever
    // ML key runs first (q_ml_cv, alphabetically)
    warnWarm("LR fit") {
      import org.apache.spark.sql.functions._
      val warm = spark.range(256)
        .select((col("id") % 2).cast("double").as("label"),
          org.apache.spark.ml.functions.array_to_vector(
            array(col("id").cast("double"), (col("id") * 2).cast("double")))
            .as("features"))
      new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(10).fit(warm)
      ()
    }

    /** One timed run of a query: (wall sec, cpu sec, ok). Clears the SQL
      * cache afterwards: several operators legitimately cache (LSH
      * features, CV folds, CC edges); letting those pile up across 95
      * keys turns late queries into GC benchmarks (observed as a
      * stochastic 7 s → 55 s q_ml_cv in full runs). */
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String): (Double, Double, Boolean) = {
      val c0 = cpuSec
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec - c0
      spark.catalog.clearCache()
      (wall, cpu, ok)
    }

    // Per-key reference wall times from clean runs: flags the
    // throttled-but-busy poisoning mode the cpu check can't see.
    val ref: Map[String, Double] =
      try {
        // classpath first; fall back to the source path (scripts/bench.sh
        // runs from the repo root and `sbt compile` alone doesn't copy
        // resources into the classes dir). Missing both → empty map →
        // only the cpu-starvation check applies.
        val txt = Option(getClass.getResourceAsStream("/graft/bench_ref.json"))
          .map(is => scala.io.Source.fromInputStream(is, "UTF-8").mkString)
          .getOrElse {
            val f = new java.io.File("src/main/resources/graft/bench_ref.json")
            if (f.isFile) scala.io.Source.fromFile(f, "UTF-8").mkString else ""
          }
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }

    // Deterministic calibration probe (VERDICT r10 #1). Fixed integer-mix
    // spin work — no allocation, no IO — whose clean-box duration is a
    // property of the host, not the data. `blackhole` defeats dead-code
    // elimination. Clean constants live in bench_ref.json next to the
    // per-key times and are documented in BASELINE.md.
    def spin(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 33
        i += 1
      }
      x
    }
    val calibIters = 200000000L // ~0.4 s single-thread on a clean box
    def calibProbe(): (Double, Double) = {
      blackhole = spin(calibIters / 4) // JIT warm
      val t0 = System.nanoTime()
      blackhole = spin(calibIters)
      val single = (System.nanoTime() - t0) / 1e9
      val n = math.max(2, cpus.toInt)
      val sink = new java.util.concurrent.atomic.AtomicLong
      val ts = (0 until n).map(_ =>
        new Thread(() => { sink.addAndGet(spin(calibIters)); () }))
      val t1 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      val par = (System.nanoTime() - t1) / 1e9
      blackhole = sink.get
      (single, par)
    }

    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Round 16: the firstRunOnly carve-out (ADVICE r14/r15) is gone.
    // The two self-mutating keys now reset their own state per
    // invocation — q_delete_execute rewrites a fresh hardlink snapshot
    // of the pristine layout, q_index_rebuild lands each rebuild in a
    // fresh versioned dir — so every re-run repays the real work and
    // min-of-reruns / starved-retry protection applies to all keys.
    /** One full pass over every key, with the end-of-pass re-run of
      * per-key contention suspects (starved JVM: cpu ≪ wall, or ≥3× the
      * key's reference time). cpu may read negative if the JVM doesn't
      * support process-CPU time — then only the reference check applies. */
    def runPass(): Seq[(String, Double, Double, Boolean, Boolean)] = {
      val first = keys.map { case (name, fn) =>
        val (wall, cpu, ok) = timed(fn, name)
        (name, fn, wall, cpu, ok)
      }
      first.map { case (name, fn, wall, cpu, ok) =>
        val starved = wall >= 1.0 && cpu >= 0.0 && cpu < 0.6 * wall
        val outlier = ref.get(name)
          .exists(r => wall > 3.0 * r && wall > r + 2.0)
        val suspect = ok && (starved || outlier)
        if (!suspect) (name, wall, cpu, ok, false)
        else {
          val (w2, c2, ok2) = timed(fn, name)
          if (ok2 && w2 < wall) (name, w2, c2, ok, true)
          else (name, wall, cpu, ok, true)
        }
      }
    }

    val calibRefS = ref.getOrElse("_calib_single", 0.0)
    val calibRefP = ref.getOrElse("_calib_par", 0.0)
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    probes += calibProbe()
    val pass1 = runPass()
    probes += calibProbe()
    // Any probe ≥ 1.5× its clean constant → the run overlapped a dirty
    // host window; back off and re-run the WHOLE key loop once, keeping
    // per-key minima (a throttled window only ever inflates times, so
    // min-of-passes is the honest estimate). Bounded: one retry.
    def dirty(p: (Double, Double)): Boolean =
      (calibRefS > 0 && p._1 >= 1.5 * calibRefS) ||
        (calibRefP > 0 && p._2 >= 1.5 * calibRefP)
    // Total-band guard (VERDICT r17 item 4): round 17's driver run sat
    // 18% hot with CLEAN probes — broad uniform drift a point probe
    // can't see. Compare the pass total against the frozen per-key
    // minima over the keys both sides know (new un-frozen keys are
    // excluded from both sums; skipped entirely when <80% of the run is
    // frozen): clean runs read ≤1.25× the minima sum, the r17 hot
    // window 1.42× — 1.3× separates them. Triggers the SAME bounded
    // backoff-and-rerun, keeping per-key minima.
    val hotTotal = {
      val frozen = pass1.filter(r => r._4 && ref.contains(r._1))
      val refSum = frozen.map(r => ref(r._1)).sum
      refSum > 0 && frozen.size >= 0.8 * pass1.size &&
        frozen.map(_._2).sum > 1.3 * refSum
    }
    val fullRerun = probes.exists(dirty) || hotTotal
    val results =
      if (!fullRerun) pass1
      else {
        System.err.println(
          s"[bench] ${if (hotTotal) "run total above the frozen band" else "calibration dirty"} (probes=${probes.toList}, ref=($calibRefS,$calibRefP)); backing off 15 s and re-running all keys")
        Thread.sleep(15000)
        val pass2 = runPass()
        probes += calibProbe()
        val byKey2 = pass2.map(r => r._1 -> r).toMap
        pass1.map { case r1 @ (k, w1, _, ok1, rr1) =>
          byKey2.get(k) match {
            case Some((_, w2, c2, ok2, rr2))
                if ok2 && (!ok1 || w2 < w1) =>
              (k, w2, c2, ok2, rr1 || rr2)
            case Some((_, _, _, _, rr2)) => r1.copy(_5 = rr1 || rr2)
            case None => r1
          }
        }
      }
    val loadEnd = os.getSystemLoadAverage
    def r3(v: Double) = math.rint(v * 1e3) / 1e3
    // `slowest10` is the quick read of the summary line: the ten
    // slowest keys. The full per-key seconds map rides the same line as
    // `queries` (so the line is a few KB, not a few hundred bytes), and
    // the per-key wall+cpu+ok detail goes to the side file below.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, w, _, _, _) => s""""$k":${r3(w)}""" }
      .mkString("{", ",", "}")
    // Round 22 (VERDICT r21 #2, additions-only): the FULL per-key
    // seconds map joins the stdout line as `queries` — the driver
    // contract's field the PERF comparator joins per-query/geomean/
    // scaling from; without it PERF_r21.per_query was empty and a >10%
    // regression outside the slowest-10 was invisible to the driver.
    // Every existing field is unchanged; the detail side file remains.
    val queriesJson = results.sortBy(_._1)
      .map { case (k, w, _, _, _) => s""""$k":${r3(w)}""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false, _) => s""""$k"""" }
      .mkString("[", ",", "]")
    val total = r3(results.map(_._2).sum)
    val cpuTotal = r3(results.map(_._3).sum)
    val rerunN = results.count(_._5)
    val calibJson = probes.map { case (s, p) => s"[${r3(s)},${r3(p)}]" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_keys":${results.size},"failed":$failed,"slowest10":$slowest,"queries":$queriesJson,"cpu_sec":$cpuTotal,"load":[${r3(loadStart)},${r3(loadEnd)}],"rerun_n":$rerunN,"calib":$calibJson,"calib_ref":[${r3(calibRefS)},${r3(calibRefP)}],"full_rerun":${if (fullRerun) 1 else 0},"sf":"$sfDir"}""")
    // full per-query wall+cpu detail (too big for the bounded stdout line)
    try {
      val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL",
        "/tmp/graft_bench_detail.json")
      val rows = results.map { case (k, w, c, ok, rerun) =>
        s"""  "$k": {"wall": ${r3(w)}, "cpu": ${r3(c)}, "ok": $ok, "rerun": $rerun}"""
      }.mkString("{\n", ",\n", s""",\n  "_load": [${r3(loadStart)}, ${r3(loadEnd)}], "_sf": "$sfDir"\n}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        rows.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
