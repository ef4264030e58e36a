package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The `queries` workload: one client in a closed loop over fixed lists
  * of query keys. A pass runs each key group in turn, in list order or,
  * when the group permutes, in a seeded order, on the group's input.
  *
  * One operation is three timed steps through the caller's public path:
  * the key's query function (builder, including any eager Spark jobs it
  * starts), `queryExecution.executedPlan` (plan), and materialising every
  * row and column through that same `QueryExecution` (exec). Exec is not
  * `.count()`: count lets Spark prune columns and so times less work than
  * the caller receives. The SQL cache is cleared after each operation, as
  * `graft.Bench` does. */
object KeyWorkload {

  /** Module of each key: the package under `graft` that declares it. */
  val moduleOf: Map[String, String] = {
    import graft._
    Seq(relational.Core.queries, relational.Joins.queries,
      relational.Aggregates.queries, relational.Windows.queries,
      relational.Scalars.queries, relational.ScaleOps.queries,
      relational.Stats.queries, relational.Extended.queries,
      relational.TimeSeries.queries).flatMap(_.keys).map(_ -> "relational") ++
    Seq(sources.Sources.queries, sources.Layout.queries,
      sources.TxTable.queries).flatMap(_.keys).map(_ -> "sources") ++
    Seq(text.TextOps.queries, text.Analysis.queries)
      .flatMap(_.keys).map(_ -> "text") ++
    Seq(llm.Dedup.queries, llm.DedupVariants.queries, llm.Curation.queries,
      llm.Governance.queries, llm.Retrieval.queries, llm.Similarity.queries)
      .flatMap(_.keys).map(_ -> "llm") ++
    multimodal.Multimodal.queries.keys.map(_ -> "multimodal") ++
    ml.Pipelines.queries.keys.map(_ -> "ml") ++
    stream.EventOps.queries.keys.map(_ -> "stream") ++
    udf.Extensions.queries.keys.map(_ -> "udf")
  }.toMap

  def run(spark: SparkSession, cfg: Config, cpu: () => Double)
      : Map[String, Any] = {
    val unknown = cfg.keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")
    val (warnings, steps) = setup(spark)
    val firstOpMs = Clock.nowMs
    val untraced = window(spark, cfg, None, cpu)
    // the traced window's overhead is measured against an untraced window
    // run just before it, on an equally warm JVM
    val (baseline, traced) =
      if (!cfg.trace) (None, None)
      else {
        val b = window(spark, cfg, None, cpu)
        val tracer = new Tracer(spark)
        val w = window(spark, cfg, Some(tracer), cpu)
        tracer.writeSpans(s"${cfg.work}/spans.jsonl")
        (Some(b), Some(w))
      }
    // per group: the oracle SQL of its keys, and a seeded sample of them
    // re-run and dumped for the full compare, under <work>/dump/<group>
    val checks = cfg.groups.map { g =>
      val out = s"${cfg.work}/dump/${g.name}"
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => g.keys.contains(k) }
      val keys = new scala.util.Random(cfg.seed)
        .shuffle(oracle.keys.toSeq.sorted).take(g.fullChecks).sorted
      val errors = keys.map(k => k -> dump(spark, g.input, k, out))
        .collect { case (k, Some(e)) => k -> e }
      new java.io.File(out).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "oracle_sql.json"), Json.write(oracle))
      (g.name -> keys, errors)
    }
    Map("first_op_ms" -> firstOpMs, "setup_warnings" -> warnings,
      "setup_steps" -> steps.map { case (k, v) => Map("step" -> k, "s" -> v) },
      "untraced" -> untraced, "baseline" -> baseline.orNull,
      "traced" -> traced.orNull,
      "dump_errors" -> checks.flatMap(_._2).toMap,
      "modules" -> cfg.keys.map(k => k -> moduleOf(k)).toMap,
      "check_keys" -> checks.map(_._1).toMap)
  }

  /** Untimed one-time work: the JVM's first Spark job. A key's own JIT
    * warm-up is not set-up: it lands in the key's first timed call.
    * Failures are reported, never fatal. */
  private def setup(spark: SparkSession)
      : (Seq[String], Seq[(String, Double)]) = {
    val warnings = Seq.newBuilder[String]
    val steps = Seq.newBuilder[(String, Double)]
    def warm(what: String)(body: => Unit): Unit = {
      val t0 = Clock.nowMs
      try body
      catch { case e: Throwable => warnings += s"$what: ${e.getMessage}" }
      steps += what -> (Clock.nowMs - t0) / 1e3
    }
    warm("first job")(spark.range(1 << 20).selectExpr("sum(id % 7)").collect(): Unit)
    spark.catalog.clearCache()
    (warnings.result(), steps.result())
  }

  /** Whole passes until `seconds` have elapsed, at least one. Pass `p`
    * uses the same order in the untraced and the traced window, so their
    * pass times compare like for like. */
  private def window(spark: SparkSession, cfg: Config,
      tracer: Option[Tracer], cpu: () => Double): Map[String, Any] = {
    val fns = cfg.keys.map(k => k -> SparkEntry.queries(k)).toMap
    val start = Clock.nowMs
    val passes = Seq.newBuilder[Map[String, Any]]
    val samples = Seq.newBuilder[Map[String, Any]]
    var p = 0
    while (p == 0 || Clock.nowMs < cfg.deadline(start)) {
      val order = cfg.groups.flatMap { g =>
        val keys =
          if (!g.permute) g.keys
          else new scala.util.Random(cfg.seed * 1000003L + p).shuffle(g.keys)
        keys.map(g -> _)
      }
      val c0 = cpu()
      val t0 = Clock.nowMs
      val passSpan = tracer.map(_.nextId()).getOrElse(0)
      order.zipWithIndex.foreach { case ((g, k), i) =>
        samples += operation(spark, g.input, k, fns(k), s"p$p.$i", p,
          tracer, passSpan) + ("group" -> g.name)
      }
      val t1 = Clock.nowMs
      tracer.foreach(_.span(s"pass $p", 0, "", t0, t1, passSpan))
      passes += Map("pass" -> p, "start_ms" -> t0, "end_ms" -> t1,
        "cpu_s" -> (cpu() - c0))
      p += 1
    }
    tracer.foreach(_.drain())
    val ss = samples.result()
    val withCounters = tracer match {
      case None => ss
      case Some(t) => ss.map { s =>
        val c = t.counters(s("id").toString)
        s ++ c.synchronized(Map("jobs" -> c.jobs, "eager_jobs" -> c.eagerJobs,
          "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3,
          "gc_s" -> c.gcMs / 1e3, "shuffle_mb" -> c.shuffleBytes / 1e6,
          "stage_task_ms" -> c.stageTaskMs.values.map(_.toList).toList))
      }
    }
    Map("passes" -> passes.result(), "samples" -> withCounters)
  }

  private def operation(spark: SparkSession, dir: String, key: String,
      fn: (SparkSession, String) => DataFrame, id: String, pass: Int,
      tracer: Option[Tracer], passSpan: Int): Map[String, Any] = {
    var step = "builder"
    val t0 = Clock.nowMs
    var t1, t2, t3 = t0
    var rows = -1L
    var schema = ""
    var error: String = null
    tracer.foreach(_.phase(id, 'b'))
    try {
      val df = fn(spark, dir)
      t1 = Clock.nowMs
      step = "plan"
      tracer.foreach(_.phase(id, 'p'))
      val qe = df.queryExecution
      qe.executedPlan
      t2 = Clock.nowMs
      step = "exec"
      tracer.foreach(_.phase(id, 'x'))
      rows = qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
      t3 = Clock.nowMs
      schema = df.schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    } catch {
      case e: Throwable =>
        val now = Clock.nowMs
        step match {
          case "builder" => t1 = now; t2 = now; t3 = now
          case "plan" => t2 = now; t3 = now
          case _ => t3 = now
        }
        error = s"$key [$step] ${e.getClass.getName}: ${e.getMessage}\n" +
          e.getStackTrace.take(8).mkString("  at ", "\n  at ", "")
    } finally {
      tracer.foreach(_.clearPhase())
      spark.catalog.clearCache()
    }
    tracer.foreach { t =>
      val op = t.span(key, passSpan, id, t0, t3)
      t.span("builder", op, id, t0, t1)
      t.span("plan", op, id, t1, t2)
      t.span("exec", op, id, t2, t3)
    }
    Map("id" -> id, "key" -> key, "pass" -> pass, "start_ms" -> t0,
      "builder_s" -> (t1 - t0) / 1e3, "plan_s" -> (t2 - t1) / 1e3,
      "exec_s" -> (t3 - t2) / 1e3, "ok" -> (error == null),
      "error" -> error, "rows" -> rows, "schema" -> schema)
  }

  /** Untimed re-run of `key` written as `graft.Verify` writes it, for the
    * DuckDB oracle compare in `scripts/check.py`. */
  private def dump(spark: SparkSession, dir: String, key: String,
      out: String): Option[String] =
    try {
      SparkEntry.queries(key)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$key")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    finally spark.catalog.clearCache()
}
