package graft.perfbench

import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.TxTable

/** The `ingest` workload: four closed-loop clients on one transactional
  * table, through the library API (`graft.sources.TxTable`) and the
  * `graft_tx` SQL catalog.
  *
  *  - two appenders, each appending a batch of fresh keys per operation;
  *  - one DML writer running, each pass, library `deleteWhere`, SQL
  *    `UPDATE`, library `mergeCommit`, SQL `DELETE`, SQL `MERGE` and an
  *    `optimize` (`TxTable.clusterBy`);
  *  - one reader alternating `snapshotWhere` key-range reads at the head
  *    with time-travel reads of an earlier version.
  *
  * A pass is the fixed seeded work of [[AppendsPerPass]] appends per
  * appender, the six DML operations and [[ReadsPerPass]] reads.
  *
  * Key ranges are disjoint by construction: DML only touches keys of the
  * initial load and of its own merge inserts, appenders only their own
  * fresh keys. So every DML commutes with every append, and the final
  * table must equal a replay of the logged operations in version order.
  * The run lowers `TxTable.ManifestPageSize` to [[PageSize]], as
  * ManifestPagingSpec does, so the appends carry the manifest from inline
  * to paged within one window: at a few commits per second the default
  * 512 entries are out of reach. */
object Ingest {
  val InitRows = 24000
  val InitFiles = 24
  val AppendsPerPass = 25
  val ReadsPerPass = 16
  val PageSize = 32

  private final case class Op(client: String, kind: String, startMs: Double,
      endMs: Double, ok: Boolean, error: String, version: Int,
      detail: Map[String, Any])

  /** One logged change: the version it committed and its effect. */
  private sealed trait Change
  private final case class Rows(rows: Seq[(Long, Long, Double)]) extends Change
  private final case class Delete(lo: Long, hi: Long) extends Change
  private final case class Update(lo: Long, hi: Long) extends Change
  private final case class Merge(rows: Seq[(Long, Long, Double)]) extends Change

  def run(spark: SparkSession, cfg: Config, cpu: () => Double)
      : Map[String, Any] = {
    TxTable.ManifestPageSize = PageSize
    TxTable.sqlCatalog(spark)
    val warehouse = spark.conf.get("spark.sql.catalog.graft_tx.warehouse")
    val t0 = Clock.nowMs
    val table = prepare(spark, warehouse, "ingest", cfg.seed)
    val firstOpMs = Clock.nowMs
    val untraced = window(spark, cfg, table, None, cpu)
    // the traced window's overhead is measured against an untraced window
    // run just before it, on an equally warm JVM; each on a fresh table
    val (baseline, traced) =
      if (!cfg.trace) (None, None)
      else {
        val b = window(spark, cfg,
          prepare(spark, warehouse, "ingest_baseline", cfg.seed), None, cpu)
        val tracer = new Tracer(spark)
        val t = prepare(spark, warehouse, "ingest_traced", cfg.seed)
        val w = window(spark, cfg, t, Some(tracer), cpu)
        tracer.writeSpans(s"${cfg.work}/spans.jsonl")
        (Some(b), Some(w))
      }
    Map("first_op_ms" -> firstOpMs, "untraced" -> untraced,
      "baseline" -> baseline.orNull, "traced" -> traced.orNull,
      "setup_steps" -> Seq(Map(
        "step" -> "create and load", "s" -> (firstOpMs - t0) / 1e3)))
  }

  private final case class TableState(name: String, root: String,
      initial: Seq[(Int, Change)])

  /** Create the table through SQL and commit the seeded initial load. */
  private def prepare(spark: SparkSession, warehouse: String, name: String,
      seed: Long): TableState = {
    spark.sql(s"DROP TABLE IF EXISTS graft_tx.db.$name")
    spark.sql(s"CREATE TABLE graft_tx.db.$name (k BIGINT, g BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/$name"
    val rnd = new scala.util.Random(seed)
    val rows = (0L until InitRows).map(k => (k, k % 97, rnd.nextInt(1000) + 0.5))
    import spark.implicits._
    val v = TxTable.append(spark, root,
      rows.toDF("k", "g", "v").repartition(InitFiles))
    TableState(name, root, Seq(v -> Rows(rows)))
  }

  private def window(spark: SparkSession, cfg: Config, t: TableState,
      tracer: Option[Tracer], cpu: () => Double): Map[String, Any] = {
    import spark.implicits._
    val root = t.root
    val ops = ArrayBuffer.empty[Op]
    val changes = ArrayBuffer.empty[(Int, Change)] ++= t.initial
    val reads = ArrayBuffer.empty[(Int, Long, Long, Long)] // v, lo, hi, n
    val manifestMs = ArrayBuffer.empty[Double]
    val snapshotFiles = ArrayBuffer.empty[Int]
    // appenders share it, OPTIMIZE takes it exclusively: its conflict
    // check aborts on any concurrent commit, so it runs in a pause
    val maintenance = new ReentrantReadWriteLock()
    val logBytes0 = dirBytes(new java.io.File(root, "_txlog"))
    val v0 = TxTable.currentVersion(root)
    val c0 = cpu()
    val start = Clock.nowMs
    val deadline = cfg.deadline(start)
    val opIds = new java.util.concurrent.atomic.AtomicInteger
    // A pass is a fixed quota of operations per client. The clients meet
    // at a barrier after each pass; another pass starts while the window
    // is open.
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var passStart = start
    var passCpu = c0
    val more = new java.util.concurrent.atomic.AtomicBoolean(true)
    val barrier = new java.util.concurrent.CyclicBarrier(4, () => {
      val now = Clock.nowMs
      val c = cpu()
      passes += Map("start_ms" -> passStart, "end_ms" -> now,
        "cpu_s" -> (c - passCpu))
      passStart = now
      passCpu = c
      more.set(now < deadline)
    })
    def perPass(quota: Int)(op: => Unit): Unit =
      while (more.get) {
        (1 to quota).foreach(_ => op)
        barrier.await()
      }

    def record(client: String, kind: String)(body: => (Int, Map[String, Any]))
        : Unit = {
      val id = s"$client.${opIds.incrementAndGet()}"
      tracer.foreach(_.phase(id, 'x'))
      val s0 = Clock.nowMs
      val op =
        try {
          val (v, d) = body
          Op(client, kind, s0, Clock.nowMs, ok = true, null, v,
            d + ("id" -> id))
        } catch {
          case e: Throwable =>
            Op(client, kind, s0, Clock.nowMs, ok = false,
              s"$kind [$client] ${e.getClass.getName}: ${e.getMessage}\n" +
                e.getStackTrace.take(8).mkString("  at ", "\n  at ", ""),
              -1, Map("id" -> id))
        } finally tracer.foreach(_.clearPhase())
      tracer.foreach(_.span(kind, 0, id, op.startMs, op.endMs))
      ops.synchronized(ops += op)
    }

    def appender(a: Int): Runnable = () => {
      val rnd = new scala.util.Random(cfg.seed * 31 + a)
      var batch = 0L
      perPass(AppendsPerPass) {
        val base = (a + 1) * 100000000L + batch * 1000
        val n = 20 + rnd.nextInt(60)
        val rows = (0 until n).map(j =>
          (base + j, (base + j) % 97, rnd.nextInt(1000) + 0.5))
        maintenance.readLock().lock()
        try record(s"append$a", "append") {
          val v = TxTable.append(spark, root, rows.toDF("k", "g", "v").coalesce(1))
          changes.synchronized(changes += (v -> Rows(rows)))
          (v, Map("rows" -> n))
        } finally maintenance.readLock().unlock()
        batch += 1
      }
    }

    val dml: Runnable = () => {
      val rnd = new scala.util.Random(cfg.seed * 31 + 7)
      val cycle = Seq("lib_delete", "sql_update", "lib_merge", "sql_delete",
        "sql_merge", "optimize")
      var i = 0
      var mergeBatch = 0L
      def range(width: Int): (Long, Long) = {
        val lo = rnd.nextInt(InitRows - width).toLong
        (lo, lo + width - 1)
      }
      def mergeRows(): Seq[(Long, Long, Double)] = {
        val old = (0 until 30).map(_ => rnd.nextInt(InitRows).toLong).distinct
        val fresh = (0 until 10).map(j => 900000000L + mergeBatch * 100 + j)
        mergeBatch += 1
        (old ++ fresh).map(k => (k, k % 97, rnd.nextInt(1000) + 0.25))
      }
      /** The one version a SQL statement committed: it is the only
        * non-append commit in its window, because this is the only client
        * that makes any. 0 when the statement committed nothing. */
      def sqlCommit(before: Int)(stmt: => Unit): Int = {
        stmt
        val after = TxTable.currentVersion(root)
        val mine = (before + 1 to after).filter(v =>
          TxTable.readManifest(root, v).props.get("op").forall(_ != "append"))
        require(mine.size <= 1, s"several DML commits in ($before, $after]")
        mine.headOption.getOrElse(0)
      }
      perPass(cycle.size) {
        i += 1
        cycle((i - 1) % cycle.size) match {
          case "optimize" =>
            maintenance.writeLock().lock()
            try record("dml", "optimize") {
              (TxTable.clusterBy(spark, root, "k", "g", 16), Map.empty)
            } finally maintenance.writeLock().unlock()
          case "lib_delete" =>
            val (lo, hi) = range(40)
            record("dml", "lib_delete") {
              val (v, files) = TxTable.deleteWhere(spark, root,
                col("k").between(lo, hi))
              val committed = if (files.isEmpty) 0 else v
              if (committed > 0) changes.synchronized(changes += (v -> Delete(lo, hi)))
              (committed, Map("rewritten" -> files.size))
            }
          case "lib_merge" =>
            val rows = mergeRows()
            record("dml", "lib_merge") {
              val (v, files, _) = TxTable.mergeCommit(spark, root,
                rows.toDF("k", "g", "v"), "k", "v")
              changes.synchronized(changes += (v -> Merge(rows)))
              (v, Map("rewritten" -> files.size))
            }
          case "sql_delete" =>
            val (lo, hi) = range(40)
            record("dml", "sql_delete") {
              val v = sqlCommit(TxTable.currentVersion(root)) {
                spark.sql(s"DELETE FROM ${table(t)} WHERE k BETWEEN $lo AND $hi"): Unit
              }
              if (v > 0) changes.synchronized(changes += (v -> Delete(lo, hi)))
              (v, Map.empty)
            }
          case "sql_update" =>
            val (lo, hi) = range(200)
            record("dml", "sql_update") {
              val v = sqlCommit(TxTable.currentVersion(root)) {
                spark.sql(s"UPDATE ${table(t)} SET v = v + 1.0 " +
                  s"WHERE k BETWEEN $lo AND $hi"): Unit
              }
              if (v > 0) changes.synchronized(changes += (v -> Update(lo, hi)))
              (v, Map.empty)
            }
          case "sql_merge" =>
            val rows = mergeRows()
            record("dml", "sql_merge") {
              rows.toDF("k", "g", "v").createOrReplaceTempView("perfbench_merge_src")
              val v = sqlCommit(TxTable.currentVersion(root)) {
                spark.sql(s"""MERGE INTO ${table(t)} t USING perfbench_merge_src s
                  |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
              }
              if (v > 0) changes.synchronized(changes += (v -> Merge(rows)))
              (v, Map.empty)
            }
        }
      }
    }

    val reader: Runnable = () => {
      val rnd = new scala.util.Random(cfg.seed * 31 + 11)
      var i = 0
      perPass(ReadsPerPass) {
        i += 1
        val head = TxTable.currentVersion(root)
        if (i % 2 == 1) {
          val lo = rnd.nextInt(InitRows).toLong
          val hi = lo + 500
          record("reader", "range_read") {
            val n = TxTable.snapshotWhere(spark, root,
              col("k").between(lo, hi), head).count()
            val (kept, all) = TxTable.lastSkip.get
            reads.synchronized(reads += ((head, lo, hi, n)))
            (head, Map("kept" -> kept, "listed" -> all))
          }
        } else {
          val v = v0 + rnd.nextInt(head - v0 + 1)
          record("reader", "timetravel_read") {
            val n = TxTable.snapshot(spark, root, v).count()
            reads.synchronized(reads += ((v, Long.MinValue, Long.MaxValue, n)))
            (v, Map.empty)
          }
        }
        if (tracer.isDefined) {
          val m0 = Clock.nowMs
          val m = TxTable.readManifest(root, head)
          manifestMs += Clock.nowMs - m0
          snapshotFiles += TxTable.dataEntries(m.files).size
        }
      }
    }

    val threads = (Seq(appender(0), appender(1), dml, reader))
      .map(r => new Thread(r))
    threads.foreach(_.start())
    threads.foreach(_.join())
    tracer.foreach(_.drain())
    val vEnd = TxTable.currentVersion(root)

    val failures = check(spark, root, changes.toSeq, reads.toSeq, v0, vEnd)
    val samples = ops.sortBy(_.endMs).map { o =>
      val base = Map("client" -> o.client, "kind" -> o.kind,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
        "error" -> o.error, "version" -> o.version) ++ o.detail
      tracer match {
        case None => base
        case Some(tr) =>
          val c = tr.counters(o.detail("id").toString)
          base ++ c.synchronized(Map("jobs" -> c.jobs, "tasks" -> c.tasks,
            "task_s" -> c.taskMs / 1e3))
      }
    }
    val rewritten = (v0 + 1 to vEnd).flatMap { v =>
      val m = TxTable.readManifest(root, v)
      val op = m.props.getOrElse("op", "")
      if (op == "append" || op == "cluster") None
      else {
        val prev = TxTable.dataEntries(TxTable.readManifest(root, v - 1).files)
        Some(prev.toSet.diff(TxTable.dataEntries(m.files).toSet).size)
      }
    }
    Map("start_ms" -> start, "end_ms" -> passStart, "passes" -> passes.toSeq,
      "samples" -> samples.toSeq, "versions" -> (vEnd - v0),
      "pages_max" -> (v0 + 1 to vEnd).map(v =>
        TxTable.readManifest(root, v).pages.size).maxOption.getOrElse(0),
      "log_bytes" -> (dirBytes(new java.io.File(root, "_txlog")) - logBytes0),
      "manifest_read_ms" -> manifestMs.toSeq,
      "snapshot_files" -> snapshotFiles.toSeq,
      "rewritten_files" -> rewritten,
      "check_failures" -> failures)
  }

  private def table(t: TableState): String = s"graft_tx.db.${t.name}"

  private def dirBytes(d: java.io.File): Long =
    Option(d.listFiles()).map(_.map(f =>
      if (f.isDirectory) dirBytes(f) else f.length).sum).getOrElse(0L)

  /** Replay the logged changes in version order on an in-memory model;
    * every read must return its version's exact row count, and the final
    * table must equal the model. Returns one line per mismatch. */
  private def check(spark: SparkSession, root: String,
      changes: Seq[(Int, Change)], reads: Seq[(Int, Long, Long, Long)],
      v0: Int, vEnd: Int): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val known = changes.map(_._1).toSet
    (v0 + 1 to vEnd).filterNot(known).foreach { v =>
      val op = TxTable.readManifest(root, v).props.getOrElse("op", "")
      if (op != "cluster") failures += s"version $v ($op) is in no logged operation"
    }
    val model = new java.util.TreeMap[Long, (Long, Double)]()
    def apply(c: Change): Unit = c match {
      case Rows(rs) => rs.foreach { case (k, g, v) => model.put(k, (g, v)) }
      case Delete(lo, hi) => model.subMap(lo, true, hi, true).clear()
      case Update(lo, hi) =>
        new java.util.ArrayList(model.subMap(lo, true, hi, true).keySet)
          .forEach { k =>
            val (g, v) = model.get(k)
            model.put(k, (g, v + 1.0))
          }
      case Merge(rs) => rs.foreach { case (k, g, v) =>
        val cur = model.get(k)
        model.put(k, if (cur == null) (g, v) else (cur._1, v))
      }
    }
    def count(lo: Long, hi: Long): Long =
      model.subMap(lo, true, hi, true).size.toLong
    val byVersion = changes.groupBy(_._1)
    val readsAt = reads.groupBy(_._1)
    val lastV = (changes.map(_._1) ++ reads.map(_._1) :+ vEnd).max
    (0 to lastV).foreach { v =>
      byVersion.getOrElse(v, Nil).foreach(c => apply(c._2))
      readsAt.getOrElse(v, Nil).foreach { case (_, lo, hi, n) =>
        val want = count(lo, hi)
        if (n != want)
          failures += s"read of version $v keys [$lo, $hi] returned $n rows, committed $want"
      }
    }
    import scala.jdk.CollectionConverters._
    val expected = model.asScala.toSeq.map { case (k, (g, v)) => (k, g, v) }
    val actual = TxTable.snapshot(spark, root, vEnd).select("k", "g", "v").orderBy("k")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    if (actual != expected) {
      val diff = actual.diff(expected).take(3) ++ expected.diff(actual).take(3)
      failures += s"final table (${actual.size} rows) differs from the replay " +
        s"(${expected.size} rows), e.g. $diff"
    }
    failures.result()
  }
}
