package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[Map[String, Any]])
}

/** One key set of a key workload: its keys, the input directory they
  * read, whether each pass runs them in a seeded order, and how many of
  * its oracle keys are dumped for the full compare. */
final case class KeyGroup(name: String, input: String, keys: Seq[String],
    permute: Boolean, fullChecks: Int)

/** Settings handed over by `perfbench/run.py` as one JSON file. */
final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, groups: Seq[KeyGroup], cores: Int) {
  def keys: Seq[String] = groups.flatMap(_.keys)
  def deadline(startMs: Double): Double = startMs + seconds * 1000
}

/** JVM half of the benchmark: runs one workload and writes every raw
  * sample to `<work>/result.json`. Statistics, output checks against the
  * DuckDB oracle and the report are the Python half's job.
  *
  * Usage: `Main <config.json>`; see `perfbench/run.py` for the fields. */
object Main {
  @volatile private var blackhole = 0L

  def main(args: Array[String]): Unit = {
    val m = Json.read(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(0))),
      "UTF-8"))
    import scala.jdk.CollectionConverters._
    def seq(v: Option[Any]): Seq[Any] = v match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq
      case Some(l: Iterable[_]) => l.toSeq
      case _ => Nil
    }
    def obj(v: Any): Map[String, Any] = v match {
      case o: java.util.Map[_, _] =>
        o.asScala.map { case (k, x) => k.toString -> x }.toMap
      case o: scala.collection.Map[_, _] =>
        o.map { case (k, x) => k.toString -> x }.toMap
    }
    val groups = seq(m.get("groups")).map(obj).map(g => KeyGroup(
      g("name").toString, g("input").toString,
      seq(g.get("keys")).map(_.toString), g("permute") == true,
      g("full_checks").toString.toInt))
    val cfg = Config(m("workload").toString,
      m("seed").toString.toLong, m("seconds").toString.toDouble,
      m("trace") == true, m("work").toString, groups,
      m("cores").toString.toInt)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val sessionT0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - sessionT0) / 1e3
    val os = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val result =
      try {
        val body = cfg.workload match {
          case "ingest" => Ingest.run(spark, cfg, () => cpuSec(os))
          case _ => KeyWorkload.run(spark, cfg, () => cpuSec(os))
        }
        body ++ Map("jvm_start_ms" -> jvmStartMs, "session_s" -> sessionS,
          "spark_version" -> spark.version,
          "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "jvm_cores" -> Runtime.getRuntime.availableProcessors,
          "spin_probe_s" -> spinProbe())
      } finally spark.stop()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfg.work, "result.json"), Json.write(result))
  }

  private def cpuSec(os: com.sun.management.OperatingSystemMXBean): Double =
    os.getProcessCpuTime / 1e9

  /** Fixed single-thread integer spin, timed. A diagnostic of the host's
    * speed during the run: printed, never used to drop or re-run
    * samples. */
  private def spinProbe(): Double = {
    def spin(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 33
        i += 1
      }
      x
    }
    blackhole = spin(50000000L)
    val t0 = System.nanoTime()
    blackhole = spin(200000000L)
    (System.nanoTime() - t0) / 1e9
  }
}
