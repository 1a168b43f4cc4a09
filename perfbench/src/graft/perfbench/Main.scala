package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds this together with
  * the library's sources, generates the inputs, launches it once per run
  * and checks the outputs it leaves behind:
  *
  * {{{
  * Main --workload <sf01-mix|scale10x|pipelines> --data DIR --seed N
  *      --seconds S --trace 0|1 --out RESULT.json --trace-out TRACE.json
  *      --dump DIR [--queries q,..]
  * }}}
  *
  * It calls only the library's entry points (`SparkEntry.queries`, the
  * `graft.ml` estimators and transformers, `AutoCache`, `LocalServer`),
  * never a probe main. */
object Main {
  final case class Args(workload: String, data: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, traceOut: String, dump: String, queries: Seq[String])

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Args(kv("workload"), kv("data"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("out"), kv("trace-out"), kv("dump"), list("queries"))
  }

  /** local[N] with N = the cores this JVM may use, shuffle partitions = N,
    * and the session settings every graft driver uses. Scratch space
    * (Spark local dirs, the warehouse, java.io.tmpdir) is set by the
    * launcher to a directory of the benchmark's own. */
  def session(cores: Int): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drops every block a finished operation pinned (caches, localCheckpoints)
    * before the next one runs — the hygiene graft's own drivers apply. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores)
    val tracer = new Tracer(spark, a.trace)
    val result = mutable.LinkedHashMap[String, Any](
      "stamp" -> Map(
        "nproc" -> cores, "local_n" -> cores,
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version")))
    val body = a.workload match {
      case "sf01-mix" | "scale10x" => Queries.run(spark, tracer, a)
      case "pipelines" => Pipelines.run(spark, tracer, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    result ++= body
    if (a.trace) {
      result("per_layer") = result("per_layer").asInstanceOf[Map[String, Double]] ++
        Map("jvm.heap_peak_mb" -> tracer.heapPeakMb)
      Files.writeString(Paths.get(a.traceOut), Json(Map(
        "workload" -> a.workload, "seed" -> a.seed,
        "spans" -> tracer.traceRecords,
        "sql_executions" -> tracer.sqlExecs.asScala.toSeq.map(e =>
          Map("site" -> e.site, "start_ms" -> e.startMs, "end_ms" -> e.endMs)),
        "breakdown" -> body.getOrElse("breakdown", Nil))))
    }
    Files.writeString(Paths.get(a.out), Json(result - "breakdown"))
    spark.stop()
  }

  /** Progress line for the run's log (stderr). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${System.currentTimeMillis() / 1000.0}%.3f] $msg")

  /** Timed passes per run, at least: a JVM's second pass still uses 10-30%
    * less CPU than its first, so a run that timed one pass because its
    * host was slow would report a different quantity. */
  val MinPasses = 2

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JVM has used, over all its threads. The kernel leaves
    * out time the host steals from the virtual CPUs, so other tenants of a
    * shared host move this far less than wall time. */
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
}
