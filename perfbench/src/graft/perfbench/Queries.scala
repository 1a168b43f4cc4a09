package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The query workloads (`sf01-mix`, `scale10x`): passes over a fixed list
  * of `SparkEntry.queries`, each query built by its registry entry and
  * forced with `write.format("noop")`, in a seeded shuffled order. A
  * query that throws counts as failed and leaves no time sample. Before
  * the timed region, every query's result is written once as parquet for
  * the DuckDB oracle check `perfbench/oracle.py` makes. */
object Queries {
  def run(spark: SparkSession, tracer: Tracer, a: Main.Args): Map[String, Any] = {
    val registry = graft.SparkEntry.queries
    val unknown = a.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val failures = mutable.ArrayBuffer.empty[Map[String, String]]

    // the check pass, before the timed region: every mix query's result
    // written once as parquet for the oracle check. It is also the warm-up
    // (class loading, JIT, the mix's first code generation), so the timed
    // passes measure a warm JVM.
    a.queries.distinct.foreach { q =>
      Main.log(s"check pass $q")
      try registry(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"${a.dump}/$q")
      catch { case e: Throwable => failures += Map("op" -> s"check $q", "error" -> e.toString) }
      Main.cleanup(spark)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.dump}/oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (q, _) => a.queries.contains(q) }))

    Main.log("timed region")
    val firstCall = tracer.nowMs
    tracer.start()
    val root = tracer.begin(a.workload, "workload")
    val passes = mutable.ArrayBuffer.empty[Double]
    val passesCpu = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[(String, Double, Double)] // name, build, force ms
    val opCpu = mutable.ArrayBuffer.empty[Double]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0
    val t0 = System.nanoTime()
    while (passes.size < Main.MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val order = new scala.util.Random(a.seed * 1000003L + passes.size).shuffle(a.queries)
      val pass = tracer.begin(s"pass ${passes.size}", "pass")
      val cpu0 = Main.cpuS
      order.foreach { q =>
        attempted += 1
        val op = tracer.begin(q, "op")
        val opCpu0 = Main.cpuS
        try {
          val (df, buildMs) = tracer.span("build", "build")(registry(q)(spark, a.data))
          val (_, forceMs) = tracer.span("force", "force")(
            df.write.format("noop").mode("overwrite").save())
          tracer.end(op)
          samples += ((q, buildMs, forceMs))
          opCpu += Main.cpuS - opCpu0
          opSpans += op
        } catch {
          case e: Throwable =>
            tracer.end(op)
            failures += Map("op" -> q, "error" -> e.toString)
        }
        Main.cleanup(spark)
      }
      passes += tracer.end(pass) / 1000.0
      passesCpu += Main.cpuS - cpu0
    }
    tracer.end(root)
    tracer.stop()

    val rowsOut = if (!a.trace) Nil else a.queries.distinct.flatMap(q =>
      scala.util.Try(spark.read.parquet(s"${a.dump}/$q").count()).toOption)

    val opS = samples.map(s => (s._2 + s._3) / 1000.0).toSeq
    val named = Map("mix_s" -> passes.sum / passes.size)
    val out = mutable.LinkedHashMap[String, Any](
      "first_call_ms" -> firstCall,
      "passes" -> passes.toSeq, "passes_cpu" -> passesCpu.toSeq, "op_s" -> opS,
      "op_cpu_s" -> opCpu.toSeq,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "op_names" -> samples.map(_._1).toSeq, "named" -> named)
    if (a.trace) {
      val perOp = tracer.opLayers(opSpans.toSeq)
      val n = passes.size.toDouble
      def total(k: String) = perOp.values.map(_.getOrElse(k, 0.0)).sum / n
      val keys = perOp.values.headOption.map(_.keys.toSeq).getOrElse(Nil)
      val wallMs = opSpans.map(s => s.endMs - s.startMs).sum / n
      val (cgMs, cgN) = tracer.codegen
      val cores = spark.sparkContext.defaultParallelism
      val layer = mutable.LinkedHashMap[String, Double]()
      keys.foreach(k => layer(k) = total(k))
      layer("ops.build_ms") = samples.map(_._2).sum / n
      layer("ops.force_ms") = samples.map(_._3).sum / n
      layer("ops.executions") = total("ops.executions") / a.queries.size
      layer("codegen.compile_ms") = cgMs / n
      layer("codegen.compiles") = cgN / n
      layer("sched.core_util") = total("sched.task_run_ms") / (wallMs * cores)
      layer("sources.rows_read_per_row_out") =
        total("sources.rows_read") / math.max(1L, rowsOut.sum).toDouble
      out("per_layer") = layer.toMap
      out("per_layer_base") = Map("wall_ms_per_pass" -> wallMs, "cores" -> cores,
        "rows_out_per_pass" -> rowsOut.sum, "passes" -> passes.size)
      out("breakdown") = opSpans.map { s =>
        Map("op" -> s.name, "wall_ms" -> (s.endMs - s.startMs)) ++ perOp(s.id)
      }.toSeq
    }
    out.toMap
  }
}
