package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.images.ImageOps
import graft.ml.{AutoCache, LocalServer, SolverCostModel}
import graft.ml.LearningOps.{BlockLeastSquaresEst, CosineRandomFeaturesNode,
  PaddedFFTNode, ZCAWhitenerEst}
import graft.ml.workflow._
import graft.sources.Loaders

/** The `pipelines` workload: three KeystoneML-shaped pipelines on
  * seed-generated inputs, each fitted from training data to a model, then
  * batch-applied with a noop write; the fitted TIMIT chain is compiled with
  * `LocalServer` and serves one datum per call from a single client thread
  * in a closed loop.
  *
  *  - text: documents → Tokenize → NGrams → TermFrequency →
  *    CommonSparseFeatures → cost-model-dispatched LeastSquaresEst (its
  *    chain compiles with LocalServer too, but serves a datum in about a
  *    third of a second on a 4-core host, so it is not served here);
  *  - timit: PaddedFFT → StandardScalerEst → CosineRandomFeatures →
  *    cost-model-dispatched LeastSquaresMultiEst → MaxClassifier;
  *  - cifar: random patches → ZCAWhitenerEst → convolve → rectify → pool
  *    → AutoCache.withCached → BlockLeastSquaresEst (one per class) →
  *    MaxClassifier. Its convolution is a typed Dataset stage, so the
  *    chain is not a pure column program and is not LocalServer-compiled.
  *
  * Output checks (outside the timed region): a held-out accuracy floor
  * per pipeline, and LocalServer output equal to the distributed apply on
  * every served datum. */
object Pipelines {
  val TextDocs = 1000
  val TimitFrames = 2000
  val CifarImages = 800
  val ServePerPass = 1000
  val ServeWarmup = 1000
  val AccuracyFloor = Map("text" -> 0.85, "timit" -> 0.85, "cifar" -> 0.85)

  /** Optimizer choices one fit pass runs under: the AutoCache budget and
    * the solver route (None = the cost model decides). */
  final case class Choices(memBudgetBytes: Long, solverOverride: Option[String])
  val OptimizerOn = Choices(2L << 30, None)
  val OptimizerOff = Choices(1L, Some("block-cd"))

  final case class Fitted(name: String, model: Transformer, server: Option[LocalServer],
      serveCols: Seq[String])

  /** Instruments the fit pass fills in (per pass, summed over pipelines). */
  final class FitStats {
    val estimatorMs = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val routes = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var cacheCandidates = 0
    var cacheAccepted = 0
    var cacheBytes = 0.0
    var compileMs = 0.0
  }

  // --------------------------------------------------------------- inputs

  final case class Inputs(text: DataFrame, frames: DataFrame, images: DataFrame)

  def inputs(spark: SparkSession, dir: String, seed: Long): Inputs = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val common = ("a agg batch big column data fast filter group hash join key line " +
      "merge order part query row scan slow small sort table the value").split(" ")
    val topics = Seq(
      "spark stream window vector shuffle stage task executor driver cache".split(" "),
      "parquet schema column index footer page block codec stripe bloom".split(" "))
    val text = (0 until TextDocs).map { i =>
      val label = rnd.nextInt(2)
      val words = Seq.fill(10 + rnd.nextInt(20)) {
        if (rnd.nextDouble() < 0.25) topics(label)(rnd.nextInt(topics(label).length))
        else common(rnd.nextInt(common.length))
      }
      (i.toLong, words.mkString(" "), if (label == 1) 1.0 else -1.0)
    }.toDF("id", "text", "label")

    val frames = (0 until TimitFrames).map { r =>
      val label = rnd.nextInt(3)
      val phase = rnd.nextDouble() * 2 * math.Pi
      val wave = Array.tabulate(60) { t =>
        math.sin(2 * math.Pi * (3 + 3 * label) * t / 60.0 + phase) + rnd.nextGaussian() * 0.4
      }
      (r.toLong, label, wave)
    }.toDF("id", "label", "wave")

    // CIFAR-format binary records (label byte, then 12x12x1 pixels), read
    // back through the library's own loader
    val px = 12 * 12
    val bytes = new Array[Byte](CifarImages * (1 + px))
    (0 until CifarImages).foreach { r =>
      val label = rnd.nextInt(3)
      bytes(r * (1 + px)) = label.toByte
      (0 until px).foreach { p =>
        val x = p % 12
        val y = p / 12
        // class-specific stripe orientation under pixel noise
        val stripe = label match {
          case 0 => x % 4 < 2
          case 1 => y % 4 < 2
          case _ => (x + y) % 4 < 2
        }
        val v = (if (stripe) 170 else 70) + rnd.nextInt(60) - 30
        bytes(r * (1 + px) + 1 + p) = v.toByte
      }
    }
    val cifarDir = s"$dir/cifar"
    Files.createDirectories(Paths.get(cifarDir))
    Files.write(Paths.get(cifarDir, "data.bin"), bytes)
    // inputs are read back from files, so every fit and apply scans them
    text.write.mode("overwrite").parquet(s"$dir/text.parquet")
    frames.write.mode("overwrite").parquet(s"$dir/frames.parquet")
    Inputs(spark.read.parquet(s"$dir/text.parquet"), spark.read.parquet(s"$dir/frames.parquet"),
      Loaders.cifar(spark, cifarDir, x = 12, y = 12, c = 1))
  }

  private def isTrain(df: DataFrame): DataFrame = df.where(pmod(hash(col("id")), lit(5)) =!= 0)
  private def isTest(df: DataFrame): DataFrame = df.where(pmod(hash(col("id")), lit(5)) === 0)

  // ----------------------------------------------------------- pipelines

  private def timeFit(tracer: Tracer, st: FitStats, est: Estimator, df: DataFrame)
      : Transformer = {
    val cls = est.getClass.getSimpleName
    Main.log(s"fit $cls")
    val (t, ms) = tracer.span(s"fit.$cls", "fit")(est.fit(df))
    st.estimatorMs(cls) += ms
    t
  }

  private def withCache[T](tracer: Tracer, st: FitStats, df: DataFrame, uses: Int,
      ch: Choices)(body: DataFrame => T): T =
    AutoCache.withCached(df, uses, ch.memBudgetBytes) { tr =>
      st.cacheCandidates += 1
      val cached = tr.storageLevel.useMemory
      val r = body(tr)
      if (cached) {
        st.cacheAccepted += 1
        if (tracer.enabled) st.cacheBytes += tr.sparkSession.sparkContext
          .getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum
      }
      r
    }

  /** Call sites of the SQL executions the solver dispatcher runs to probe
    * its problem (k, d, n and density) before `SolverCostModel.choose`
    * prices the routes: the cost-model step as the library pays it. */
  private val SolverProbeSite =
    """graft\.ml\.workflow\$(\.\S*(probeProblem|dispatchLeastSquares)|LeastSquaresMultiEst\.fit)\(""".r

  def fitText(spark: SparkSession, tracer: Tracer, st: FitStats, in: Inputs,
      ch: Choices): Fitted = {
    val featurize = Tokenize("text", "tokens")
      .andThen(NGrams("tokens", "grams", 1, 2))
      .andThen(TermFrequency("grams", "tf"))
      .andThen(Transformer(df => df.withColumn("terms", map_keys(col("tf")))))
    val train = featurize(isTrain(in.text))
    val vocab = timeFit(tracer, st, CommonSparseFeatures("terms", "features", 64), train)
    val trainFeats = vocab(train)
    val est = LeastSquaresEst("features", "label", "score", regParam = 1e-3,
      solverOverride = ch.solverOverride)
    val scorer = withCache(tracer, st, trainFeats, uses = 3, ch)(
      tr => timeFit(tracer, st, est, tr))
    st.routes(est.chosenSolver) += 1
    val model = featurize.andThen(vocab).andThen(scorer)
      .andThen(Transformer(df => df.withColumn("cls", signum(col("score")))))
    Fitted("text", model, None, Nil)
  }

  def fitTimit(spark: SparkSession, tracer: Tracer, st: FitStats, in: Inputs,
      ch: Choices): Fitted = {
    val trainFrames = isTrain(in.frames)
    val fft = PaddedFFTNode("wave", "spec")
    val scaler = timeFit(tracer, st, StandardScalerEst("spec", "z"), fft(trainFrames))
    val featurize = fft.andThen(scaler)
      .andThen(CosineRandomFeaturesNode("z", "rf", dim = 33, numFeatures = 48, gamma = 0.2))
    val train = ClassLabelIndicators("label", "ind", 3)(featurize(trainFrames))
    val est = LeastSquaresMultiEst("rf", "ind", "scores", regParam = 1e-4,
      solverOverride = ch.solverOverride)
    val scorer = withCache(tracer, st, train, uses = 4, ch)(
      tr => timeFit(tracer, st, est, tr))
    st.routes(est.chosenSolver) += 1
    val model = featurize.andThen(scorer).andThen(MaxClassifier("scores", "cls"))
    val cols = Seq("id", "label", "wave")
    val (server, ms) = tracer.span("localserver.compile", "compile")(
      LocalServer.compile(model, spark, in.frames.select(cols.map(col): _*).schema))
    st.compileMs += ms
    Fitted("timit", model, Some(server), cols)
  }

  def fitCifar(spark: SparkSession, tracer: Tracer, st: FitStats, in: Inputs,
      ch: Choices): Fitted = {
    import spark.implicits._
    val imgs = in.images
    val patches = ImageOps.randomPatches(isTrain(imgs), n = 2, w = 3, h = 3)
      .select($"id", $"patch_id", $"image".as("pv"))
    val zca = timeFit(tracer, st, ZCAWhitenerEst("pv", "white"), patches)
    val filters = zca(patches).orderBy($"id", $"patch_id")
      .select($"white").limit(8).collect().map(_.getSeq[Double](0).toArray)
    val featurize = Transformer { df =>
      val conv = ImageOps.convolve(
        df.select($"id", $"x_dim", $"y_dim", $"n_channels", $"image").as[ImageOps.Img],
        filters, fx = 3, fy = 3)
      val pooled = ImageOps.pool(ImageOps.symmetricRectify(conv.toDF(), alpha = 0.0),
        stride = 5, op = "sum")
      ImageOps.vectorize(pooled, out = "features").join(df.select($"id", $"label"), "id")
    }
    val train = ClassLabelIndicators("label", "ind", 3)(featurize(isTrain(imgs)))
    val scorers = withCache(tracer, st, train, uses = 3, ch) { tr =>
      (0 until 3).map { k =>
        timeFit(tracer, st, BlockLeastSquaresEst("features", s"y$k", s"score$k",
          blockSize = 32, numIter = 2, lambda = 1e-4),
          tr.withColumn(s"y$k", element_at($"ind", k + 1)))
      }
    }
    val model = scorers.foldLeft(featurize)(_ andThen _)
      .andThen(ScalarsToVector(Seq("score0", "score1", "score2"), "scores"))
      .andThen(MaxClassifier("scores", "cls"))
    Fitted("cifar", model, None, Nil)
  }

  private def inputOf(f: Fitted, in: Inputs): DataFrame = f.name match {
    case "text" => in.text
    case "timit" => in.frames
    case _ => in.images
  }

  def fitAll(spark: SparkSession, tracer: Tracer, in: Inputs, ch: Choices,
      spans: mutable.ArrayBuffer[Span], fitMs: mutable.Map[String, Double])
      : (Seq[Fitted], FitStats) = {
    val st = new FitStats
    val fitted = Seq[(String, () => Fitted)](
      "text" -> (() => fitText(spark, tracer, st, in, ch)),
      "timit" -> (() => fitTimit(spark, tracer, st, in, ch)),
      "cifar" -> (() => fitCifar(spark, tracer, st, in, ch))).map { case (name, fit) =>
      Main.log(s"fit pipeline $name")
      val op = tracer.begin(s"fit $name", "op")
      val f = try fit() finally { fitMs(name) = tracer.end(op); Main.cleanup(spark) }
      spans += op
      f
    }
    (fitted, st)
  }

  // ----------------------------------------------------------------- run

  def run(spark: SparkSession, tracer: Tracer, a: Main.Args): Map[String, Any] = {
    val in = inputs(spark, a.data, a.seed)
    val failures = mutable.ArrayBuffer.empty[Map[String, String]]
    val serveRows = isTest(in.frames).select(col("id"), col("label"), col("wave")).collect().toSeq
    // warm-up: one untimed fit and apply of every pipeline, and untimed
    // serving calls, so the timed pass measures a warm JVM
    fitAll(spark, tracer, in, OptimizerOn, mutable.ArrayBuffer.empty, mutable.Map.empty)._1
      .foreach { f =>
        f.model(inputOf(f, in)).write.format("noop").mode("overwrite").save()
        f.server.foreach(s => (0 until ServeWarmup).foreach(i => s(serveRows(i % serveRows.size))))
        Main.cleanup(spark)
      }
    tracer.spans.clear()
    Main.log("warm-up done")

    // the timed region: passes of the three fits and applies and
    // ServePerPass datums served in a closed loop, until the seconds are
    // spent (at least Main.MinPasses)
    val firstCall = tracer.nowMs
    tracer.start()
    val root = tracer.begin(a.workload, "workload")
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[Double]
    val passesCpu = mutable.ArrayBuffer.empty[Double]
    val fitMs = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val applyMs = mutable.ArrayBuffer.empty[Double]
    var applyRows = 0L
    val serveUs = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[FitStats]
    var attempted = 0
    var fitted: Seq[Fitted] = Nil
    val inputRows = Map("text" -> TextDocs.toLong, "timit" -> TimitFrames.toLong,
      "cifar" -> CifarImages.toLong)
    val t0 = System.nanoTime()
    while (passes.size < Main.MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val pass = tracer.begin(s"pass ${passes.size}", "pass")
      val cpu0 = Main.cpuS
      attempted += 3
      try {
        val passFitMs = mutable.LinkedHashMap.empty[String, Double]
        val (f, st) = fitAll(spark, tracer, in, OptimizerOn, opSpans, passFitMs)
        passFitMs.foreach { case (p, ms) => fitMs(p) += ms }
        fitted = f
        stats += st
        fitted.foreach { f =>
          attempted += 1
          Main.log(s"apply ${f.name}")
          val op = tracer.begin(s"apply ${f.name}", "op")
          f.model(inputOf(f, in)).write.format("noop").mode("overwrite").save()
          applyMs += tracer.end(op)
          applyRows += inputRows(f.name)
          opSpans += op
          Main.cleanup(spark)
        }
        val server = fitted.find(_.name == "timit").flatMap(_.server).get
        Main.log("serve timit")
        val op = tracer.begin("serve timit", "op")
        (0 until ServePerPass).foreach { i =>
          attempted += 1
          val row = serveRows((passes.size * ServePerPass + i) % serveRows.size)
          val s0 = System.nanoTime()
          server(row)
          serveUs += (System.nanoTime() - s0) / 1e3
        }
        tracer.end(op)
        opSpans += op
      } catch {
        case e: Throwable => failures += Map("op" -> s"pass ${passes.size}", "error" -> e.toString)
      }
      passes += tracer.end(pass) / 1000.0
      passesCpu += Main.cpuS - cpu0
      passSpans += pass
    }
    tracer.end(root)

    // optimizer ablation (traced runs only): the fits again, once with the
    // optimizer's choices and once with the cache declined and a fixed
    // solver route — like against like
    var ablation = Map.empty[String, Double]
    if (tracer.enabled) {
      val abl = tracer.begin("ablation", "ablation")
      try {
        ablation = Seq("on" -> OptimizerOn, "off" -> OptimizerOff).map { case (k, ch) =>
          val ms = mutable.LinkedHashMap.empty[String, Double]
          fitAll(spark, tracer, in, ch, mutable.ArrayBuffer.empty, ms)
          k -> ms.values.sum / 1000.0
        }.toMap
      } catch { case e: Throwable => failures += Map("op" -> "ablation", "error" -> e.toString) }
      tracer.end(abl)
    }
    tracer.stop()

    Main.log("checks")
    val checks = mutable.LinkedHashMap.empty[String, Any]
    fitted.foreach { f =>
      try {
        val scored = f.model(isTest(inputOf(f, in)))
        val label = if (f.name == "text") col("label") else col("label").cast("long")
        val r = scored.agg(avg(when(col("cls") === label, 1.0).otherwise(0.0))).head()
        val acc = r.getDouble(0)
        Main.log(s"accuracy ${f.name} $acc")
        checks(s"accuracy.${f.name}") = acc
        if (!(acc >= AccuracyFloor(f.name)))
          failures += Map("op" -> s"check accuracy ${f.name}",
            "error" -> s"held-out accuracy $acc below floor ${AccuracyFloor(f.name)}")
        f.server.foreach { server =>
          val rows = isTest(inputOf(f, in)).select(f.serveCols.map(col): _*)
          val want = f.model(rows).select(col("id"), col("cls")).collect()
            .map(r => r.getLong(0) -> r.get(1)).toMap
          val served = rows.collect()
          Main.log(s"serving check ${f.name}: ${served.length} datums")
          val mismatches = served.count { row =>
            val got = server(row)
            got.get(got.fieldIndex("cls")) != want(row.getLong(0))
          }
          checks(s"localserver_mismatches.${f.name}") = mismatches
          if (mismatches > 0) failures += Map("op" -> s"check localserver ${f.name}",
            "error" -> s"$mismatches of ${served.length} served datums differ from the batch apply")
        }
      } catch {
        case e: Throwable => failures += Map("op" -> s"check ${f.name}", "error" -> e.toString)
      }
    }

    val n = passes.size.toDouble
    val named = Map(
      "mix_s" -> passes.sum / n,
      "fit_s" -> fitMs.values.sum / 1000.0 / n,
      "apply_rows_per_s" -> applyRows / (applyMs.sum / 1000.0))
    val out = mutable.LinkedHashMap[String, Any](
      "first_call_ms" -> firstCall,
      "passes" -> passes.toSeq, "passes_cpu" -> passesCpu.toSeq,
      "op_s" -> serveUs.map(_ / 1e6).toSeq,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "checks" -> checks, "named" -> named)
    if (tracer.enabled) {
      // values per pass
      val perOp = tracer.opLayers(opSpans.toSeq)
      val keys = perOp.values.headOption.map(_.keys.toSeq).getOrElse(Nil)
      val layer = mutable.LinkedHashMap[String, Double]()
      keys.foreach(k => layer(k) = perOp.values.map(_.getOrElse(k, 0.0)).sum / n)
      val (cgMs, cgN) = tracer.codegen
      val wallMs = opSpans.map(s => s.endMs - s.startMs).sum / n
      val cores = spark.sparkContext.defaultParallelism
      def statSum(f: FitStats => Double) = stats.map(f).sum / n
      layer("ops.executions") = layer.getOrElse("ops.executions", 0.0) * n / opSpans.size
      layer("sources.rows_read_per_row_out") =
        layer.getOrElse("sources.rows_read", 0.0) * n / applyRows
      layer("codegen.compile_ms") = cgMs / n
      layer("codegen.compiles") = cgN / n
      layer("sched.core_util") = layer.getOrElse("sched.task_run_ms", 0.0) / (wallMs * cores)
      fitMs.foreach { case (p, ms) => layer(s"ml.fit_ms.$p") = ms / n }
      stats.flatMap(_.estimatorMs.keys).distinct.foreach(e =>
        layer(s"ml.fit_ms.est.$e") = statSum(_.estimatorMs(e)))
      layer("ml.apply_ms") = applyMs.sum / n
      layer("ml.autocache.candidates") = statSum(_.cacheCandidates)
      layer("ml.autocache.accepted") = statSum(_.cacheAccepted)
      layer("ml.autocache.bytes") = statSum(_.cacheBytes)
      SolverCostModel.ExactnessOrder.foreach(r =>
        layer(s"ml.solver.route.$r") = statSum(_.routes(r)))
      val probes = tracer.sqlExecs.asScala.toSeq.filter(e => passSpans.exists(p =>
        e.startMs >= p.startMs - 1 && e.endMs <= p.endMs + 1) &&
          SolverProbeSite.findFirstIn(e.site).isDefined)
      layer("ml.solver.choose_ms") = probes.map(e => (e.endMs - e.startMs).toDouble).sum / n
      layer("ml.localserver.compile_ms") = statSum(_.compileMs)
      layer("ml.localserver.apply_us") = serveUs.sum / serveUs.size
      layer("ml.optimizer_ratio") =
        ablation.getOrElse("on", Double.NaN) / ablation.getOrElse("off", Double.NaN)
      out("per_layer") = layer.toMap
      out("per_layer_base") = Map("wall_ms_per_pass" -> wallMs, "cores" -> cores,
        "passes" -> passes.size, "ablation_fit_s" -> ablation, "solver_probe_queries" -> probes.size,
        "ablation" -> (s"memBudgetBytes=${OptimizerOff.memBudgetBytes}, " +
          s"solverOverride=${OptimizerOff.solverOverride.get}"))
      out("breakdown") = opSpans.map { s =>
        Map("op" -> s.name, "wall_ms" -> (s.endMs - s.startMs)) ++ perOp(s.id)
      }.toSeq
    }
    out.toMap
  }
}
