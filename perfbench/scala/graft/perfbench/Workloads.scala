package graft.perfbench

import org.apache.spark.sql.functions._

import graft.operators.Kmeans
import graft.som.{Som, SomConfig, SomModel}

/** Workload sizes. No workload reaches a driver-local path: the
  * som_train input holds more than `localFitThreshold` (2M values) per
  * partition on 4 cores, the som_query set-up fit turns the threshold
  * off, and the k-means input stays above the 65,536-row local-twin
  * threshold.
  */
object Sizes {
  val TrainRows = 150000
  /** A prefix of the som_train table: k-means stays above 65,536 rows. */
  val KmeansRows = 70000
  val Epochs = 10
  val QueryRows = 50000
  /** The som_query model trains on this prefix of the query table. */
  val ModelRows = 20000
  val KmeansK = 64
  val KmeansIters = 10
  /** Rows replayed through the `plans` kernels. */
  val ReplayRows = 20000
}

object SomTrain extends Workload {
  import Sizes._
  val cfg = SomConfig(16, 16, seed = 7L)

  def setup(ctx: Ctx): Unit =
    Gen.write(Gen.table(ctx.spark, ctx.seed, Gen.Stream.Train, 0, TrainRows),
      ctx.path("train"))

  def measure(ctx: Ctx): Unit = {
    val df = ctx.spark.read.parquet(ctx.path("train"))
    // untimed warm-up fit; its codebook is the reference for the
    // documented determinism contract: every fit is bit-identical
    val reference = new Som(cfg).fit(df, "features", Epochs).codebook.weights
    var model: SomModel = null
    ctx.loop {
      ctx.op("som_fit") {
        ctx.recorder.span("som", "fit")(new Som(cfg).fit(df, "features", Epochs))
      }.foreach { case (m, s) =>
        ctx.timed(s)
        ctx.rows += TrainRows.toDouble * Epochs
        ctx.rowsWallS += s.seconds
        ctx.check(s.op, java.util.Arrays.equals(reference, m.codebook.weights),
          "som_fit: codebook differs from the warm-up fit's")
        model = m
      }
    }
    if (model != null) {
      ctx.quantError = model.quantizationError(df)
      if (ctx.traced) {
        val parts = ctx.spark.read.parquet(ctx.path("train")).rdd.getNumPartitions
        val local = Gen.local(ctx.seed, Gen.Stream.Train, 0, TrainRows / parts)
        ctx.perLayer ++= Layers.somKernels(cfg, model.codebook, local, Epochs)
        ctx.perLayer("som.kernel.flops_per_epoch") =
          TrainRows * Layers.epochFlopsPerRow(cfg.x * cfg.y, Gen.Dim)
        ctx.perLayer("som.fit_s") = Stats.median(ctx.opS("som_fit").toSeq)
        ctx.perLayer("som.topo_error") = model.topographicError(df)
        ctx.perLayer ++= Layers.plansKernels(model.codebook.weights, Gen.Dim,
          local.take(ReplayRows))
      }
    }
  }
}

object SomQuery extends Workload {
  import Sizes._
  // set-up training always runs distributed: no small-input probe job
  val cfg = SomConfig(16, 16, seed = 7L, localFitThreshold = 0L)
  private var model: SomModel = _
  private var fitS = 0.0
  // each set-up trains a model, so fewer of them fit in the run budget
  override def setupReps: Int = 3

  val queries = Seq("activation_response", "labels_map", "quantization_error",
    "topographic_error", "quantize", "win_map")

  def setup(ctx: Ctx): Unit = {
    Gen.write(Gen.table(ctx.spark, ctx.seed, Gen.Stream.Labelled, 0, QueryRows),
      ctx.path("labelled"))
    val t0 = System.nanoTime()
    model = new Som(cfg).fit(ctx.spark.read.parquet(ctx.path("labelled"))
      .where(col("id") < ModelRows), "features", Epochs)
    fitS = (System.nanoTime() - t0) / 1e9
  }

  def measure(ctx: Ctx): Unit = {
    val df = ctx.spark.read.parquet(ctx.path("labelled"))
    val n = QueryRows.toLong
    val rec = ctx.recorder
    // the first cycle is an untimed warm-up: it runs every query, unchecked
    var warm = true
    def q[T](name: String)(f: => T): Option[(T, Span)] =
      if (warm) { f; None }
      else ctx.op(name)(rec.span("som", s"query.$name")(f)).map { r =>
        ctx.timed(r._2)
        ctx.rows += n
        ctx.rowsWallS += r._2.seconds
        r
      }
    var topoError = 0.0
    def cycle(): Unit = {
      var wins = Map.empty[Int, Long]
      var qe = Option.empty[(Double, Span)]
      q("activation_response")(model.activationResponse(df).collect()).foreach { case (rows, s) =>
        wins = rows.map(r => r.getInt(0) -> r.getLong(3)).toMap
        ctx.check(s.op, wins.values.sum == n, s"activation_response: counts sum to ${wins.values.sum}, not $n")
      }
      q("labels_map")(model.labelsMap(df, "label").collect()).foreach { case (rows, s) =>
        val total = rows.map(_.getLong(4)).sum
        ctx.check(s.op, total == n, s"labels_map: counts sum to $total, not $n")
      }
      qe = q("quantization_error")(model.quantizationError(df))
      q("topographic_error")(model.topographicError(df)).foreach { case (te, s) =>
        ctx.check(s.op, te >= 0 && te <= 1, s"topographic_error: $te outside [0, 1]")
        topoError = te
      }
      q("quantize")(model.quantize(df).agg(sum("q_dist")).head().getDouble(0)).foreach {
        case (total, s) =>
          qe.foreach { case (e, _) =>
            ctx.check(s.op, math.abs(e - total / n) <= 1e-9,
              s"quantize: mean q_dist ${total / n} != quantizationError $e")
          }
      }
      q("win_map")(model.winMap(df, maxPerNeuron = 50)
          .select(col("bmu_id"), size(col("samples"))).collect()).foreach { case (rows, s) =>
        val sizes = rows.map(r => r.getInt(0) -> r.getInt(1).toLong).toMap
        val expected = wins.map { case (b, c) => b -> math.min(c, 50L) }
        ctx.check(s.op, wins.isEmpty || sizes == expected,
          "win_map: group sizes differ from min(activation count, 50)")
      }
      qe.foreach { case (e, _) => ctx.quantError = e }
    }
    cycle()
    warm = false
    ctx.loop(cycle())
    if (ctx.traced) {
      queries.foreach { name =>
        ctx.perLayer(s"som.query.${name}_s") =
          Stats.median(rec.layerSeconds("som", s"query.$name"))
      }
      ctx.perLayer("som.fit_s") = fitS
      ctx.perLayer("som.topo_error") = topoError
      ctx.perLayer ++= Layers.plansKernels(model.codebook.weights, Gen.Dim,
        Gen.local(ctx.seed, Gen.Stream.Labelled, 0, ReplayRows))
    }
  }
}

object KmeansTrain extends Workload {
  import Sizes._

  def setup(ctx: Ctx): Unit =
    Gen.write(Gen.table(ctx.spark, ctx.seed, Gen.Stream.Train, 0, KmeansRows),
      ctx.path("kmeans"))

  def measure(ctx: Ctx): Unit = {
    val df = ctx.spark.read.parquet(ctx.path("kmeans"))
    def fit() = Kmeans.fit(df, "features", "id", KmeansK, KmeansIters, initMethod = "scalable")
    // untimed warm-up fit; its centroids are the determinism reference
    val reference = fit().flat
    var model: Kmeans.Model = null
    var lastFit = 0L
    ctx.loop {
      ctx.op("kmeans_fit")(ctx.recorder.span("operators", "kmeans.fit")(fit())).foreach {
        case (m, s) =>
          ctx.timed(s)
          ctx.rows += KmeansRows.toDouble * KmeansIters
          ctx.rowsWallS += s.seconds
          val flat = m.flat
          ctx.check(s.op, flat.forall(x => !x.isNaN && !x.isInfinite),
            "kmeans_fit: a centroid is not finite")
          ctx.check(s.op, java.util.Arrays.equals(reference, flat),
            "kmeans_fit: centroids differ from the warm-up fit's")
          model = m
          lastFit = s.op
      }
    }
    if (model != null) {
      val per = Kmeans.assign(df, "features", "id", model)
        .groupBy("cid").agg(count(lit(1)).as("n"), sum(sqrt(col("d2"))).as("dist"))
        .collect()
      val n = per.map(_.getLong(1)).sum
      ctx.check(lastFit, n == KmeansRows, s"kmeans_fit: cluster counts sum to $n, not $KmeansRows")
      ctx.quantError = per.map(_.getDouble(2)).sum / n
      if (ctx.traced) {
        ctx.drainListeners()
        val fits = ctx.measured.filter(_.name == "kmeans_fit").toSeq
        val jobs = fits.flatMap(f => ctx.listener.jobsOf(f.op))
        val (init, lloyd) = jobs.partition(_.callSite.contains("initScalableCentroids"))
        val nf = math.max(fits.size, 1).toDouble
        def secs(js: Seq[JobListener#Job]) = js.map(j => j.endMs - j.startMs).sum / 1000.0 / nf
        ctx.perLayer("operators.kmeans.init_jobs") = init.size / nf
        ctx.perLayer("operators.kmeans.init_s") = secs(init)
        ctx.perLayer("operators.kmeans.lloyd_jobs") = lloyd.size / nf
        ctx.perLayer("operators.kmeans.lloyd_s") = secs(lloyd)
        ctx.perLayer ++= Layers.plansKernels(model.flat, Gen.Dim,
          Gen.local(ctx.seed, Gen.Stream.Train, 0, ReplayRows))
      }
    }
  }
}
