package graft.som

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** One winner per row from training to serving: the `bmu_id` a served
  * query gives a row ([[SomModel.withBmu]]), the winner the training
  * epoch's [[SomKernels.partitionUpdate]] adds the row under, and the
  * argmin of [[SomModel.activate]] are one neuron — under every
  * distance name, on a fitted map and on rows built to sit on near ties
  * between two neurons.
  */
class ServedWinnerSpec extends SparkSpec {
  import spark.implicits._

  private val distances = Seq("euclidean", "euclidean_no_opt", "cosine",
    "manhattan", "manhattan_no_opt", "norm_p", "norm_p_no_opt")

  private def under(m: SomModel, distance: String): SomModel =
    new SomModel(m.config.copy(distance = distance, normP = 3.0), m.codebook)

  /** (served bmu_id, argmin of the activation) by row id. */
  private def servedAndActivated(m: SomModel, df: DataFrame): Map[Long, (Int, Int)] = {
    val k = m.x * m.y
    m.activate(m.withBmu(df, "features"), "features")
      .select("id", "bmu_id", "activation").rdd
      .map { r =>
        val wins = new Array[Int](1)
        Distances.argminRows(r.getSeq[Double](2).toArray, 1, k, wins)
        r.getLong(0) -> ((r.getInt(1), wins(0)))
      }
      .collect().toMap
  }

  /** A 16x16 map fitted on a 20-centre Gaussian mixture, and its rows. */
  private lazy val (fitted, rows) = {
    val rnd = new scala.util.Random(16)
    val dim = 32
    val centres = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = Array.tabulate(3000) { i =>
      val c = centres(i % centres.length)
      Array.tabulate(dim)(f => (c(f) + 0.3 * rnd.nextGaussian()).toFloat)
    }
    val df = rows.toSeq.map(_.toSeq).toDF("features")
    (new Som(SomConfig(16, 16, seed = 3)).fit(df, "features", numEpochs = 5), rows)
  }

  test("a fitted 16x16 map: served bmu_id == partitionUpdate winner == argmin of activate, every distance") {
    val df = rows.toSeq.zipWithIndex.map { case (r, i) => (i.toLong, r.toSeq) }
      .toDF("id", "features").repartition(3)
    val (k, dim) = (256, fitted.dim)
    for (distance <- distances) {
      val m = under(fitted, distance)
      val got = servedAndActivated(m, df)
      rows.indices.foreach { i =>
        val (served, activated) = got(i.toLong)
        assert(served == activated, s"$distance row $i: served $served, activate $activated")
      }
      // the epoch's per-winner counts and exact sums, against the rows
      // added under their served winners
      val w = m.codebook.weights
      val wSq = if (m.config.distanceFn.canCache) m.codebook.rowSumSq() else null
      val (sums, counts) = SomKernels.partitionUpdate(rows.iterator, w, wSq, m.config)
      val expSums = new ExactSum(k * dim)
      val expCounts = new Array[Long](k)
      rows.indices.foreach { i =>
        val b = got(i.toLong)._1
        expSums.add(b * dim, rows(i).map(_.toDouble), 0, dim)
        expCounts(b) += 1
      }
      assert(counts.sameElements(expCounts), s"$distance: per-winner counts")
      assert(sums.values().map(java.lang.Double.doubleToLongBits)
        .sameElements(expSums.values().map(java.lang.Double.doubleToLongBits)),
        s"$distance: per-winner sums")
    }
  }

  test("near-tie rows: served bmu_id == training kernel winner == argmin of activate, every distance") {
    // midpoints of each neuron and its nearest other neuron, plus 1e-13
    // noise: two neurons within rounding of each other
    val w = fitted.codebook.weights
    val (k, dim) = (256, fitted.dim)
    val rnd = new scala.util.Random(13)
    val ties = for (j <- 0 until k; draw <- 0 until 24) yield {
      val other = (0 until k).filter(_ != j).minBy { o =>
        (0 until dim).map(f => math.pow(w(j * dim + f) - w(o * dim + f), 2)).sum
      }
      Array.tabulate(dim)(f => (w(j * dim + f) + w(other * dim + f)) / 2 +
        1e-13 * rnd.nextGaussian())
    }
    val df = ties.zipWithIndex.map { case (r, i) => (i.toLong, r.toSeq) }
      .toDF("id", "features").repartition(4)
    for (distance <- distances) {
      val m = under(fitted, distance)
      val got = servedAndActivated(m, df)
      // the training batch: partitionUpdate's distance call and argmin
      val d = new Array[Double](ties.length * k)
      m.config.distanceFn.compute(ties.flatten.toArray, ties.length, w, k, dim, null, d)
      val trained = new Array[Int](ties.length)
      Distances.argminRows(d, ties.length, k, trained)
      val wrong = ties.indices.filter { i =>
        val (served, activated) = got(i.toLong)
        served != trained(i) || activated != trained(i)
      }
      assert(wrong.isEmpty, s"$distance: ${wrong.size} of ${ties.length} rows disagree, " +
        wrong.take(5).map(i => s"row $i: served/activate/trained ${got(i.toLong)} ${trained(i)}")
          .mkString("; "))
    }
  }
}
