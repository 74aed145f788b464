package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The IVF probe ranks cells by the bits its index was assigned with: an
  * indexed row queried at `nProbe = 1` probes the cell the build put it
  * in, near ties between two cells included — through SOM-IVF
  * ([[Similarity.somTopKAssigned]]), IVF-SQ
  * ([[Similarity.ivfSqTopKFromCodes]]) and k-means IVF
  * ([[Kmeans.topKAssigned]]).
  */
class CellProbeSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  /** `draws` rows on the midpoint of each cell of `table` (k x dim) and
    * its nearest other cell, plus 1e-13 noise, with ids from `from`.
    */
  private def corpus(table: Array[Double], from: Long, rnd: scala.util.Random,
                     draws: Int): Seq[(Long, Array[Double])] = {
    val k = table.length / dim
    val ties = for (j <- 0 until k; _ <- 0 until draws) yield {
      val other = (0 until k).filter(_ != j).minBy { o =>
        (0 until dim).map(f => math.pow(table(j * dim + f) - table(o * dim + f), 2)).sum
      }
      Array.tabulate(dim)(f => (table(j * dim + f) + table(other * dim + f)) / 2 +
        1e-13 * rnd.nextGaussian())
    }
    ties.zipWithIndex.map { case (v, i) => (from + i, v) }
  }

  // centred away from the origin: the dot products, and so their
  // rounding, are a few hundred times the 1e-13 noise
  private lazy val base: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(7)
    val centres = Array.fill(12)(Array.fill(dim)(4.0 + rnd.nextGaussian()))
    // 600 rows around 12 centres
    (0 until 600).map { i =>
      val c = centres(i % centres.length)
      (i.toLong, Array.tabulate(dim)(f => c(f) + 0.3 * rnd.nextGaussian()))
    }
  }

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding").repartition(3)

  /** Every answer of `served` (qid, rank, nid, ...) lies in the query's
    * own cell, and each query finds all the other rows of its cell.
    */
  private def probedOwnCell(what: String, served: DataFrame, cellOf: Map[Long, Int],
                            queries: Seq[Long]): Unit = {
    val got = served.select("qid", "nid").as[(Long, Long)].collect().groupBy(_._1)
    val members = cellOf.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    val wrong = queries.filter { q =>
      val nids = got.getOrElse(q, Array.empty[(Long, Long)]).map(_._2).toSet
      nids != members(cellOf(q)) - q
    }
    assert(wrong.isEmpty, s"$what: ${wrong.size} of ${queries.size} queries probed " +
      s"another cell than their own, e.g. ${wrong.take(5).mkString(", ")}")
  }

  test("an indexed row probes its build-time cell at nProbe = 1, near ties included") {
    val som = new graft.som.Som(graft.som.SomConfig(4, 4, seed = 5))
      .fit(frame(base), "embedding", numEpochs = 3)
    val rows = base ++ corpus(som.codebook.weights, 10000L, new scala.util.Random(11), 40)
    val df = frame(rows)
    val queries = rows.map(_._1).filter(_ >= 10000L) ++ base.take(40).map(_._1)
    val qs = queries.map(q => q -> rows.find(_._1 == q).get._2)
    val kNN = rows.size
    val assigned = som.withBmu(df, "embedding").cache()
    val cellOf = assigned.select("vec_id", "bmu_id").as[(Long, Int)].collect().toMap
    probedOwnCell("SOM-IVF", Similarity.somTopKAssigned(assigned, som, "embedding",
      "vec_id", qs, kNN, nProbe = 1), cellOf, queries)
    val sq = Similarity.sqTrain(df, "embedding")
    val codes = Similarity.ivfSqAssign(df, "embedding", "vec_id", som, sq)
    probedOwnCell("IVF-SQ", Similarity.ivfSqTopKFromCodes(codes, som, sq, qs, kNN,
      nProbe = 1), cellOf, queries)
    assigned.unpersist()

    val km = Kmeans.fit(frame(base), "embedding", "vec_id", k = 12, iters = 3)
    val kmRows = base ++ corpus(km.flat, 20000L, new scala.util.Random(17), 40)
    val kmQueries = kmRows.map(_._1).filter(_ >= 20000L) ++ base.take(40).map(_._1)
    val dir = java.nio.file.Files.createTempDirectory("cellprobe").toString
    try {
      Kmeans.writeAssignedIndex(frame(kmRows), "embedding", "vec_id", km, s"$dir/index")
      val index = spark.read.parquet(s"$dir/index")
      val kmCellOf = index.select($"vec_id", $"cid".cast("int")).as[(Long, Int)]
        .collect().toMap
      probedOwnCell("k-means IVF", Kmeans.topKAssigned(index, km, "vec", "vec_id",
        kmQueries.map(q => q -> kmRows.find(_._1 == q).get._2), kmRows.size, nProbe = 1),
        kmCellOf, kmQueries)
    } finally graft.BenchData.deleteRecursively(dir)
  }
}
