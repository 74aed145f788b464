package graft.operators

import org.apache.spark.sql.DataFrame

/** Driver-side references for the PQ / IVF serving specs: brute-force
  * ADC over collected code rows and the spec's own nearest-cells
  * pruning over a SOM codebook. They share nothing with the serving
  * forms but the codes, the codebook and the per-query ADC table.
  */
object IvfReference {

  /** (qid, rank, nid, score rounded to 6 decimals) — the row shape of
    * every serving form.
    */
  type TopKRow = (Long, Long, Long, Double)

  private val byScoreThenId: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** Spark's `round(x, 6)`: HALF_UP on the decimal form of the double. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def collectTopK(df: DataFrame): Set[TopKRow] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  /** The `nProbe` cells nearest to `q`: squared L2 to every codebook
    * row, ties to the lower cell id.
    */
  def probedCells(model: graft.som.SomModel, q: Array[Double],
                  nProbe: Int): Set[Int] = {
    val cb = model.codebook
    (0 until cb.numNeurons).map { n =>
      var s = 0.0
      for (i <- 0 until cb.dim) {
        val d = q(i) - cb.weights(n * cb.dim + i); s += d * d
      }
      (s, n.toLong)
    }.sorted(byScoreThenId).take(nProbe).map(_._2.toInt).toSet
  }

  /** Collected `(id, cell, codes)` rows of a codes table; `cell` is -1
    * when the table has no `bmu_id` column.
    */
  def codeRows(codes: DataFrame): Seq[(Long, Int, Array[Int])] = {
    val hasCell = codes.columns.contains("bmu_id")
    codes.select("id", (if (hasCell) Seq("bmu_id") else Nil) :+ "codes": _*)
      .collect().toSeq.map { r =>
        (r.getLong(0), if (hasCell) r.getInt(1) else -1,
          r.getSeq[Int](r.length - 1).toArray)
      }
  }

  /** Brute-force ADC top-k: each query scores every row whose cell
    * `probe` admits, ranked (adc asc, nid asc).
    */
  def adcTopK(rows: Seq[(Long, Int, Array[Int])], cb: Array[Double],
              m: Int, k: Int, queries: Seq[(Long, Array[Double])], kNN: Int,
              excludeSelf: Boolean,
              probe: Array[Double] => Int => Boolean = _ => _ => true)
      : Set[TopKRow] =
    queries.flatMap { case (qid, q) =>
      val table = Similarity.pqAdcTable(q, cb, m, k)
      val inCell = probe(q)
      rows.filter { case (id, cell, _) => !(excludeSelf && id == qid) && inCell(cell) }
        .map { case (id, _, code) =>
          var d = 0.0
          for (j <- 0 until m) d += table(j * k + code(j))
          (d, id)
        }
        .sorted(byScoreThenId).take(kNN).zipWithIndex
        .map { case ((d, id), r) => (qid, r + 1L, id, round6(d)) }
    }.toSet
}
