package graft

import graft.som._
import java.nio.file.{Files, Paths}

/** Differential-harness dump: trains the engine under a matrix of
  * configurations from a FIXED init on the sf0.001 embeddings and writes
  * weights + metrics as JSON. `tools/ref_diff.py` replays the identical
  * runs through the reference implementation (pure NumPy locally) and
  * compares — the same oracle-differential strategy as the reference's
  * own test suite (`tests.py`), but against the reference itself.
  */
object RefDump {

  /** `split > 0` trains epochs [0, split) + [split, epochs) as two
    * `fit` calls (the iterBeg/iterEnd resume path) — the reference side
    * replays one-shot, so a PASS proves checkpoint/resume positions the
    * decay schedule exactly like the reference's `train(…, iter_beg,
    * iter_end)` (`xpysom.py:458,541-543`).
    */
  case class Cfg(name: String, config: SomConfig, epochs: Int, split: Int = 0)

  val configs: Seq[Cfg] = Seq(
    Cfg("euclid_gauss_exp", SomConfig(3, 3, sigma = 1.2), 3),
    Cfg("euclid_gauss_5ep", SomConfig(3, 3, sigma = 1.2), 5),
    Cfg("cosine_gauss", SomConfig(3, 3, sigma = 1.2, distance = "cosine"), 3),
    Cfg("manhattan_gauss", SomConfig(3, 3, sigma = 1.2, distance = "manhattan"), 3),
    Cfg("normp3_gauss", SomConfig(3, 3, sigma = 1.2, distance = "norm_p", normP = 3.0), 3),
    // even p exercises the reference's norm_p_power_distance_even branch
    // (distances.py:77-96) against our fused generic loop
    Cfg("normp4_gauss", SomConfig(3, 3, sigma = 1.2, distance = "norm_p", normP = 4.0), 3),
    Cfg("euclid_bubble", SomConfig(3, 3, sigma = 1.2, neighborhood = "bubble"), 3),
    Cfg("euclid_mexican", SomConfig(3, 3, sigma = 1.2, neighborhood = "mexican_hat"), 3),
    Cfg("euclid_triangle", SomConfig(3, 3, sigma = 1.5, neighborhood = "triangle"), 3),
    Cfg("euclid_gauss_linear", SomConfig(3, 3, sigma = 1.2, decay = "linear"), 3),
    Cfg("euclid_gauss_asym", SomConfig(3, 3, sigma = 1.2, decay = "asymptotic"), 3),
    Cfg("hex_gauss", SomConfig(3, 3, sigma = 1.2, topology = "hexagonal"), 3),
    Cfg("hex_bubble", SomConfig(3, 3, sigma = 1.2, topology = "hexagonal",
      neighborhood = "bubble"), 3),
    Cfg("euclid_gauss_compact", SomConfig(3, 3, sigma = 1.8, compactSupport = true), 3),
    Cfg("euclid_split_resume", SomConfig(3, 3, sigma = 1.2), 5, split = 2),
    // compact support through the generic (hex) kernel path
    Cfg("hex_gauss_compact", SomConfig(3, 3, sigma = 1.8, topology = "hexagonal",
      compactSupport = true), 3))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/ref_dump.jsonl")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cores(8))
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
    val initRows = df.orderBy("vec_id").limit(9).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toSeq

    val sb = new StringBuilder
    for (c <- configs) {
      val init = Codebook.fromRows(3, 3, initRows)
      val model = if (c.split > 0) {
        val half = new Som(c.config).fit(df, "embedding", c.epochs,
          init = init, iterEnd = c.split)
        new Som(c.config).fit(df, "embedding", c.epochs,
          init = half.codebook, iterBeg = c.split)
      } else new Som(c.config).fit(df, "embedding", c.epochs, init = init)
      val qe = model.quantizationError(df, "embedding")
      val te = model.topographicError(df, "embedding")
      val dm = model.distanceMap().flatten
      val w = model.codebook.weights
      sb.append(s"""{"name":"${c.name}","epochs":${c.epochs},""")
      sb.append(s""""sigma":${c.config.sigma0},"sigmaN":${c.config.sigmaN},""")
      sb.append(s""""decay":"${c.config.decay}","neighborhood":"${c.config.neighborhood}",""")
      sb.append(s""""topology":"${c.config.topology}","distance":"${c.config.distance}",""")
      sb.append(s""""normP":${c.config.normP},"compact":${c.config.compactSupport},""")
      sb.append(s""""stdCoeff":${c.config.stdCoeff},""")
      // per-sample BMU assignments through the trained model (winner
      // parity check; ordered by vec_id)
      val bmus = model.withBmu(df, "embedding")
        .select("vec_id", "bmu_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1).map(_._2)
      sb.append(s""""qe":$qe,"te":$te,""")
      sb.append(s""""dm":[${dm.mkString(",")}],""")
      sb.append(s""""bmus":[${bmus.mkString(",")}],""")
      sb.append(s""""weights":[${w.mkString(",")}]}""")
      sb.append("\n")
      println(s"[refdump] ${c.name}: qe=$qe te=$te")
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
  }
}
