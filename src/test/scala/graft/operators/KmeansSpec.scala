package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** k-means coverage: a naive third Scala implementation differential
  * (the engine's oracle is an independent Python implementation, so the
  * spec adds an independent SCALA one — three implementations must
  * agree), hand-checked tiny geometry, argmin tie-breaks, empty-cluster
  * retention, partitioning invariance of the DECIMAL update sums, and
  * the IVF serving path's cell pruning.
  */
class KmeansSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: same init order, same sequential distance loop,
    * same DECIMAL update arithmetic, written independently of the
    * operator (driver-side loops over plain collections).
    */
  private def naiveFit(rows: Seq[(Long, Array[Double])], k: Int,
                       iters: Int, salt: String,
                       farthest: Boolean = false,
                       initC: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    def h(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$salt:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def d2To(v: Array[Double], set: Seq[Array[Double]]): Double =
      set.map { w =>
        var d = 0.0
        for (i <- w.indices) { val t = v(i) - w(i); d += t * t }
        d
      }.min
    val seeded = rows.sortBy { case (id, _) => (h(id), id) }
    val c =
      if (initC.isDefined) initC.get.map(_.clone())
      else if (!farthest) seeded.take(k).map(_._2.clone()).toArray
      else {
        val picked = scala.collection.mutable.ArrayBuffer(seeded.head._2.clone())
        while (picked.length < k) {
          // max min-distance to the set, ties to the LOWEST id
          val best = rows.map { case (id, v) =>
            (d2To(v, picked.toSeq), id, v)
          }.minBy { case (d, id, _) => (-d, id) }
          picked += best._3.clone()
        }
        picked.toArray
      }
    val dim = c(0).length
    for (_ <- 0 until iters) {
      val members = Array.fill(k)(List.newBuilder[Array[Double]])
      rows.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        for (j <- 0 until k) {
          var d = 0.0
          for (i <- 0 until dim) { val t = v(i) - c(j)(i); d += t * t }
          if (d < bestD) { bestD = d; best = j }
        }
        members(best) += v
      }
      for (j <- 0 until k) {
        val m = members(j).result()
        if (m.nonEmpty) for (i <- 0 until dim) {
          val s = m.map(v => BigDecimal(v(i))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
          c(j)(i) = (s / m.size).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        }
      }
    }
    c
  }

  test("driver-local fast path == forced-distributed fit, bit-for-bit, all inits") {
    val (_, df) = synth(220, 5, parts = 7)
    for (init <- Seq("hash", "farthest", "scalable")) {
      // default dispatch takes the local twin at 220 rows;
      // localMaxRows = 0 forces the distributed loop — identical bits
      val loc = Kmeans.fit(df, "embedding", "vec_id", k = 5, iters = 4,
        salt = "lp", initMethod = init)
      val dist = Kmeans.fit(df, "embedding", "vec_id", k = 5, iters = 4,
        salt = "lp", initMethod = init, localMaxRows = 0L)
      for (j <- 0 until 5)
        assert(loc.centroids(j).sameElements(dist.centroids(j)),
          s"init=$init centroid $j diverges between local and distributed")
    }
  }

  test("scalable init: driver-local twin == forced-distributed rounds, bit-for-bit") {
    // large enough that every oversampling round selects candidates and
    // the weighted greedy does real work (k=24 -> ell=48 over 600 rows)
    val (_, df) = synth(600, 6, parts = 9)
    val loc = Kmeans.initScalableCentroids(df, "embedding", "vec_id",
      k = 24, salt = "sc")
    val dist = Kmeans.initScalableCentroids(df, "embedding", "vec_id",
      k = 24, salt = "sc", localMaxRows = 0L)
    assert(loc.length == 24 && dist.length == 24)
    for (j <- 0 until 24)
      assert(loc(j).sameElements(dist(j)),
        s"scalable-init centroid $j diverges between local and distributed")
  }

  test("scalable init pad path: local twin == distributed on a degenerate corpus") {
    // 10 identical vectors: phi = 0 after the seed, so no oversampling
    // round ever selects -> the greedy stops at 1 and the md5-ordered
    // pad fills the rest, on both dispatch arms
    val rows = (0 until 10).map(i => (i.toLong, Seq.fill(4)(0.25)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .repartition(3)
    val loc = Kmeans.initScalableCentroids(df, "embedding", "vec_id",
      k = 6, salt = "pd")
    val dist = Kmeans.initScalableCentroids(df, "embedding", "vec_id",
      k = 6, salt = "pd", localMaxRows = 0L)
    assert(loc.length == 6 && dist.length == 6)
    for (j <- 0 until 6)
      assert(loc(j).sameElements(dist(j)),
        s"pad-path centroid $j diverges between local and distributed")
  }

  private def synth(n: Int, dim: Int, parts: Int) = {
    val rows = (0 until n).map { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    }
    (rows, spark.createDataFrame(rows.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding").repartition(parts))
  }

  test("engine == naive third implementation (init, every iteration, assignment)") {
    val (rows, df) = synth(120, 6, parts = 5)
    val exp = naiveFit(rows, k = 4, iters = 4, salt = "spec")
    val got = Kmeans.fit(df, "embedding", "vec_id", k = 4, iters = 4,
      salt = "spec")
    assert(got.k == 4 && got.dim == 6)
    for (j <- 0 until 4)
      assert(got.centroids(j).sameElements(exp(j)),
        s"centroid $j diverged from the naive implementation")
  }

  test("k = 24, dim = 16 (the centroid-wide sweep): local == distributed == naive, hash and scalable") {
    val (rows, df) = synth(480, 16, parts = 5)
    for (init <- Seq("hash", "scalable")) {
      val loc = Kmeans.fit(df, "embedding", "vec_id", k = 24, iters = 4,
        salt = "sw", initMethod = init)
      val dist = Kmeans.fit(df, "embedding", "vec_id", k = 24, iters = 4,
        salt = "sw", initMethod = init, localMaxRows = 0L)
      // Lloyd's from the same start, written independently; the
      // scalable start is the distributed rounds' own
      val start =
        if (init == "scalable")
          Some(Kmeans.initScalableCentroids(df, "embedding", "vec_id",
            k = 24, salt = "sw", localMaxRows = 0L))
        else None
      val exp = naiveFit(rows, k = 24, iters = 4, salt = "sw", initC = start)
      for (j <- 0 until 24) {
        assert(loc.centroids(j).sameElements(dist.centroids(j)),
          s"init=$init centroid $j diverges between local and distributed")
        assert(dist.centroids(j).sameElements(exp(j)),
          s"init=$init centroid $j diverged from the naive implementation")
      }
    }
  }

  test("farthest-first init == naive third implementation; picks the extremes") {
    val (rows, df) = synth(80, 5, parts = 3)
    val exp = naiveFit(rows, k = 3, iters = 3, salt = "spec", farthest = true)
    val got = Kmeans.fit(df, "embedding", "vec_id", k = 3, iters = 3,
      salt = "spec", initMethod = "farthest")
    for (j <- 0 until 3)
      assert(got.centroids(j).sameElements(exp(j)),
        s"farthest-init centroid $j diverged from the naive implementation")

    // geometry: on a line of points the second seed is the extreme
    // farthest from the first, and the third matches the naive
    // max-min-distance rule (ties at equal min-distance go to the
    // LOWEST id — e.g. first=7 picks 0, then 3, not the far end: ids
    // 3, 4 and 10 all sit at min-d2 = 9 from {7, 0})
    val line = (0L until 11L).map(i => (i, Seq(i.toDouble)))
    val ldf = spark.createDataFrame(line).toDF("vec_id", "embedding")
    val init = Kmeans.initFarthestCentroids(ldf, "embedding", "vec_id", k = 3)
    val first = init(0)(0)
    assert(init(1)(0) == (if (first <= 5.0) 10.0 else 0.0),
      s"second seed ${init(1)(0)} is not the extreme farthest from $first")
    val naiveLine = naiveFit(line.map { case (i, v) => (i, v.toArray) },
      k = 3, iters = 0, salt = "km", farthest = true)
    assert(init.map(_(0)).sameElements(naiveLine.map(_(0))))
    intercept[IllegalArgumentException] {
      Kmeans.fit(ldf, "embedding", "vec_id", k = 2, iters = 1,
        initMethod = "kmeans++")
    }
  }

  test("scalable (k-means||-style) init: partitioning-invariant, k distinct, spread") {
    val (_, df) = synth(150, 6, parts = 3)
    val a = Kmeans.fit(df, "embedding", "vec_id", k = 6, iters = 2,
      salt = "spec", initMethod = "scalable")
    val b = Kmeans.fit(df.repartition(11), "embedding", "vec_id", k = 6,
      iters = 2, salt = "spec", initMethod = "scalable")
    for (j <- 0 until 6)
      assert(a.centroids(j).sameElements(b.centroids(j)),
        s"scalable init centroid $j not partitioning-invariant")
    // the raw init (0 iters) must pick k DISTINCT rows
    val init = Kmeans.fit(df, "embedding", "vec_id", k = 6, iters = 0,
      salt = "spec", initMethod = "scalable")
    assert(init.centroids.map(_.toSeq).distinct.length == 6)
  }

  test("scalable init on two tight clusters seeds both (the k-means|| point)") {
    // 40 points at ~(0,...), 40 at ~(10,...): a hash sample can miss a
    // cluster at small k; the d2-weighted oversampling must not
    val rows = (0 until 80).map { i =>
      val rnd = new scala.util.Random(i * 31 + 7)
      val base = if (i < 40) 0.0 else 10.0
      (i.toLong, Array.fill(4)(base + rnd.nextDouble() * 0.1))
    }
    val df = spark.createDataFrame(rows.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding")
    val init = Kmeans.fit(df, "embedding", "vec_id", k = 2, iters = 0,
      salt = "spec", initMethod = "scalable")
    val sides = init.centroids.map(c => if (c(0) > 5.0) 1 else 0).toSet
    assert(sides == Set(0, 1), "scalable init failed to seed both clusters")
  }

  test("scalable init pad path: duplicate-heavy corpus still yields k centroids") {
    // all rows share ONE vector -> phi = 0 after the seed, no candidate
    // is ever d2-selected, and the hash-pad path must fill the rest
    val rows = (0 until 10).map(i => (i.toLong, Seq(1.0, 2.0, 3.0)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val init = Kmeans.fit(df, "embedding", "vec_id", k = 4, iters = 0,
      salt = "spec", initMethod = "scalable")
    assert(init.k == 4)
    assert(init.centroids.forall(_.sameElements(Array(1.0, 2.0, 3.0))))
  }

  test("farthest-first k-guard: large k is rejected toward the scalable path") {
    val (_, df) = synth(20, 3, parts = 2)
    val e = intercept[IllegalArgumentException] {
      Kmeans.initFarthestCentroids(df, "embedding", "vec_id",
        k = Kmeans.farthestMaxK + 1)
    }
    assert(e.getMessage.contains("scalable"))
  }

  test("hand geometry: two obvious clusters land on their means") {
    // two tight groups on a line; k=2 separates them in one iteration
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.2, 0.0)), (2L, Array(0.4, 0.0)),
      (10L, Array(10.0, 0.0)), (11L, Array(10.2, 0.0)), (12L, Array(10.4, 0.0)))
    val df = spark.createDataFrame(pts.map { case (i, v) => (i, v.toSeq) })
      .toDF("vec_id", "embedding")
    val m = Kmeans.fit(df, "embedding", "vec_id", k = 2, iters = 3)
    val xs = m.centroids.map(_(0)).sorted
    assert(math.abs(xs(0) - 0.2) < 1e-9 && math.abs(xs(1) - 10.2) < 1e-9)
    val a = Kmeans.assign(df, "embedding", "vec_id", m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(a(0L), a(1L), a(2L)).size == 1)
    assert(Set(a(10L), a(11L), a(12L)).size == 1)
    assert(a(0L) != a(10L))
  }

  test("argmin ties go to the lowest cid; empty clusters keep their centroid") {
    // centroids at -1 and +1; the point at 0 is equidistant -> cid of
    // the LOWER-id centroid. One far point owns the other cluster.
    val m = Kmeans.Model(Array(Array(-1.0), Array(1.0)))
    val df = Seq((0L, Seq(0.0))).toDF("vec_id", "embedding")
    val got = Kmeans.assign(df, "embedding", "vec_id", m).head()
    assert(got.getLong(1) == 0L, "equidistant point must take the lowest cid")
    assert(got.getDouble(2) == 1.0)

    // k=2 over two identical points: both land in one cluster; the
    // other cluster's centroid must survive the update untouched
    val dup = Seq((0L, Seq(5.0)), (1L, Seq(5.0))).toDF("vec_id", "embedding")
    val m2 = Kmeans.fit(dup, "embedding", "vec_id", k = 2, iters = 2)
    assert(m2.centroids.exists(_.sameElements(Array(5.0))))
    // the empty cluster still holds one of the two (identical) init
    // vectors — unchanged by iterations with no members
    assert(m2.centroids.forall(_.sameElements(Array(5.0))))
  }

  test("fit is partitioning-invariant (DECIMAL update sums)") {
    val (_, df1) = synth(90, 5, parts = 1)
    val (_, df7) = synth(90, 5, parts = 7)
    val a = Kmeans.fit(df1, "embedding", "vec_id", k = 3, iters = 3)
    val b = Kmeans.fit(df7, "embedding", "vec_id", k = 3, iters = 3)
    for (j <- 0 until 3)
      assert(a.centroids(j).sameElements(b.centroids(j)),
        s"centroid $j moved under repartitioning")
  }

  test("centroidsDf populations sum to the corpus; ivfTopK prunes to probed cells") {
    val (rows, df) = synth(100, 4, parts = 4)
    val m = Kmeans.fit(df, "embedding", "vec_id", k = 4, iters = 2)
    val cdf = Kmeans.centroidsDf(df, "embedding", "vec_id", m).collect()
    assert(cdf.length == 16) // k * dim
    val perCid = cdf.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).toSet)
    assert(perCid.values.forall(_.size == 1), "n must be constant per cid")
    assert(perCid.values.map(_.head).sum == 100L)

    val qs = rows.take(3).map { case (id, v) => (id, v) }
    val topk = Kmeans.ivfTopK(df, "embedding", "vec_id", qs, k = 5,
      kClusters = 4, iters = 2, nProbe = 2)
    val got = topk.collect()
    assert(got.nonEmpty)
    // ranks contiguous from 1 per qid; neighbors never include the query
    got.groupBy(_.getLong(0)).foreach { case (qid, g) =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to g.length))
      assert(!g.exists(_.getLong(2) == qid))
    }
    // recall sanity vs brute force: probing 2/4 cells finds most of
    // the true top-5 (deterministic inputs -> deterministic recall)
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((brute & ivf).size >= brute.size / 2)
  }

  test("qualityDf: tight separated clusters score near 1; zero-distance ties score 0") {
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.2, 0.0)), (2L, Array(0.4, 0.0)),
      (10L, Array(10.0, 0.0)), (11L, Array(10.2, 0.0)), (12L, Array(10.4, 0.0)))
    val df = spark.createDataFrame(pts.map { case (i, v) => (i, v.toSeq) })
      .toDF("vec_id", "embedding")
    val m = Kmeans.fit(df, "embedding", "vec_id", k = 2, iters = 3)
    val q = Kmeans.qualityDf(df, "embedding", "vec_id", m).collect()
    assert(q.length == 2)
    q.foreach { r =>
      assert(r.getLong(1) == 3L)
      // a <= 0.2, b ~ 9.8..10.2 -> silhouette ~ (b-a)/b > 0.97
      assert(r.getDouble(2) > 0.97, s"silhouette ${r.getDouble(2)}")
      assert(r.getDouble(3) < 0.21, s"avg_dist ${r.getDouble(3)}")
    }
    // a point sitting exactly ON two coincident centroids: a = b = 0
    // -> the 0-by-convention branch (not NaN)
    val m2 = Kmeans.Model(Array(Array(5.0), Array(5.0)))
    val one = Seq((0L, Seq(5.0))).toDF("vec_id", "embedding")
    val r2 = Kmeans.qualityDf(one, "embedding", "vec_id", m2).head()
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(3) == 0.0)
    intercept[IllegalArgumentException] {
      Kmeans.qualityDf(one, "embedding", "vec_id",
        Kmeans.Model(Array(Array(5.0))))
    }
  }

  test("partitioned index serves identically to inline ivfTopK and PRUNES to probed cells") {
    val (rows, df) = synth(300, 8, parts = 4)
    val qs = rows.take(2).map { case (id, v) => (id, v) }
    val model = Kmeans.fit(df, "embedding", "vec_id", k = 9, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("kmindex").toFile
    val path = new java.io.File(dir, "index").getAbsolutePath
    try {
      Kmeans.writeAssignedIndex(df, "embedding", "vec_id", model, path)
      val index = spark.read.parquet(path)
      val got = Kmeans.topKAssigned(index, model, "vec", "vec_id", qs,
        k = 5, nProbe = 2)
      val inline = Kmeans.ivfTopK(df, "embedding", "vec_id", qs, k = 5,
        kClusters = 9, iters = 2, nProbe = 2)
      assert(got.collect().map(_.toString).sorted
        .sameElements(inline.collect().map(_.toString).sorted))
      // static partition pruning: the isin on the partition column must
      // reach the scan, and only the probed cells' dirs get listed
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
        }.flatten
      val scans = scansOf(got.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected a file scan over the index")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "cid")),
        s"no partition filter on cid: ${scan.metadata.get("PartitionFilters")}")
      val partsRead = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).length
      assert(partsRead <= 4, // 2 queries x nProbe=2, minus shared cells
        s"index scan read $partsRead partitions, expected <= 4 of 9")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("balancedSample: exact n per populous cell, undersized cells keep all, invariant") {
    val (_, df) = synth(200, 4, parts = 5)
    val m = Kmeans.fit(df, "embedding", "vec_id", k = 4, iters = 3)
    val sizes = Kmeans.assign(df, "embedding", "vec_id", m)
      .groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sample = Kmeans.balancedSample(df, "embedding", "vec_id", m, perCell = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perCell = sample.groupBy(_._1).view.mapValues(_.length).toMap
    sizes.foreach { case (cid, n) =>
      assert(perCell(cid) == math.min(15L, n).toInt,
        s"cell $cid: ${perCell(cid)} sampled of $n")
    }
    assert(sample.map(_._2).distinct.length == sample.length, "duplicate picks")
    // content-keyed: repartitioning does not move the selection
    val again = Kmeans.balancedSample(df.repartition(13), "embedding",
      "vec_id", m, perCell = 15).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sample.sorted.sameElements(again.sorted))
  }

  test("scale9 fast path == BigDecimal derivation on adversarial values") {
    def slow(x: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    graft.plans.KmeansKernelSpec.scale9Corpus.foreach { x =>
      assert(graft.plans.VecScale9Kernel.scale9(x) == slow(x), s"x=$x")
    }
    intercept[IllegalArgumentException] {
      graft.plans.VecScale9Kernel.scale9(Double.NaN)
    }
    intercept[ArithmeticException] {
      graft.plans.VecScale9Kernel.scale9(1e10)
    }
  }

  test("validation: bad k, too-few rows, mismatched dims rejected") {
    val df = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Kmeans.fit(df, "embedding", "vec_id", k = 0, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Kmeans.fit(df, "embedding", "vec_id", k = 2, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Kmeans.Model(Array(Array(1.0), Array(1.0, 2.0)))
    }
  }
}
