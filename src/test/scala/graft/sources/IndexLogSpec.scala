package graft.sources

import graft.SparkSpec
import graft.operators.{IvfReference, Retrieval, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{explode, lit, split}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Model-based lifecycle spec of [[IndexLog]] over both index kinds,
  * IVF-PQ and segmented BM25.
  *
  * ScalaCheck draws sequences of steps: append (ids disjoint from every
  * earlier append), delete (ids appended so far, live or not),
  * compaction with an append or a delete committed between its snapshot
  * and its commit, an abandoned uncommitted write (a crash: files no
  * commit lists, a torn manifest) and serve. An in-memory reference set
  * of live ids follows every step, and every serve — after each serve
  * step, compaction and crash, and at the end — must equal brute force
  * over that set: the IVF codes row for row plus driver-side ADC top-k,
  * the BM25 ranking of the scan path over the live documents.
  */
class IndexLogSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Step
  private case class Append(n: Int) extends Step
  private case class Delete(picks: List[Int]) extends Step
  private case class Compact(mid: Step) extends Step
  private case object Crash extends Step
  private case object Serve extends Step

  private val appendGen: Gen[Step] = Gen.choose(3, 12).map(Append(_))
  private val deleteGen: Gen[Step] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 10000))).map(Delete(_))
  private val stepGen: Gen[Step] = Gen.frequency(
    3 -> appendGen,
    3 -> deleteGen,
    2 -> Gen.oneOf(appendGen, deleteGen).map(Compact(_)),
    1 -> Gen.const(Crash),
    2 -> Gen.const(Serve))
  private val runGen: Gen[List[Step]] = for {
    first <- appendGen
    n <- Gen.choose(5, 8)
    rest <- Gen.listOfN(n, stepGen)
  } yield first :: rest

  /** One index under test at a fresh path. */
  private trait Index {
    /** The id column of the index's tombstone files. */
    def idCol: String
    def append(ids: Seq[Long]): Unit
    def delete(ids: Seq[Long]): Unit
    def compact(snap: IndexLog.Snapshot): Unit
    /** Uncommitted files holding `ids`, as a crashed append leaves them. */
    def crash(ids: Seq[Long]): Unit
    def assertServes(live: Set[Long]): Unit
    def close(): Unit
  }

  /** Run `steps` against `index`, checking it against the reference. */
  private def run(index: Index, path: String, steps: List[Step],
                  seen: collection.mutable.Set[String]): Unit = {
    var appended = Vector.empty[Long]
    var deleted = Set.empty[Long]
    def live = appended.toSet -- deleted
    def exec(step: Step): Unit = step match {
      case Append(n) =>
        val ids = appended.size.toLong until (appended.size + n).toLong
        index.append(ids)
        appended ++= ids
      case Delete(picks) =>
        val ids = picks.map(p => appended(p % appended.size)).distinct
        index.delete(ids)
        deleted ++= ids
      case Compact(mid) =>
        val snap = IndexLog.snapshot(spark, path)
        exec(mid)
        index.compact(snap)
        index.assertServes(live)
      case Crash =>
        // debris: rows of live ids again and of ids not appended yet, a
        // tombstone file of live ids and a torn manifest — none of it
        // committed
        val ids = live.toSeq.sorted.take(3) ++
          (appended.size.toLong until appended.size + 3L)
        index.crash(ids)
        live.toSeq.sorted.take(2).toDF(index.idCol).write
          .parquet(s"$path/tombstones/${IndexLog.freshName()}")
        tearNextManifest(path)
        index.assertServes(live)
      case Serve => index.assertServes(live)
    }
    try {
      steps.foreach { step =>
        seen += (step match {
          case Compact(mid) => s"compact+${mid.getClass.getSimpleName}"
          case s => s.getClass.getSimpleName.stripSuffix("$")
        })
        exec(step)
      }
      index.assertServes(live)
    } finally index.close()
  }

  /** Create the next manifest version with content but no `end` line:
    * a commit that crashed mid-write.
    */
  private def tearNextManifest(path: String): Unit = {
    val dir = new Path(path, "_log")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max + 1
    val out = fs.create(new Path(dir, f"$next%020d"), false)
    try out.write("data torn\n".getBytes("UTF-8")) finally out.close()
  }

  /** Check the state machine over `index`es built by `open`, and that
    * the draws covered every kind of step.
    */
  private def checkMachine(open: String => Index): Unit = {
    val seen = collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(runGen) { steps =>
      val path = java.nio.file.Files.createTempDirectory("graft_indexlog_")
        .resolve("idx").toString
      try run(open(path), path, steps, seen)
      finally graft.BenchData.deleteRecursively(new java.io.File(path).getParent)
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    val kinds = Set("Append", "Delete", "Serve", "compact+Append",
      "compact+Delete", "Crash")
    assert(kinds.subsetOf(seen), s"steps never drawn: ${kinds -- seen}")
  }

  // --------------------------------------------------------------- IVF

  private lazy val ivfVecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(71)
    (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
  }
  private lazy val ivfModel = new graft.som.Som(graft.som.SomConfig(2, 2, seed = 42))
    .fit(ivfVecs.toDF("vec_id", "embedding"), "embedding", numEpochs = 1)
  private lazy val pqCb = Similarity.pqCodebookFromRows(
    ivfVecs.take(8).map(_._2.map(_.toDouble).toArray), m = 4)
  /** Every id's (cell, codes), encoded once: the reference rows. */
  private lazy val ivfRows: Map[Long, (Long, Int, Array[Int])] =
    IvfReference.codeRows(Similarity.ivfPqAssign(
        ivfVecs.toDF("vec_id", "embedding"), "embedding", "vec_id", ivfModel,
        pqCb, m = 4, k = 8))
      .map(r => r._1 -> r).toMap
  private lazy val ivfQueries =
    ivfVecs.take(3).map { case (i, v) => (i, v.map(_.toDouble).toArray) }

  private def ivfIndex(path: String): Index = new Index {
    val idCol = "id"
    private def rows(ids: Seq[Long]) =
      ids.map(i => ivfVecs(i.toInt)).toDF("vec_id", "embedding")
    private var built = false
    def append(ids: Seq[Long]): Unit =
      if (built) Similarity.appendToIvfPqIndex(rows(ids), "embedding",
        "vec_id", ivfModel, pqCb, m = 4, k = 8, path, filesPerCell = 1)
      else {
        Similarity.writeIvfPqIndex(rows(ids), "embedding", "vec_id",
          ivfModel, pqCb, m = 4, k = 8, path, filesPerCell = 1)
        built = true
      }
    def delete(ids: Seq[Long]): Unit =
      Similarity.deleteFromIvfIndex(ids.toDF("vec_id"), "vec_id", path)
    def compact(snap: IndexLog.Snapshot): Unit =
      Similarity.compactIvfSnapshot(spark, path, snap, 512L * 1024 * 1024)
    def crash(ids: Seq[Long]): Unit =
      Similarity.writeIvfCodes(Similarity.ivfPqAssign(rows(ids), "embedding",
        "vec_id", ivfModel, pqCb, m = 4, k = 8), path, filesPerCell = 1)
    def assertServes(live: Set[Long]): Unit = {
      val (codes, cb, m, k) = Similarity.readIvfPqIndex(spark, path)
      def key(r: (Long, Int, Array[Int])) = (r._1, r._2, r._3.toSeq)
      val want = live.toSeq.sorted.map(ivfRows)
      assert(IvfReference.codeRows(codes).map(key).sortBy(_._1) == want.map(key))
      val got = IvfReference.collectTopK(Similarity.ivfPqTopKFromCodes(codes,
        ivfModel, cb, m, k, ivfQueries, kNN = 5, nProbe = 2))
      assert(got == IvfReference.adcTopK(want, pqCb, 4, 8, ivfQueries, 5,
        excludeSelf = true, q => IvfReference.probedCells(ivfModel, q, 2)))
    }
    def close(): Unit = ()
  }

  test("IVF-PQ lifecycle: random append/delete/compact/crash sequences serve brute force") {
    checkMachine(ivfIndex)
  }

  // -------------------------------------------------------------- BM25

  private lazy val bm25Docs: IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(73)
    val vocab = Seq("apple", "banana", "cherry", "date", "fig", "grape",
      "kiwi", "lemon")
    (0L until 200L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }
  private val bm25Queries =
    Seq(0L -> "apple banana", 1L -> "cherry fig kiwi", 2L -> "lemon")

  private def bm25Index(path: String): Index = new Index {
    val idCol = "doc_id"
    private val name = s"graft_indexlog_${IndexLog.freshName()}"
    private var segments = 0
    private val tables = collection.mutable.Set.empty[String]
    private def docs(ids: Seq[Long]) = ids.map(i => bm25Docs(i.toInt)).toDF("doc_id", "text")
    def append(ids: Seq[Long]): Unit = {
      Retrieval.appendBm25Segment(docs(ids), "text", "doc_id", name, path,
        nBuckets = 4, segment = s"s$segments")
      tables += s"s$segments"
      segments += 1
    }
    def delete(ids: Seq[Long]): Unit =
      Retrieval.deleteFromBm25Index(ids.toDF("doc_id"), "doc_id", path)
    def compact(snap: IndexLog.Snapshot): Unit = {
      Retrieval.compactBm25Snapshot(spark, name, path, snap, nBuckets = 4)
      tables ++= IndexLog.snapshot(spark, path).data
    }
    // the segment the next append will name: the append must replace
    // these files, which no commit lists
    def crash(ids: Seq[Long]): Unit = {
      val postings = docs(ids)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .groupBy("token", "doc_id").count()
        .select($"token", $"doc_id", lit(1L).as("dl"), $"count".cast("int").as("tf"))
      Retrieval.writeSegment(postings, postings.select($"doc_id", $"dl").distinct(),
        name, path, nBuckets = 4, seg = s"s$segments")
      tables += s"s$segments"
    }
    def assertServes(live: Set[Long]): Unit = {
      val got = Retrieval.bm25TopKSegmented(spark, name, path, bm25Queries, 10)
        .orderBy("qid", "rank").collect().toSeq
      val want = Retrieval.bm25TopK(docs(live.toSeq.sorted), "text", "doc_id",
        bm25Queries, 10).orderBy("qid", "rank").collect().toSeq
      assert(got == want)
    }
    def close(): Unit = tables.foreach(t => Bucketed.drop(spark, s"${name}__$t"))
  }

  test("segmented BM25 lifecycle: random append/delete/compact/crash sequences serve brute force") {
    checkMachine(bm25Index)
  }

  // ------------------------------------------------- the log by itself

  test("commits from concurrent threads all land, one version each") {
    val path = java.nio.file.Files.createTempDirectory("graft_indexlog_").toString
    try {
      val threads = (0 until 8).map { i =>
        new Thread(() => { IndexLog.append(spark, path, s"u$i"); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val snap = IndexLog.snapshot(spark, path)
      assert(snap.version == 7L)
      assert(snap.data.sorted == (0 until 8).map(i => s"u$i"))
    } finally graft.BenchData.deleteRecursively(path)
  }

  test("append rejects a live unit; a compaction whose snapshot a rebuild replaced fails") {
    val path = java.nio.file.Files.createTempDirectory("graft_indexlog_").toString
    try {
      assert(IndexLog.snapshot(spark, path) == IndexLog.Snapshot(-1L, Vector.empty, Vector.empty))
      IndexLog.append(spark, path, "a")
      val e = intercept[IllegalArgumentException](IndexLog.append(spark, path, "a"))
      assert(e.getMessage.contains("'a' is already live"), e.getMessage)
      val snap = IndexLog.snapshot(spark, path)
      IndexLog.overwrite(spark, path, Seq("b"))
      intercept[IllegalStateException](IndexLog.replace(spark, path, snap, Seq("c")))
      assert(IndexLog.snapshot(spark, path).data == Vector("b"))
    } finally graft.BenchData.deleteRecursively(path)
  }
}
