package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The commit log of the appendable serving indexes (IVF-SQ/PQ in
  * [[graft.operators.Similarity]], segmented BM25 in
  * [[graft.operators.Retrieval]]): an index at `path` is whatever its
  * newest manifest `path/_log/<version>` lists — the table-as-log design
  * of Delta Lake (Armbrust et al., VLDB 2020).
  *
  * A manifest lists the live data units and the live tombstone files.
  * Data units are opaque names the index picks (an IVF code-file batch,
  * a BM25 segment); a tombstone file is an id-list parquet directory
  * `path/tombstones/<name>`. Readers resolve the newest manifest and
  * read exactly what it lists. They never list a data directory, so
  * files a writer left behind without committing (a crash, an abandoned
  * compaction) are invisible, and superseded files stay on disk unread.
  *
  * COMMIT RULE: a change writes its files under names no other commit
  * uses ([[freshName]]), then commits version `v + 1` over the newest
  * version `v` with create-if-absent (`fs.create(p, overwrite = false)`).
  * When `v + 1` is taken, the change re-reads the newest manifest and
  * applies itself to that state again:
  *  - [[overwrite]] (a full index write) lists only its own units and
  *    no tombstones, so deletes of an earlier build cannot survive a
  *    rebuild;
  *  - [[append]] adds a unit and rejects one that is already live;
  *    [[delete]] adds a tombstone file;
  *  - [[replace]] (compaction) swaps exactly the units and tombstones of
  *    the snapshot it folded for its output and carries over everything
  *    committed after that snapshot. It fails when a later commit has
  *    already removed part of that snapshot (a rebuild, or another
  *    compaction of the same snapshot).
  * So a delete that lands while a compaction runs is either folded (it
  * was in the snapshot) or carried over (it was not), never lost.
  *
  * A manifest's last line is `end`. A manifest without it is a commit
  * torn by a crash mid-write: readers fall back to the newest complete
  * one, and writers number past it.
  *
  * Concurrency: Hadoop's local file system implements create-if-absent
  * as check-then-create, so commits to one path are serialised within a
  * JVM. Commits from several processes are safe only on a store whose
  * create-if-absent is atomic (HDFS).
  */
object IndexLog {

  /** One committed state of an index: the live data units and tombstone
    * files in commit order. Version -1 is the state before any commit.
    */
  final case class Snapshot(version: Long, data: Vector[String],
                            tombstones: Vector[String])

  private val Empty = Snapshot(-1L, Vector.empty, Vector.empty)

  /** A name no other commit uses, for a new data unit or tombstone file
    * (letters and digits only, so it is also a plain table-name token).
    */
  def freshName(): String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** The newest committed state of the index at `path`. */
  def snapshot(spark: SparkSession, path: String): Snapshot = {
    val dir = logDir(path)
    newest(fsOf(spark, dir), dir)._2
  }

  /** Commit `units` as the whole index: no earlier unit or tombstone
    * stays live.
    */
  def overwrite(spark: SparkSession, path: String, units: Seq[String]): Snapshot =
    commit(spark, path)(_ => (units.toVector, Vector.empty))

  /** Commit one more data unit; a unit that is already live is rejected. */
  def append(spark: SparkSession, path: String, unit: String): Snapshot =
    commit(spark, path) { s =>
      require(!s.data.contains(unit), s"'$unit' is already live in $path")
      (s.data :+ unit, s.tombstones)
    }

  /** Write `ids` (one long id column) as a new tombstone file and commit
    * it: readers drop those ids from every live unit.
    */
  def delete(ids: DataFrame, path: String): Snapshot = {
    val name = freshName()
    ids.write.parquet(s"$path/tombstones/$name")
    commit(ids.sparkSession, path)(s => (s.data, s.tombstones :+ name))
  }

  /** Commit `units` in place of exactly `from`'s units and tombstones —
    * the commit of a compaction that folded snapshot `from`. Units and
    * tombstones committed after `from` stay live.
    */
  def replace(spark: SparkSession, path: String, from: Snapshot,
              units: Seq[String]): Snapshot =
    commit(spark, path) { s =>
      val gone = from.data.filterNot(s.data.contains) ++
        from.tombstones.filterNot(s.tombstones.contains)
      if (gone.nonEmpty)
        throw new IllegalStateException(s"compaction of $path at version " +
          s"${from.version} conflicts with a later commit that removed " +
          gone.mkString(", "))
      (s.data.filterNot(from.data.contains) ++ units,
        s.tombstones.filterNot(from.tombstones.contains))
    }

  /** The ids `snap` tombstones, as one long column `idCol`; None when it
    * has none.
    */
  def tombstones(spark: SparkSession, path: String, snap: Snapshot,
                 idCol: String): Option[DataFrame] =
    if (snap.tombstones.isEmpty) None
    else Some(spark.read.schema(s"$idCol LONG")
      .parquet(snap.tombstones.map(t => s"$path/tombstones/$t"): _*))

  private def logDir(path: String): Path = new Path(path, "_log")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (highest version number taken, newest complete state). */
  private def newest(fs: FileSystem, dir: Path): (Long, Snapshot) = {
    val versions =
      try fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .sorted(Ordering.Long.reverse).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    (versions.headOption.getOrElse(-1L),
      versions.iterator.flatMap(v => read(fs, dir, v)).nextOption()
        .getOrElse(Empty))
  }

  private def manifest(dir: Path, version: Long): Path =
    new Path(dir, f"$version%020d")

  private def read(fs: FileSystem, dir: Path, version: Long): Option[Snapshot] = {
    val in = fs.open(manifest(dir, version))
    val lines =
      try new String(in.readAllBytes(), "UTF-8").split("\n").toVector
      finally in.close()
    if (lines.lastOption.contains("end")) {
      def entries(kind: String) = lines.collect {
        case l if l.startsWith(kind + " ") => l.drop(kind.length + 1)
      }
      Some(Snapshot(version, entries("data"), entries("tombstone")))
    } else None
  }

  private val locks = new ConcurrentHashMap[String, Object]()

  /** Commit `next` of the newest state — its (data units, tombstone
    * files) — as the next version; while that version is taken, again
    * over the new newest state.
    */
  private def commit(spark: SparkSession, path: String)
                    (next: Snapshot => (Vector[String], Vector[String])): Snapshot = {
    val dir = logDir(path)
    val fs = fsOf(spark, dir)
    val lock = locks.computeIfAbsent(fs.makeQualified(dir).toString,
      _ => new Object)
    lock.synchronized {
      @annotation.tailrec def attempt(): Snapshot = {
        val (taken, current) = newest(fs, dir)
        val (data, tombstones) = next(current)
        val s = Snapshot(taken + 1, data, tombstones)
        val text = (s.data.map("data " + _) ++
          s.tombstones.map("tombstone " + _) :+ "end").mkString("", "\n", "\n")
        val created =
          try { val out = fs.create(manifest(dir, s.version), false); Some(out) }
          catch { case _: FileAlreadyExistsException => None }
        created match {
          case Some(out) =>
            try out.write(text.getBytes("UTF-8")) finally out.close()
            s
          case None => attempt()
        }
      }
      attempt()
    }
  }
}
