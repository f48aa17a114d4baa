package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.{NioLocalFileSystem, SparkSpec}

/** An erase that loses its manifest publish to a concurrent writer, on
  * both indexes. A test filesystem publishes a racer's manifest (a copy
  * of the one the erase read) at the version the erase is about to
  * claim, just as the erase stages its manifest text, so the erase's
  * atomic publish finds the target taken. The erase must then drop the
  * erase segments it staged, redo the erase against the winner and land
  * the same content; with no retries left it must surface the
  * [[ConcurrentWriteException]] and leave nothing staged. */
class IndexEraseRaceSpec extends SparkSpec {
  import IndexEraseRaceSpec.Store
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark join fast spark"),
    (1L, "join slow table join join"),
    (2L, "spark spark spark"),
    (3L, "hash merge batch"),
    (4L, "fast fast join spark table"),
    (5L, "merge table scan window")).toDF("doc_id", "text")

  private val vecs = (0 until 12).map(i =>
    (i.toLong, Array((i % 3).toFloat, (i / 3).toFloat * 0.5f)))
    .toDF("vec_id", "embedding")

  private def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(_.toString)

  private val stores = Seq(
    // docs 1 and 4 hold 5 tokens each: N 6 → 4, Σdl 24 → 14
    Store("lexical index", "lex-manifest", "doc_id", Seq(1L, 4L),
      p => LexIndex.build(docs, p, buckets = 4),
      (p, pred, retries) => LexIndex.deleteWhere(spark, p, pred, retries),
      p => sorted(LexIndex.readPostings(spark, p)
        .select("doc_id", "term", "tf", "dl", "tb").collect()),
      p => { val m = LexIndex.readManifest(spark, p); (m.nDocs, m.sumDl) },
      (4L, 14L)),
    Store("IVF index", "index-manifest", "vec_id", Seq(2L, 9L),
      p => IvfIndex.build(vecs, p, cells = 3),
      (p, pred, retries) => IvfIndex.deleteWhere(spark, p, pred, retries),
      p => sorted(IvfIndex.read(spark, p)
        .select(col("vec_id"), col("embedding").cast("string"), col("cell"))
        .collect()),
      p => IvfIndex.read(spark, p).count(), 10L))

  private def stagedEraseSegments(p: String): Set[String] = {
    val s = Files.list(Paths.get(p))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("seg-") && n.endsWith("-e")).toSet
    finally s.close()
  }

  /** Runs `body` with every `file:` filesystem the session opens being a
    * [[IndexEraseRaceSpec.RacingFs]] armed to lose `races` publishes
    * under `root`. */
  private def racing[T](root: String, races: Int)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    IndexEraseRaceSpec.armed.set(races)
    IndexEraseRaceSpec.root = Paths.get(root).toAbsolutePath.toString
    conf.set("fs.file.impl", classOf[IndexEraseRaceSpec.RacingFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      IndexEraseRaceSpec.armed.set(0)
    }
  }

  stores.foreach { s =>
    val pred = col(s.id).isin(s.ids: _*)

    test(s"${s.name}: an erase that loses its publish drops its staged " +
         "segments and retries onto the winner") {
      val p = Files.createTempDirectory("graft-race").toString + "/ix"
      s.build(p)
      val before = s.content(p)
      val v = racing(p, races = 1)(s.erase(p, pred, 5))
      assert(IndexEraseRaceSpec.armed.get == 0, "the race was never staged")
      // build v1, the racer's copy v2, the retried erase v3
      assert(v == 3L)
      assert(s.content(p) == before.filterNot(r => s.ids.contains(r.getLong(0))))
      assert(s.summary(p) == s.erasedSummary)
      // only the retry's erase segments remain on disk, and the
      // published manifest references exactly those
      val staged = stagedEraseSegments(p)
      assert(staged.nonEmpty)
      val manifest = new String(Files.readAllBytes(
        Paths.get(p, f"${s.prefix}-$v%09d.txt")), "UTF-8")
      assert(staged == manifest.linesIterator
        .filter(l => l.startsWith("seg-") && l.endsWith("-e")).toSet, manifest)
    }

    test(s"${s.name}: with maxRetries = 0 a lost erase publish surfaces " +
         "ConcurrentWriteException and leaves no staged segment") {
      val p = Files.createTempDirectory("graft-race").toString + "/ix"
      s.build(p)
      val before = s.content(p)
      intercept[ConcurrentWriteException](racing(p, races = 1)(s.erase(p, pred, 0)))
      assert(stagedEraseSegments(p).isEmpty)
      // the racer's version is the newest, and its content the build's
      assert(Files.exists(Paths.get(p, s"${s.prefix}-000000002.txt")))
      assert(!Files.exists(Paths.get(p, s"${s.prefix}-000000003.txt")))
      assert(s.content(p) == before)
    }
  }
}

object IndexEraseRaceSpec {

  /** One index under test: its manifest prefix and id column, a build,
    * its `deleteWhere`, its content with the id first, and a summary
    * from its newest manifest with the value it must take once `ids`
    * are erased. */
  final case class Store(name: String, prefix: String, id: String,
                         ids: Seq[Long], build: String => Unit,
                         erase: (String, Column, Int) => Long,
                         content: String => Seq[Row],
                         summary: String => Any, erasedSummary: Any)

  /** Publishes still to lose; the directory whose publishes lose them. */
  val armed = new AtomicInteger(0)
  @volatile var root: String = ""

  private val TmpRe = "\\.(lex-manifest|index-manifest)-(\\d+)-[0-9a-f]{8}\\.tmp".r

  /** The session's local filesystem, except that staging an armed
    * manifest publish under [[root]] first publishes a racer's manifest
    * — the previous version's text — at the version being claimed. */
  class RacingFs extends NioLocalFileSystem {
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      f.getName match {
        case TmpRe(prefix, v) if f.getParent.toUri.getPath == root &&
            armed.getAndUpdate(n => math.max(0, n - 1)) > 0 =>
          val dir = Paths.get(root)
          val prev = dir.resolve(f"$prefix-${v.toLong - 1}%09d.txt")
          Files.copy(prev, dir.resolve(f"$prefix-${v.toLong}%09d.txt"))
        case _ => ()
      }
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
  }
}
