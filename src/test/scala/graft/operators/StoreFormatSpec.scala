package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The on-disk format of every persisted store, byte for byte: the
  * top-level listing of each store directory (hidden checksum files
  * included) and the exact text of every manifest, commit marker, pin
  * and quantizer file, after a deterministic build → append → pin →
  * compact → vacuum sequence, and — for both indexes — of a build →
  * append → erase by key → erase by predicate → vacuum sequence, whose
  * render adds every segment's partition directories. The golden text
  * was captured from the stores as they were before the shared
  * versioned-directory core existed (the erase legs: before the shared
  * segmented-index core), so a green run proves that directories
  * written by older builds still read and that new directories are
  * written unchanged.
  * Only random writer tokens (8 hex digits in append-written segment
  * and day-directory names) are normalized. */
class StoreFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-format").toString

  /** Listing plus the content of every small text file at the top
    * level (and under `_pins/`), tokens normalized. */
  private def render(root: String, removed: Long): String = {
    val dir = Paths.get(root)
    def names(d: java.nio.file.Path): Seq[String] = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val pins = dir.resolve("_pins")
    val pinNames =
      if (Files.isDirectory(pins)) names(pins).map("_pins/" + _) else Nil
    val all = (names(dir) ++ pinNames).map(n => normalize(n) -> n).sorted
    val texts = all.collect { case (shown, n)
        if n.endsWith(".txt") && !n.startsWith(".") =>
      s"== $shown\n" +
        normalize(new String(Files.readAllBytes(dir.resolve(n)), UTF_8))
    }
    (s"removed=$removed" +: "== listing" +: all.map(_._1))
      .mkString("", "\n", "\n") + texts.mkString
  }

  /** Writer tokens are exactly 8 hex digits; versioned names carry 9.
    * A manifest's `df=` list is sorted by the raw names, so its order
    * among token names is re-sorted after normalizing. */
  private def normalize(s: String): String =
    s.replaceAll("seg-[0-9a-f]{8}(?![0-9a-f])", "seg-TOKEN")
      .replaceAll("(\\.v\\d+)-[0-9a-f]{8}(?![0-9a-f])", "$1-TOKEN")
      .split("\n", -1).map {
        case l if l.startsWith("df=") =>
          l.stripPrefix("df=").split(',').sorted.mkString("df=", ",", "")
        case l => l
      }.mkString("\n")

  /** Every partition directory under each segment (and under a
    * segment's `_df` sidecar), tokens normalized, sorted — what the
    * erase leg's copy-on-write and vacuum's partition reclaim leave. */
  private def partitions(root: String): String = {
    def dirs(d: java.nio.file.Path): Seq[String] = {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val dir = Paths.get(root)
    val lines = dirs(dir).filter(_.startsWith("seg-")).flatMap { seg =>
      dirs(dir.resolve(seg)).flatMap {
        case "_df" => dirs(dir.resolve(seg).resolve("_df")).map(p => s"$seg/_df/$p")
        case p => Seq(s"$seg/$p")
      }
    }
    ("== partitions" +: lines.map(normalize).sorted).mkString("", "\n", "\n")
  }

  private def check(got: String, golden: String): Unit =
    assert(got == golden, s"\n--- got\n$got--- want\n$golden")

  private def docs = Seq(
    (0L, "spark join fast spark"),
    (1L, "join slow table join join"),
    (2L, "spark spark spark"),
    (3L, "hash merge batch"),
    (4L, "fast fast join spark table"),
    (5L, "merge table scan window")).toDF("doc_id", "text")

  private def vecs = (0 until 12).map(i =>
    (i.toLong, Array((i % 3).toFloat, (i / 3).toFloat * 0.5f)))
    .toDF("vec_id", "embedding")

  private def events =
    Events.load(spark, graft.SparkEntry.EntrySfDir).drop("ts_us")

  test("lexical index: manifests, pins and listing are byte-identical") {
    val p = freshDir() + "/lex"
    LexIndex.build(docs.filter(col("doc_id") < 4), p, buckets = 4)
    LexIndex.append(docs.filter(col("doc_id") >= 4), p)
    LexIndex.pin(spark, p, "reader", 2L)
    LexIndex.compact(spark, p)
    check(render(p, LexIndex.vacuum(spark, p, keepVersions = 1)), LexGolden)
  }

  test("IVF index: manifests, quantizer, pins and listing are byte-identical") {
    val p = freshDir() + "/ivf"
    IvfIndex.build(vecs.filter(col("vec_id") < 8), p, cells = 3)
    IvfIndex.append(vecs.filter(col("vec_id") >= 8), p)
    IvfIndex.pin(spark, p, "reader", 2L)
    IvfIndex.compact(spark, p)
    check(render(p, IvfIndex.vacuum(spark, p, keepVersions = 1)), IvfGolden)
  }

  test("lexical index erase: skip entries, erase segments, adjusted " +
       "stats and vacuum's bucket reclaim are byte-identical") {
    val p = freshDir() + "/lex-erase"
    LexIndex.build(docs.filter(col("doc_id") < 4), p, buckets = 4)
    LexIndex.append(docs.filter(col("doc_id") >= 4), p)
    LexIndex.deleteByKey(spark, p, Seq(1L))
    LexIndex.deleteWhere(spark, p, col("doc_id") === 0L || col("doc_id") === 4L)
    val removed = LexIndex.vacuum(spark, p, keepVersions = 1)
    check(render(p, removed) + partitions(p), LexEraseGolden)
  }

  test("IVF index erase: skip entries, erase segments and vacuum's cell " +
       "reclaim are byte-identical") {
    val p = freshDir() + "/ivf-erase"
    IvfIndex.build(vecs.filter(col("vec_id") < 8), p, cells = 3)
    IvfIndex.append(vecs.filter(col("vec_id") >= 8), p)
    IvfIndex.deleteByKey(spark, p, Seq(2L))
    IvfIndex.deleteWhere(spark, p, col("vec_id") === 0L || col("vec_id") === 9L)
    val removed = IvfIndex.vacuum(spark, p, keepVersions = 1)
    check(render(p, removed) + partitions(p), IvfEraseGolden)
  }

  test("event log and snapshot: manifests, commit markers and listings " +
       "are byte-identical") {
    val base = freshDir()
    val (log, snap) = (base + "/log", base + "/snap")
    ManifestedLog.write(events.filter(col("event_id") < 40), log)
    SnapshotTable.update(spark, log, snap)
    ManifestedLog.append(events.filter(col("event_id") >= 40 &&
      col("event_id") < 50), log)
    ManifestedLog.pin(spark, log, "reader", 1L)
    ManifestedLog.compactDay(spark, log, "2024-01-01")
    SnapshotTable.update(spark, log, snap)
    check(render(log, ManifestedLog.vacuum(spark, log, keepVersions = 1)),
      LogGolden)
    check(render(snap, SnapshotTable.vacuum(spark, snap, keepVersions = 1)),
      SnapGolden)
  }

  // ------------------------------------------------ captured golden text

  private val LexGolden =
    """removed=1
    |== listing
    |_pins
    |_pins/.pin-reader.txt.crc
    |_pins/pin-reader.txt
    |lex-manifest-000000002.txt
    |lex-manifest-000000003.txt
    |seg-000000001
    |seg-000000003
    |seg-TOKEN
    |== _pins/pin-reader.txt
    |2
    |== lex-manifest-000000002.txt
    |graft-lex-index-manifest-v1
    |stats=6,24
    |buckets=4
    |df=seg-000000001,seg-TOKEN
    |seg-000000001
    |seg-TOKEN
    |== lex-manifest-000000003.txt
    |graft-lex-index-manifest-v1
    |stats=6,24
    |buckets=4
    |df=seg-000000003
    |seg-000000003
    |""".stripMargin

  private val IvfGolden =
    """removed=1
    |== listing
    |.centroids-000000001.txt.crc
    |_pins
    |_pins/.pin-reader.txt.crc
    |_pins/pin-reader.txt
    |centroids-000000001.txt
    |index-manifest-000000002.txt
    |index-manifest-000000003.txt
    |seg-000000001
    |seg-000000003
    |seg-TOKEN
    |== _pins/pin-reader.txt
    |2
    |== centroids-000000001.txt
    |graft-ivf-centroids-v1
    |0.0,0.0
    |0.8,0.7
    |1.5,0.0
    |== index-manifest-000000002.txt
    |graft-ivf-index-manifest-v1
    |centroids=centroids-000000001.txt
    |seg-000000001
    |seg-TOKEN
    |== index-manifest-000000003.txt
    |graft-ivf-index-manifest-v1
    |centroids=centroids-000000001.txt
    |seg-000000003
    |""".stripMargin

  private val LexEraseGolden =
    """removed=12
    |== listing
    |lex-manifest-000000004.txt
    |seg-000000001
    |seg-TOKEN
    |seg-TOKEN-e
    |seg-TOKEN-e
    |seg-TOKEN-e
    |== lex-manifest-000000004.txt
    |graft-lex-index-manifest-v1
    |stats=3,10
    |buckets=4
    |df=seg-000000001,seg-TOKEN,seg-TOKEN-e,seg-TOKEN-e,seg-TOKEN-e
    |seg-000000001|skip=0,1,3
    |seg-TOKEN|skip=0,1,3
    |seg-TOKEN-e|skip=0,1,3
    |seg-TOKEN-e
    |seg-TOKEN-e
    |== partitions
    |seg-TOKEN-e/_df/tb=0
    |seg-TOKEN-e/_df/tb=0
    |seg-TOKEN-e/_df/tb=1
    |seg-TOKEN-e/_df/tb=1
    |seg-TOKEN-e/_df/tb=3
    |seg-TOKEN-e/tb=0
    |seg-TOKEN-e/tb=0
    |seg-TOKEN-e/tb=1
    |seg-TOKEN-e/tb=1
    |seg-TOKEN-e/tb=3
    |seg-TOKEN/_df/tb=2
    |seg-TOKEN/tb=2
    |""".stripMargin

  private val IvfEraseGolden =
    """removed=6
    |== listing
    |.centroids-000000001.txt.crc
    |centroids-000000001.txt
    |index-manifest-000000004.txt
    |seg-000000001
    |seg-TOKEN
    |seg-TOKEN-e
    |seg-TOKEN-e
    |seg-TOKEN-e
    |== centroids-000000001.txt
    |graft-ivf-centroids-v1
    |0.0,0.0
    |0.8,0.7
    |1.5,0.0
    |== index-manifest-000000004.txt
    |graft-ivf-index-manifest-v1
    |centroids=centroids-000000001.txt
    |seg-000000001|skip=0,2
    |seg-TOKEN|skip=1
    |seg-TOKEN-e
    |seg-TOKEN-e
    |seg-TOKEN-e
    |== partitions
    |seg-000000001/cell=1
    |seg-TOKEN-e/cell=1
    |seg-TOKEN-e/cell=2
    |""".stripMargin

  private val LogGolden =
    s"""removed=1
    |== listing
    |_pins
    |_pins/.pin-reader.txt.crc
    |_pins/pin-reader.txt
    |dt=2024-01-01.v1
    |dt=2024-01-01.v2
    |dt=2024-01-02.v1
    |dt=2024-01-02.v2-TOKEN
    |manifest-000000001.txt
    |manifest-000000003.txt
    |== _pins/pin-reader.txt
    |1
    |== manifest-000000001.txt
    |graft-event-log-manifest-v1
    |#schema\t{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},{"name":"ts","type":"timestamp","nullable":true,"metadata":{}},{"name":"user_id","type":"long","nullable":true,"metadata":{}},{"name":"event_type","type":"string","nullable":true,"metadata":{}},{"name":"value","type":"double","nullable":true,"metadata":{}},{"name":"props","type":"string","nullable":true,"metadata":{}}]}
    |2024-01-01\tdt=2024-01-01.v1
    |2024-01-02\tdt=2024-01-02.v1
    |== manifest-000000003.txt
    |graft-event-log-manifest-v1
    |#schema\t{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},{"name":"ts","type":"timestamp","nullable":true,"metadata":{}},{"name":"user_id","type":"long","nullable":true,"metadata":{}},{"name":"event_type","type":"string","nullable":true,"metadata":{}},{"name":"value","type":"double","nullable":true,"metadata":{}},{"name":"props","type":"string","nullable":true,"metadata":{}}]}
    |2024-01-01\tdt=2024-01-01.v2
    |2024-01-02\tdt=2024-01-02.v2-TOKEN
    |""".stripMargin

  private val SnapGolden =
    """removed=2
    |== listing
    |commit-000000003.txt
    |v3
    |== commit-000000003.txt
    |v3
    |""".stripMargin
}
