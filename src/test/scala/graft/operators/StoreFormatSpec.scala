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
  * compact → vacuum sequence. The golden text was captured from the
  * stores as they were before the shared versioned-directory core
  * existed, so a green run proves that directories written by older
  * builds still read and that new directories are written unchanged.
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

  /** Writer tokens are exactly 8 hex digits; versioned names carry 9. */
  private def normalize(s: String): String =
    s.replaceAll("seg-[0-9a-f]{8}(?![0-9a-f])", "seg-TOKEN")
      .replaceAll("(\\.v\\d+)-[0-9a-f]{8}(?![0-9a-f])", "$1-TOKEN")

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
