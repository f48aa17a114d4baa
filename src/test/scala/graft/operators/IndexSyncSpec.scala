package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-feed-driven index maintenance: a manifested embeddings log
  * advances, [[IvfIndex.syncFromLog]] ingests exactly the delta, and
  * the cursor is DERIVED from the sync tag in the live manifest — so
  * append and cursor advance share one atomic rename, making the loop
  * exactly-once and restartable from any crash point. This is how a
  * 100 TB index tracks a growing corpus without rebuilds. */
class IndexSyncSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val Cells = 16
  private val K = 5
  private val NProbe = 4

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def withTs(df: DataFrame): DataFrame =
    df.withColumn("ts", col("vec_id").cast("timestamp"))

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sync").toString

  private def content(p: String): Map[Long, Long] =
    IvfIndex.read(spark, p).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ranked(p: String): Set[(Long, Long, Long, Double)] =
    IvfIndex.search(spark, p,
        embs.filter(col("vec_id") < 8), K, NProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet

  test("buildFromLog + syncFromLog tracks the log; content and probes " +
       "equal direct appends of the same batches; re-sync no-ops") {
    val dir = freshDir()
    val (logPath, idxPath, twinPath) = (s"$dir/log", s"$dir/index", s"$dir/twin")
    val b1 = embs.filter(col("vec_id") % 3 === 0)
    val b2 = embs.filter(col("vec_id") % 3 === 1)
    val b3 = embs.filter(col("vec_id") % 3 === 2)
    ManifestedLog.append(withTs(b1), logPath, dedupKey = Some("vec_id"))
    IvfIndex.buildFromLog(spark, logPath, idxPath, Cells)
    assert(IvfIndex.syncedVersion(spark, idxPath, logPath).contains(1L))
    // log advances twice; ONE sync picks up the whole delta
    ManifestedLog.append(withTs(b2), logPath, dedupKey = Some("vec_id"))
    ManifestedLog.append(withTs(b3), logPath, dedupKey = Some("vec_id"))
    val (to, v) = IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(to == 3L && v == 2L)
    assert(IvfIndex.syncedVersion(spark, idxPath, logPath).contains(3L))
    // twin maintained by direct appends over the same frozen quantizer
    IvfIndex.build(b1, twinPath, Cells)
    IvfIndex.append(b2.unionByName(b3), twinPath)
    assert(content(idxPath) == content(twinPath))
    assert(ranked(idxPath) == ranked(twinPath) && ranked(idxPath).nonEmpty)
    // re-delivered sync against the unchanged log: pure no-op — no new
    // index version, no new segment
    val segsBefore = IvfIndex.readManifest(spark, idxPath).segments
    val (to2, v2) = IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(to2 == 3L && v2 == 2L)
    assert(IvfIndex.readManifest(spark, idxPath).segments == segsBefore)
  }

  test("a crash between append and nothing: the cursor IS the sync tag, " +
       "so a re-run converges without duplicating the delta") {
    val dir = freshDir()
    val (logPath, idxPath) = (s"$dir/log", s"$dir/index")
    val b1 = embs.filter(col("vec_id") % 2 === 0)
    val b2 = embs.filter(col("vec_id") % 2 === 1)
    ManifestedLog.append(withTs(b1), logPath, dedupKey = Some("vec_id"))
    IvfIndex.buildFromLog(spark, logPath, idxPath, Cells)
    ManifestedLog.append(withTs(b2), logPath, dedupKey = Some("vec_id"))
    // first sync lands the tagged segment (the "crash" would be dying
    // right after — there is no separate cursor write to lose)
    IvfIndex.syncFromLog(spark, logPath, idxPath)
    val n = IvfIndex.read(spark, idxPath).count()
    assert(n == embs.count())
    // the "restarted" sync recomputes the cursor from the manifest and
    // no-ops — NO duplicate rows (duplicates would double-score every
    // probe candidate)
    IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(IvfIndex.read(spark, idxPath).count() == n)
  }

  test("sync → compact → sync is a no-op: compact persists the cursor " +
       "before folding the tagged segments away") {
    val dir = freshDir()
    val (logPath, idxPath) = (s"$dir/log", s"$dir/index")
    val b1 = embs.filter(col("vec_id") % 2 === 0)
    val b2 = embs.filter(col("vec_id") % 2 === 1)
    ManifestedLog.append(withTs(b1), logPath, dedupKey = Some("vec_id"))
    IvfIndex.buildFromLog(spark, logPath, idxPath, Cells)
    ManifestedLog.append(withTs(b2), logPath, dedupKey = Some("vec_id"))
    IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(IvfIndex.syncedVersion(spark, idxPath, logPath).contains(2L))
    val n = IvfIndex.read(spark, idxPath).count()
    // compact folds the sync-tagged segment name out of the manifest —
    // the cursor must survive in the base file, or the next sync
    // replays the v1→v2 delta and every probe double-counts those ids
    IvfIndex.compact(spark, idxPath)
    assert(IvfIndex.syncedVersion(spark, idxPath, logPath).contains(2L))
    val vAfterCompact = IvfIndex.readManifest(spark, idxPath).version
    val (to, v) = IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(to == 2L && v == vAfterCompact)
    assert(IvfIndex.read(spark, idxPath).count() == n)
    assert(IvfIndex.read(spark, idxPath).select("vec_id").distinct().count() == n)
    // and the loop keeps working across the fold: a THIRD log batch
    // syncs exactly-once on top of the compacted index
    val b3 = embs.filter(col("vec_id") % 2 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    ManifestedLog.append(withTs(b3), logPath, dedupKey = Some("vec_id"))
    val (to3, _) = IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(to3 == 3L)
    assert(IvfIndex.read(spark, idxPath).count() == n + b3.count())
  }

  test("syncing an index with no cursor for the log fails loudly; " +
       "markSynced bootstraps an externally-built index") {
    val dir = freshDir()
    val (logPath, idxPath) = (s"$dir/log", s"$dir/index")
    ManifestedLog.append(withTs(embs), logPath, dedupKey = Some("vec_id"))
    IvfIndex.build(embs, idxPath, Cells) // built directly, not from the log
    val e = intercept[RuntimeException] {
      IvfIndex.syncFromLog(spark, logPath, idxPath)
    }
    assert(e.getMessage.contains("no sync cursor"))
    // declaring the reflected version bootstraps the loop
    IvfIndex.markSynced(spark, idxPath, logPath, 1L)
    val (to, _) = IvfIndex.syncFromLog(spark, logPath, idxPath)
    assert(to == 1L)
    assert(IvfIndex.read(spark, idxPath).count() == embs.count())
  }

  test("one index tracks two logs with independent cursors") {
    val dir = freshDir()
    val (logA, logB, idxPath) = (s"$dir/logA", s"$dir/logB", s"$dir/index")
    val b1 = embs.filter(col("vec_id") < 200)
    val b2 = embs.filter(col("vec_id") >= 200 && col("vec_id") < 350)
    val b3 = embs.filter(col("vec_id") >= 350)
    ManifestedLog.append(withTs(b1), logA, dedupKey = Some("vec_id"))
    ManifestedLog.append(withTs(b2), logB, dedupKey = Some("vec_id"))
    IvfIndex.buildFromLog(spark, logA, idxPath, Cells)
    // cursor 0 on logB: none of it is reflected yet — first sync pulls all
    IvfIndex.markSynced(spark, idxPath, logB, 0L)
    val (toB, _) = IvfIndex.syncFromLog(spark, logB, idxPath)
    assert(toB == 1L)
    ManifestedLog.append(withTs(b3), logA, dedupKey = Some("vec_id"))
    val (toA, _) = IvfIndex.syncFromLog(spark, logA, idxPath)
    assert(toA == 2L)
    assert(IvfIndex.syncedVersion(spark, idxPath, logA).contains(2L))
    assert(IvfIndex.syncedVersion(spark, idxPath, logB).contains(1L))
    assert(IvfIndex.read(spark, idxPath).count() == embs.count())
  }
}
