package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized CDC snapshot maintained INCREMENTALLY from a
  * [[ManifestedLog]]'s change feed — the "never recompute the view from
  * scratch" half of the table-format story. Each update reads only the
  * rows added since the snapshot's cursor ([[ManifestedLog.changesSince]]
  * — unchanged days are skipped without a read), merges them into the
  * compacted state with one keyed aggregation
  * ([[Cdc.mergeCompacted]], associative by CdcSpec's proof), and
  * publishes the result with the same crash-safe idiom as the log
  * itself: an immutable `v<logVersion>` data directory plus an atomic
  * `commit-<logVersion>.txt` marker whose FILENAME is the cursor.
  *
  * At 100 TB this is the difference between a per-batch maintenance job
  * proportional to the DELTA and a daily job proportional to the LOG.
  * The stored form retains latest-tombstone rows (log-compaction's
  * contract — eager tombstone drop would resurrect keys on late
  * batches); [[readView]] filters them.
  *
  * Invariants (mirroring [[ManifestedLog]]):
  *  - data dirs are immutable once a commit marker references them;
  *  - the only mutation is creating the next `commit-*.txt` (write-tmp →
  *    rename-to-new-name, atomic);
  *  - a crash before the marker leaves the snapshot exactly as it was
  *    (the half-written dir is unreferenced garbage for [[vacuum]]);
  *  - an update to an unchanged log version is a no-op (no write at
  *    all), so schedulers can call [[update]] unconditionally.
  */
object SnapshotTable {

  private val StateDirRe = "v(\\d+)".r

  private def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit markers `commit-<v>.txt` are the versioned directory's
    * manifests; the snapshot has no reader pins of its own (the log's
    * pins reach [[vacuum]] as `alsoKeep`). */
  private def dir(spark: SparkSession, root: Path): VersionedDir =
    new VersionedDir(fs(spark, root), root, "commit", readerPins = false)

  /** The log version the snapshot currently reflects; None if never
    * bootstrapped. */
  def versionOpt(spark: SparkSession, snapPath: String): Option[Long] =
    dir(spark, new Path(snapPath)).versions.lastOption

  def version(spark: SparkSession, snapPath: String): Long =
    versionOpt(spark, snapPath).getOrElse(
      sys.error(s"no snapshot commit under $snapPath — not bootstrapped"))

  /** Compacted state (latest row per key, tombstones RETAINED). */
  def read(spark: SparkSession, snapPath: String): DataFrame = {
    val v = version(spark, snapPath)
    spark.read.parquet(new Path(new Path(snapPath), s"v$v").toString)
  }

  /** The snapshot proper: current row per live key (tombstoned keys
    * absent). */
  def readView(spark: SparkSession, snapPath: String,
               opCol: String = "event_type",
               tombstone: String = "error"): DataFrame = {
    import org.apache.spark.sql.functions.col
    read(spark, snapPath).filter(col(opCol) =!= tombstone)
  }

  /** Point lookup into the CURRENT state: the live row(s) of `keys`,
    * reading only the state files whose sidecar (key Bloom + key
    * min/max, written at publish) might hold one of them — without it a
    * "current state of key X" query scans every state file, the one
    * read shape the log's x75 layers could not prune. No false
    * negatives (Bloom contract + conservative include for files without
    * a sidecar), so the result equals the full-view filter exactly; the
    * pushed equality predicate then row-group-prunes within survivors
    * (state files are key-sorted within partitions at publish).
    * Planning cost: one sidecar read, zero data reads for skipped
    * files. */
  def readViewByKey(spark: SparkSession, snapPath: String, keys: Seq[Long],
                    keyCol: String = "user_id",
                    opCol: String = "event_type",
                    tombstone: String = "error"): DataFrame = {
    import graft.functions.BloomKernel
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "readViewByKey needs at least one key value")
    val v = version(spark, snapPath)
    val dir = new Path(new Path(snapPath), s"v$v")
    val files: Seq[String] = Sidecars.read(spark, dir) match {
      case Some(ds) =>
        // bounds apply only when the sidecar recorded them for THIS
        // keyCol (DirStats.mightHold is column-aware): update() publishes
        // bounds for its own keyCol default, and a caller probing a
        // different column must not have its keys compared against
        // another column's range — the Bloom check below already keys on
        // (file, col), so a mismatched column falls back to Bloom-or-
        // include, never a silent false negative.
        val blooms = Sidecars.readBlooms(spark, dir)
        ds.files.filter { st =>
          ds.mightHold(st, keyCol, keys) &&
            (blooms.get((st.name, keyCol)) match {
              case Some((bits, k)) =>
                keys.exists(BloomKernel.mightContain(bits, _, k))
              case None => true // no bloom recorded: never skip
            })
        }.map(st => new Path(dir, st.name).toString)
      case None => Seq(dir.toString)
    }
    val pred = if (keys.size == 1) col(keyCol) === keys.head
               else col(keyCol).isin(keys: _*)
    val base = if (files.isEmpty) read(spark, snapPath).limit(0)
               else spark.read.parquet(files: _*)
    base.filter(pred && col(opCol) =!= tombstone)
  }

  /** Advance the snapshot to the log's newest retained version (or a
    * pinned `toVersion` — bootstrap replays and deterministic tests).
    * Bootstrap (no prior commit) compacts the full log AT that version;
    * every later call merges only the delta. Returns the version the
    * snapshot now reflects. */
  def update(spark: SparkSession, logPath: String, snapPath: String,
             toVersion: Option[Long] = None,
             keyCol: String = "user_id", tsCol: String = "ts_us",
             seqCol: String = "event_id", opCol: String = "event_type",
             payloadCols: Seq[String] = Seq("event_id", "ts_us", "event_type", "value"))
      : Long = {
    val target = toVersion.getOrElse(ManifestedLog.readManifest(spark, logPath)._1)
    val root = new Path(snapPath)
    val f = fs(spark, root)
    val cursor = versionOpt(spark, snapPath)
    cursor.foreach { c =>
      if (c > target) sys.error(
        s"snapshot at $snapPath is at log version $c, past requested $target " +
          "— a snapshot only advances")
      if (c == target) return c // no-op: nothing written
    }
    // SCHEMA EVOLUTION: columns appended to the log mid-chain must flow
    // through the snapshot — the source frame reads under the log's
    // authoritative schema at `target`, so extend the payload with every
    // source column beyond the fixed surface (raw `ts` excluded: the
    // normalized ts_us already carries the instant). The keyed merge
    // null-fills the extension in pre-evolution stored state
    // (Cdc.mergeCompacted aligns both sides), so compacted state
    // MIGRATES and readView exposes the new column: null for keys last
    // touched before the evolution, populated after.
    def withEvolved(frame: DataFrame): Seq[String] = {
      val reserved = Set(keyCol, "ts", "dt")
      (payloadCols ++ frame.columns.filterNot(c =>
        reserved(c) || payloadCols.contains(c))).distinct
    }
    val nextState = cursor match {
      case None =>
        val full = ManifestedLog.loadAt(spark, logPath, target)
        Cdc.compactLog(full, keyCol, tsCol, seqCol, opCol, withEvolved(full))
      case Some(c) =>
        val delta = ManifestedLog.changesBetween(spark, logPath, c, target, seqCol)
        Cdc.mergeCompacted(read(spark, snapPath), delta,
          keyCol, tsCol, seqCol, opCol, withEvolved(delta))
    }
    val stateDir = new Path(root, s"v$target")
    val commits = dir(spark, root)
    // Build the state under a WRITER-UNIQUE staging name and rename it
    // into place: two updaters racing to the same target version would
    // otherwise share the v<N> directory, and the loser's
    // mode("overwrite") could tear the winner's already-published files
    // mid-read. With staging, the only contended steps are two renames;
    // a loser whose target already exists discards its staging — both
    // racers computed the state from the SAME log version, so the
    // winner's content is identical and losing is a benign no-op.
    val stage = new Path(root, s".v$target-${VersionedDir.token()}")
    // state files are hash-partitioned by the merge's keyed aggregation;
    // sorting within partitions by key tightens row-group min/max (no
    // extra shuffle), and the sidecar Bloom below prunes whole FILES —
    // together they give "current state of key X" the same three-layer
    // read path the log's point lookups have
    nextState.sortWithinPartitions(col(keyCol))
      .write.mode("overwrite").parquet(stage.toString)
    f.delete(new Path(stage, "_SUCCESS"), false)
    Sidecars.write(spark, Seq(stage), Some(nextState.schema),
      boundsCol = keyCol, bloomCols = Seq(keyCol))
    def racerWon(): Boolean = commits.exists(target)
    if (racerWon()) { f.delete(stage, true); return target }
    if (f.exists(stateDir)) f.delete(stateDir, true) // unreferenced crash leftover
    if (!f.rename(stage, stateDir)) {
      f.delete(stage, true)
      if (racerWon()) return target
      sys.error(s"staging rename to $stateDir failed and no commit exists")
    }
    // racerWon() was just checked: publish without the exists fast path
    if (!commits.tryPublish(target, Seq(s"v$target")) && !racerWon())
      sys.error(s"publishing ${commits.file(target)} failed")
    target // a lost race published identical content
  }

  /** Streaming maintenance twin: each micro-batch appends to the log
    * (idempotent copy-on-write, one atomic manifest flip —
    * [[ManifestedLog.append]]) and then advances the snapshot through
    * the change feed, so the materialized view trails the stream by at
    * most one trigger. A re-delivered batch appends as a no-op and the
    * snapshot update sees an unchanged version — the whole chain is
    * idempotent, upgrading at-least-once delivery to exactly-once
    * table AND view content. */
  def ingestMaintained(events: DataFrame, logPath: String, snapPath: String,
                       checkpoint: String,
                       dedupKey: Option[String] = Some("event_id"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ManifestedLog.append(batch, logPath, dedupKey)
        update(batch.sparkSession, logPath, snapPath)
        ()
      }
      .start()

  /** Remove state directories and markers older than the newest
    * `keepVersions` commits, plus unreferenced/tmp leftovers.
    * `alsoKeep` protects specific versions regardless of age —
    * [[ManifestedLog.maintain]] passes the log's reader pins through,
    * so a pinned log version keeps its matching snapshot commit too. */
  def vacuum(spark: SparkSession, snapPath: String,
             keepVersions: Int = 1, alsoKeep: Set[Long] = Set.empty): Long =
    dir(spark, new Path(snapPath)).vacuum(keepVersions,
        alsoKeep = _.filter(alsoKeep))(
      v => Seq(s"v$v"))(identity, StateDirRe.matches)._2
}
