package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** One manifest segment reference: the directory name plus the
  * partitions a reader must SKIP (written by an erase's copy-on-write —
  * the skipped partitions' surviving rows live in a later erase
  * segment). Skips render as `seg-xyz|skip=3,7`; pre-existing manifests
  * carry bare names and parse with no skips. The skip filter is a
  * partition predicate, so skipped partitions are pruned at listing —
  * never read. */
final case class SegEntry(name: String, skip: Seq[Long] = Nil) {
  def render: String =
    if (skip.isEmpty) name else s"$name|skip=${skip.mkString(",")}"
}
object SegEntry {
  def parse(s: String): SegEntry = s.split("\\|", 2) match {
    case Array(n) => SegEntry(n)
    case Array(n, tail) if tail.startsWith("skip=") =>
      SegEntry(n, tail.stripPrefix("skip=").split(',').toSeq
        .filter(_.nonEmpty).map(_.toLong).sorted)
    case _ => sys.error(s"unparseable index segment entry: '$s'")
  }

  /** Per segment, the partitions EVERY entry naming it skips — the
    * ones no manifest holding those entries reads any more. */
  private[operators] def skippedByAll(entries: Seq[SegEntry]): Map[String, Set[Long]] =
    entries.groupBy(_.name)
      .map { case (n, es) => n -> es.map(_.skip.toSet).reduce(_ intersect _) }
}

/** The segment lifecycle both persisted indexes share — [[LexIndex]]
  * (postings partitioned by term bucket `tb`) and [[IvfIndex]] (vectors
  * partitioned by coarse cell `cell`) — written once above the
  * [[VersionedDir]] commit protocol: the Delta Lake log-commit pattern
  * (Armbrust et al., VLDB 2020) for immutable, partitioned parquet
  * segment directories named by one atomically published manifest.
  * Each index keeps its manifest codec, its build/append writers, its
  * read schema, its probes, and three hooks: an after-write step
  * ([[afterWrite]]), an erase's manifest adjustment ([[onErase]]), and
  * the extra files and sidecar directories its manifests own
  * ([[extraRefs]], [[extraData]], [[sidecarDirs]]).
  *
  * Contracts:
  *  - EXACTLY-ONCE SYNC. [[ingest]] appends each micro-batch under its
  *    batch id as the tag, and [[syncFromLog]] appends a log delta under
  *    the tag `log<h>-<from>-<to>`: a manifest already listing the tag
  *    no-ops the append, and the tag lands in the same atomic manifest
  *    rename as its segment, so "delta landed" and "cursor advanced"
  *    cannot diverge. The cursor ([[syncedVersion]]) is the max of the
  *    build base ([[markSynced]]) and the live manifest's tags;
  *    [[compact]] persists the tags into the base before folding their
  *    segments away ([[SyncCursors.persistCursors]]), so the cursor
  *    never regresses. A crash before a sync's publish leaves no tag
  *    (the re-run recomputes the same delta; the orphaned staging
  *    segment is vacuum's age-guarded sweep); a re-run against an
  *    unchanged log reads only the log's manifest.
  *  - COPY-ON-WRITE ERASE BOUNDED TO CONTAINING PARTITIONS.
  *    [[deleteWhere]] runs one pushed-predicate scan to locate the
  *    (segment, partition) pairs holding matching rows; each affected
  *    segment contributes one ERASE segment `seg-<token>-e` of only
  *    those partitions' SURVIVING rows (stored partition assignments
  *    preserved, never recomputed; NULL-predicate rows survive), and the
  *    old entry gains a `skip=` set for them. Untouched partitions and
  *    segments are not read, rewritten or listed. The whole erase is
  *    one atomic flip; a lost publish drops the staged erase segments
  *    and redoes the erase against the winner (at most `maxRetries`
  *    times, then [[ConcurrentWriteException]]). Erasing absent rows
  *    publishes nothing. Physical completion is [[vacuum]] or
  *    [[compact]].
  *  - VACUUM RETENTION. Kept: the newest `keepVersions` manifests and
  *    every [[pin]]ned one, with everything they reference. Reclaimed:
  *    superseded manifests, unreferenced segments (and extra files),
  *    and every partition directory ALL kept manifests skip.
  *  - ORPHAN AGE GUARD. An entry no manifest ever referenced is exactly
  *    what an in-flight append or rebuild is staging until its publish,
  *    so [[vacuum]] reclaims it (and dot-tmp leftovers) only once older
  *    than `orphanMinAgeMs` ([[VersionedDir.vacuum]]). Sweeps beside
  *    live ingest set it above the longest append; the 0 default keeps
  *    eager cleanup for single-writer use.
  *
  * @param prefix  the manifest file prefix
  * @param part    the partition column
  * @param id      the row id column (unique across segments)
  * @param what    "a lexical index" — how a missing manifest is named
  * @param partLit a partition value as the partition column's type `P`:
  *                a skip or tile literal of any other type would wrap
  *                the partition column in a cast, and a cast blocks
  *                partition pruning */
private[graft] abstract class SegmentedIndex[P](prefix: String, part: String,
                                                id: String, what: String,
                                                partLit: Long => P)(
                                                implicit pTag: TypeTag[P]) {

  /** The index's parsed manifest. */
  type M

  // ------------------------------------------------ what each index owns

  private[operators] def readManifestAt(spark: SparkSession, path: String,
                                        v: Long): M
  protected def publish(spark: SparkSession, root: Path, m: M): Unit
  protected def versionOf(m: M): Long
  protected def entriesOf(m: M): Seq[SegEntry]

  /** `m` one version on, listing `entries`, of which `written` are the
    * segments this publish wrote. */
  protected def next(m: M, entries: Seq[SegEntry], written: Seq[String]): M

  /** The authoritative read schema, ending in the partition column. */
  protected def schema(m: M): StructType

  /** Row order inside each written partition. */
  protected def sortKeys: Seq[Column]

  /** An erase segment's `maxRecordsPerFile` (None: the session's). */
  protected def eraseFileRows: Option[Long]

  /** The log columns a change-feed sync appends. */
  protected def logColumns(m: M): Seq[String]

  /** Append one batch as a new segment: one atomic manifest flip.
    * `batchTag` makes the append idempotent per tag. */
  def append(batch: DataFrame, path: String,
             batchTag: Option[String] = None): Long

  /** Runs after a segment's data lands, before `_SUCCESS` is dropped. */
  protected def afterWrite(spark: SparkSession, target: Path): Unit = ()

  /** An erase's manifest adjustment, computed once the rows matching
    * `pred` in `m` are known to exist and before any survivor is
    * written. */
  protected def onErase(spark: SparkSession, root: Path, m: M,
                        pred: Column): M => M = identity

  /** Files beside the segments that a manifest references, and the name
    * prefixes of such files for [[vacuum]]. */
  protected def extraRefs(m: M): Iterable[String] = Nil
  protected def extraData: Seq[String] = Nil

  /** Column names the layout owns; attribute columns may not collide
    * with them. */
  protected val reservedCols: Set[String]

  /** Directories inside a segment holding per-partition sidecars that
    * [[vacuum]] reclaims with their skipped partition. */
  protected def sidecarDirs: Seq[String] = Nil

  // --------------------------------------------------- manifest and pins

  protected def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected def dir(spark: SparkSession, root: Path): VersionedDir =
    new VersionedDir(fs(spark, root), root, prefix)

  def versions(spark: SparkSession, path: String): Seq[Long] =
    dir(spark, new Path(path)).versions

  /** The newest manifest. */
  def readManifest(spark: SparkSession, path: String): M = {
    val v = versions(spark, path).lastOption.getOrElse(sys.error(
      s"no ${prefix.replace('-', ' ')} under $path — not $what"))
    readManifestAt(spark, path, v)
  }

  /** Reader pins — the [[VersionedDir]] handshake: a long-running
    * reader pins its version BEFORE the long read, and [[vacuum]] keeps
    * every pinned manifest (and everything it references) until
    * unpinned. A pin either protects its version or fails loudly at pin
    * time. */
  def pin(spark: SparkSession, path: String, name: String, version: Long): Long =
    dir(spark, new Path(path)).pin(name, version)

  /** Drop the named pin; true if it existed. */
  def unpin(spark: SparkSession, path: String, name: String): Boolean =
    dir(spark, new Path(path)).unpin(name)

  /** All registered pins, name → version. */
  def pins(spark: SparkSession, path: String): Map[String, Long] =
    dir(spark, new Path(path)).pins

  // ------------------------------------------------------------ read

  /** One segment's rows; a skip is a partition predicate, so skipped
    * partitions prune at listing. */
  protected def segFrame(spark: SparkSession, root: Path, e: SegEntry,
                         schema: StructType): DataFrame = {
    val df = spark.read.schema(schema)
      .parquet(new Path(root, e.name).toString)
    if (e.skip.isEmpty) df
    else df.filter(!col(part).isin(e.skip.map(partLit): _*))
  }

  /** Every row of `m`. Each segment is its own partitioned-table root
    * (multi-root partition discovery rejects sibling roots), so
    * segments read independently and union; a probe's partition filter
    * and projection prune inside every branch. */
  protected def frame(spark: SparkSession, root: Path, m: M): DataFrame = {
    val sch = schema(m)
    entriesOf(m).map(segFrame(spark, root, _, sch)).reduce(_.unionByName(_))
  }

  /** Per-partition `(part, n_rows, bytes, files)` of `m` from parquet
    * FOOTERS only — skew visible at metadata cost, never a data scan.
    * The listing is driver-side work bounded by the manifest's file
    * count; the footer reads distribute. Row totals are exact, so a
    * full-scan group-by is the equality certificate. Skipped partitions
    * are excluded, as every reader excludes them. */
  private[operators] def footerStats(spark: SparkSession, root: Path,
                                     m: M): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val PartRe = s"$part=(\\d+)".r
    val files: Seq[(P, String, Long)] = for {
      e <- entriesOf(m)
      partDir <- f.listStatus(new Path(root, e.name)).toSeq
      pm <- PartRe.findFirstMatchIn(partDir.getPath.getName).toSeq
      if !e.skip.contains(pm.group(1).toLong)
      st <- f.listStatus(partDir.getPath).toSeq
      if st.getPath.getName.endsWith(".parquet")
    } yield (partLit(pm.group(1).toLong), st.getPath.toString, st.getLen)
    val bc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices)
      .map { case (p, file, bytes) =>
        (p, Footers.rowCount(bc.value.value, file), bytes)
      }
      .toDF(part, "n_rows", "bytes")
      .groupBy(part)
      .agg(sum("n_rows").as("n_rows"), sum("bytes").as("bytes"),
           count(lit(1)).as("files"))
  }

  // ----------------------------------------------------------- write

  /** The DDL of the attribute columns `attrs` stored beside every row,
    * drawn from the input frame's schema (name, type, nullability
    * verbatim), after the reserved-name guard. */
  protected def attrsDdlOf(rows: DataFrame, attrs: Seq[String]): Option[String] = {
    attrs.foreach { a =>
      require(!reservedCols.contains(a),
        s"attribute column '$a' collides with a layout column of $what " +
          s"(${reservedCols.toSeq.sorted.mkString(", ")})")
    }
    if (attrs.isEmpty) None
    else Some(StructType(attrs.map(a => rows.schema(a))).toDDL)
  }

  /** Write `rows` (carrying the partition column) as segment `name`.
    * The write CLUSTERS rows by partition first: without it every
    * upstream task writes its own sliver of every partition it touches
    * — tasks × partitions files of a few rows each, a count that scales
    * with the writer's parallelism. A partition listed in `tiles` with
    * t > 1 spreads over t write tasks (rows tagged by id mod t through a
    * broadcast join), so a hot partition costs parallel tasks, not one
    * straggler; with no tiles the join drops out of the plan. */
  protected def writeSegment(spark: SparkSession, root: Path, name: String,
                             rows: DataFrame, tiles: Seq[(P, Long)] = Nil,
                             maxRowsPerFile: Option[Long] = None): Unit = {
    import spark.implicits._
    val f = fs(spark, root)
    val target = new Path(root, name)
    if (f.exists(target)) f.delete(target, true) // unreferenced leftover
    val clustered =
      if (tiles.isEmpty) rows.repartition(col(part))
      else rows
        .join(broadcast(tiles.toDF(part, "tiles")), Seq(part), "left")
        .withColumn("tile",
          pmod(col(id), greatest(coalesce(col("tiles"), lit(1L)), lit(1L))))
        .repartition(col(part), col("tile"))
        .drop("tile", "tiles")
    val w = clustered.sortWithinPartitions(sortKeys: _*).write.mode("overwrite")
    maxRowsPerFile.fold(w)(w.option("maxRecordsPerFile", _))
      .partitionBy(part).parquet(target.toString)
    afterWrite(spark, target)
    f.delete(new Path(target, "_SUCCESS"), false)
  }

  /** Streaming ingest: each micro-batch [[append]]s one segment tagged
    * with its batch id — re-delivered batches no-op on the tag, so
    * restarts upgrade to exactly-once index content; every batch is one
    * atomic manifest flip, so a concurrent probe sees whole batches or
    * nothing. */
  def ingest(batches: DataFrame, path: String, checkpoint: String): StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, path, batchTag = Some(batchId.toString)); ()
      }
      .start()

  // ------------------------------------------------- change-feed sync

  /** Record that the index content reflects the log AS OF `version`. */
  def markSynced(spark: SparkSession, indexPath: String, logPath: String,
                 version: Long): Unit = {
    val root = new Path(indexPath)
    SyncCursors.writeBase(fs(spark, root), root, SyncCursors.logTag(logPath),
      version)
  }

  /** The log version this index's content reflects: the max of the
    * build base and every sync tag in the live manifest. */
  def syncedVersion(spark: SparkSession, indexPath: String,
                    logPath: String): Option[Long] = {
    val root = new Path(indexPath)
    SyncCursors.syncedVersion(fs(spark, root), root,
      SyncCursors.logTag(logPath),
      entriesOf(readManifest(spark, indexPath)).map(_.name))
  }

  /** `build` the index from the manifested log's CURRENT content
    * (projected to `cols`) and record the log version it reflects — the
    * starting point of [[syncFromLog]]. The id column must be unique in
    * the log. */
  protected def buildFromLogWith(spark: SparkSession, logPath: String,
                                 indexPath: String, cols: Seq[String])(
                                 build: DataFrame => Long): Long = {
    val (logV, _) = ManifestedLog.readManifest(spark, logPath)
    val v = build(ManifestedLog.load(spark, logPath).select(cols.map(col): _*))
    markSynced(spark, indexPath, logPath, logV)
    v
  }

  /** Advance the index to the log's newest version: the delta from the
    * log's own change feed ([[ManifestedLog.changesBetween]] — cost ∝
    * touched days, never the log), appended under the sync tag. Returns
    * (log version synced to, index manifest version). */
  def syncFromLog(spark: SparkSession, logPath: String,
                  indexPath: String): (Long, Long) = {
    val from = syncedVersion(spark, indexPath, logPath).getOrElse(sys.error(
      s"$indexPath has no sync cursor for log $logPath — build it with " +
        "buildFromLog (or markSynced the version its content reflects)"))
    val (to, _) = ManifestedLog.readManifest(spark, logPath)
    val m = readManifest(spark, indexPath)
    if (to == from) return (from, versionOf(m))
    // cursor 0 means NONE of the log is reflected yet (markSynced(…, 0)
    // on an index built elsewhere) — the delta is the whole log
    val delta =
      if (from == 0L) ManifestedLog.load(spark, logPath)
      else ManifestedLog.changesBetween(spark, logPath, from, to, id)
    val v = append(delta.select(logColumns(m).map(col): _*), indexPath,
      batchTag = Some(s"${SyncCursors.logTag(logPath)}-$from-$to"))
    (to, v)
  }

  // -------------------------------------------------------- maintenance

  /** Fold every segment into one (content-identical, fewer files);
    * readers flip atomically with the manifest, and everything but the
    * segment list carries forward. Erase skips fold away too, so
    * compaction is also the physical completion of an erase. Sizes its
    * re-tiling from [[footerStats]] of the manifest it folds, so it
    * never re-reads the bytes it is about to move; `maxRowsPerFile`
    * bounds every written file. */
  def compact(spark: SparkSession, path: String,
              maxRowsPerFile: Long = 1L << 20): Long = {
    require(maxRowsPerFile > 0, s"maxRowsPerFile must be positive")
    val root = new Path(path)
    val m = readManifest(spark, path)
    val merged = frame(spark, root, m)
    // bounded collect (≤ partitions rows, footer-only)
    val tiles = footerStats(spark, root, m).select(part, "n_rows").collect()
      .map(r => (r.getAs[P](0),
        math.ceil(r.getLong(1).toDouble / maxRowsPerFile).toLong))
      .filter(_._2 > 1)
    val seg = f"seg-${versionOf(m) + 1}%09d"
    writeSegment(spark, root, seg, merged, tiles.toSeq, Some(maxRowsPerFile))
    // the sync cursors live in the tagged segment NAMES the fold is
    // about to discard — persist them to the base files first
    SyncCursors.persistCursors(fs(spark, root), root, entriesOf(m).map(_.name))
    publish(spark, root, next(m, Seq(SegEntry(seg)), Seq(seg)))
    versionOf(m) + 1
  }

  /** Compliance erasure of the rows whose id is in `keys` — after it,
    * no probe, lookup or read of the live index returns them. */
  def deleteByKey(spark: SparkSession, path: String, keys: Seq[Long],
                  maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "deleteByKey needs at least one id")
    deleteWhere(spark, path, col(id).isin(keys: _*), maxRetries)
  }

  /** [[deleteByKey]] generalized to a predicate over the index's stored
    * columns, fully distributed (no id list materializes). Rows where
    * `pred` is TRUE are erased; NULL is not-erased. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  maxRetries: Int = 5): Long = {
    val root = new Path(path)
    val m = readManifest(spark, path)
    val sch = schema(m)
    // ONE job: per-segment branches union under a segment-name literal,
    // each branch's predicate pushed into its scan
    val hits = entriesOf(m).map { e =>
      segFrame(spark, root, e, sch)
        .filter(pred)
        .select(lit(e.name).as("seg"), col(part))
    }.reduce(_.unionByName(_)).distinct().collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue))
    if (hits.isEmpty) return versionOf(m)
    val adjust = onErase(spark, root, m, pred)
    val affected: Map[String, Seq[Long]] =
      hits.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSeq.sorted }
    val eraseEntries = affected.toSeq.sortBy(_._1).map { case (segName, ps) =>
      val e = entriesOf(m).find(_.name == segName).getOrElse(
        sys.error(s"located segment $segName vanished from the manifest"))
      val newSeg = s"seg-${VersionedDir.token()}-e"
      // partition filter first: the rewrite READS only the containing
      // partitions' files (pruned at listing), then drops the erased
      // rows — NULL-predicate rows survive (coalesce, not bare negation)
      val survivors = segFrame(spark, root, e, sch)
        .filter(col(part).isin(ps.map(partLit): _*))
        .filter(!coalesce(pred, lit(false)))
      writeSegment(spark, root, newSeg, survivors,
        maxRowsPerFile = eraseFileRows)
      SegEntry(newSeg)
    }
    val newEntries = entriesOf(m).map { e =>
      affected.get(e.name) match {
        case Some(ps) => e.copy(skip = (e.skip ++ ps).distinct.sorted)
        case None => e
      }
    } ++ eraseEntries
    try {
      publish(spark, root, adjust(next(m, newEntries, eraseEntries.map(_.name))))
      versionOf(m) + 1
    } catch {
      case e: ConcurrentWriteException =>
        // a racer published (append/compact/rebuild) — the located
        // partitions may be stale against its manifest, so drop the
        // staged erase segments and redo the erase against the new state
        val f = fs(spark, root)
        eraseEntries.foreach(es => f.delete(new Path(root, es.name), true))
        if (maxRetries <= 0) throw e
        deleteWhere(spark, path, pred, maxRetries - 1)
    }
  }

  /** The retention sweep ([[VersionedDir.vacuum]]), then the physical
    * erase completion: a live segment's partition directory (and its
    * [[sidecarDirs]] twins) goes when EVERY kept manifest referencing
    * the segment skips it. Returns the manifests, segments, extra files
    * and partition directories removed; sidecar directories are not
    * counted. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             orphanMinAgeMs: Long = 0L): Long = {
    val root = new Path(path)
    val dataPrefixes = "seg-" +: extraData
    val (kept, swept) = dir(spark, root).vacuum(keepVersions, orphanMinAgeMs)(
      readManifestAt(spark, path, _))(
      m => entriesOf(m).map(_.name) ++ extraRefs(m),
      n => dataPrefixes.exists(n.startsWith))
    val f = fs(spark, root)
    var removed = swept
    SegEntry.skippedByAll(kept.flatMap(entriesOf)).foreach { case (seg, ps) =>
      ps.foreach { p =>
        val partDir = new Path(root, s"$seg/$part=$p")
        if (f.exists(partDir)) { f.delete(partDir, true); removed += 1 }
        sidecarDirs.foreach { s =>
          val sideDir = new Path(root, s"$seg/$s/$part=$p")
          if (f.exists(sideDir)) f.delete(sideDir, true)
        }
      }
    }
    removed
  }
}
