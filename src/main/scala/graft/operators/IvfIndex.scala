package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Persisted IVF (inverted-file) vector index — the AT-REST form of
  * [[Similarity.ivfTopK]]'s per-query build. At serving scale an ANN
  * index is built once and queried many times, with fresh vectors
  * arriving continuously; rebuilding the coarse quantizer per query
  * (x20's shape) is a benchmark formulation, not a system. This table
  * keeps the engine's storage idioms: immutable segment directories
  * behind an atomic manifest rename (crash anywhere leaves the index
  * unchanged), cell-partitioned parquet so a probe reads ONLY the
  * probed cells' files via partition pruning, and deterministic
  * centroids ([[Similarity.refineCentroids]]'s quantized Lloyd) so the
  * whole index — assignments included — is oracle-replayable.
  *
  * Layout:
  * {{{
  *   <root>/centroids-000000001.txt        # quantizer, referenced FROM the manifest
  *   <root>/seg-000000001/cell=<c>/part-….parquet
  *   <root>/index-manifest-000000001.txt   # newest wins; lists quantizer + segments
  * }}}
  *
  * Design points, each the 100 TB argument:
  *  - CENTROIDS ARE FROZEN at build (standard IVF practice): appends
  *    assign new vectors to the existing cells and land as a new
  *    SEGMENT — cost ∝ batch, never ∝ index. Drifted geometry is a
  *    rebuild, which [[build]] makes explicit.
  *  - The quantizer files are VERSIONED and referenced from the
  *    manifest, so (quantizer, segments) flips in the ONE manifest
  *    rename: a reader mid-rebuild keeps the pairing its manifest was
  *    published with, and a crashed rebuild leaves the old index
  *    serving — never new centroids over old segments, which would
  *    probe cells that disagree with stored assignments and silently
  *    return wrong neighbors.
  *  - A query probes `nprobe` cells per query vector; the probed cell
  *    set is pushed as a partition filter, so the scan lists and reads
  *    only ~nprobe/cells of each segment's files. Scan fraction is the
  *    coarse quantizer's contract, now enforced by the LAYOUT, not by
  *    an in-memory join.
  *  - Segments accumulate per append; [[compact]] folds them into one
  *    (same content, fewer files), and [[vacuum]] reclaims superseded
  *    segments + manifests — the same maintenance verbs as the event
  *    log, because an index IS a table.
  *  - ATTRIBUTE columns ride beside the vectors (`attrs` at [[build]]):
  *    a filtered probe ("top-k where lang = 'en'") pushes its predicate
  *    INTO the pruned candidate scan — pre-filtering, never the
  *    under-returning post-filter of the top-k — because at serving
  *    time the metadata must live where the candidates live.
  *  - Compliance erasure ([[deleteByKey]]) is copy-on-write bounded to
  *    the CELLS that contain the ids; [[vacuum]] completes the physical
  *    reclaim, mirroring the manifested log's GDPR sweep.
  */
object IvfIndex {

  private val Header = "graft-ivf-index-manifest-v1"
  private val LegacyCentroidsFile = "centroids.txt"
  private val CentroidsHeader = "graft-ivf-centroids-v1"
  private val LegacyPqFile = "pq.txt"
  private val PqHeader = "graft-pq-codebooks-v1"

  /** Column names the index layout owns; attribute columns may not
    * collide with them. */
  private val ReservedCols = Set("vec_id", "embedding", "codes", "codes8", "cell")

  /** Sentinel for [[build]]'s `cells`: size the quantizer from the
    * corpus as [[autoCells]] — the scale-correct default when the
    * caller has no measured operating point (a [[Similarity.calibrateIvf]]
    * pick, when affordable, beats both). */
  val AutoCells: Int = -1

  /** max(16, ⌊√n⌋) — the standard IVF sizing: √n cells bound both the
    * per-probe candidate mass (~nprobe·√n) and the driver-side centroid
    * table (√n·dim floats — ~4 MB at a billion 64-dim vectors), the
    * same Σ|cell|² argument SemDeDup's auto cell count uses. */
  def autoCells(n: Long): Int =
    math.max(16, math.sqrt(math.max(0L, n).toDouble).toInt)

  /** Past this many probed cells the `cell IN (…)` partition filter is
    * dropped: a thousands-literal In is pathological for partition
    * listing (|cells| × |probed| comparisons at planning) while pruning
    * so wide a probe barely bounds the scan anyway. The equi-join on
    * the stored cell keeps the RESULT identical either way — the
    * literal list is a plan-only optimization. */
  private[graft] val MaxProbedCellLiterals = 2048

  /** One manifest segment reference: the directory name plus the cells
    * a reader must SKIP (written by [[deleteByKey]]'s copy-on-write —
    * the skipped cells' surviving rows live in a later erase segment).
    * Skips render as `seg-xyz|skip=3,7`; pre-existing manifests carry
    * bare names and parse with no skips. The skip filter is a partition
    * predicate, so skipped cells are pruned at listing — never read. */
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

  /** One published index state: the segment list AND the quantizer
    * files it was assigned under — resolved together from one manifest
    * read, which is what makes a probe internally consistent under
    * concurrent rebuild. `attrsDdl` is the DDL of the attribute columns
    * stored beside the vectors (None → none). */
  final case class IndexManifest(version: Long, entries: Seq[SegEntry],
                                 centroidsFile: String,
                                 pqFile: Option[String],
                                 sq8: Boolean = false,
                                 attrsDdl: Option[String] = None) {
    /** Segment directory names (skip sets elided). */
    def segments: Seq[String] = entries.map(_.name)
    /** The stored attribute columns, parsed from the manifest's DDL. */
    def attrs: StructType =
      attrsDdl.map(StructType.fromDDL).getOrElse(new StructType())
  }

  private def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(spark: SparkSession, root: Path): VersionedDir =
    new VersionedDir(fs(spark, root), root, "index-manifest")

  // ----------------------------------------------------------- manifest

  def versions(spark: SparkSession, path: String): Seq[Long] =
    dir(spark, new Path(path)).versions

  /** (version, segment dir names) of the newest manifest. */
  def readManifest(spark: SparkSession, path: String): (Long, Seq[String]) = {
    val m = readManifestFull(spark, path)
    (m.version, m.segments)
  }

  /** The newest manifest, quantizer refs included. Manifests written
    * before quantizer versioning carry no `centroids=`/`pq=` lines and
    * resolve to the legacy fixed names (the pq fallback probes the
    * filesystem — pre-versioning pq.txt presence WAS the PQ marker). */
  def readManifestFull(spark: SparkSession, path: String): IndexManifest = {
    val v = versions(spark, path).lastOption.getOrElse(
      sys.error(s"no index manifest under $path — not an IVF index"))
    readManifestAt(spark, path, v)
  }

  private[operators] def readManifestAt(spark: SparkSession, path: String,
                                        v: Long): IndexManifest = {
    val root = new Path(path)
    val entries = dir(spark, root).lines(v, Header)
    val cents = entries.collectFirst { case s if s.startsWith("centroids=") =>
      s.stripPrefix("centroids=") }
    val pq = entries.collectFirst { case s if s.startsWith("pq=") =>
      s.stripPrefix("pq=") }
    val sq8 = entries.contains("sq8=1")
    val attrs = entries.collectFirst { case s if s.startsWith("attrs=") =>
      s.stripPrefix("attrs=") }
    val segs = entries.filterNot(s => s.startsWith("centroids=") ||
      s.startsWith("pq=") || s.startsWith("sq8=") || s.startsWith("attrs="))
    IndexManifest(v, segs.map(SegEntry.parse),
      cents.getOrElse(LegacyCentroidsFile),
      pq.orElse(if (cents.isEmpty &&
                    fs(spark, root).exists(new Path(root, LegacyPqFile)))
                  Some(LegacyPqFile) else None),
      sq8, attrs)
  }

  private def publish(spark: SparkSession, root: Path, version: Long,
                      entries: Seq[SegEntry], centroidsFile: String,
                      pqFile: Option[String],
                      sq8: Boolean = false,
                      attrsDdl: Option[String] = None): Unit = {
    val quant = (s"centroids=$centroidsFile" +: pqFile.map(p => s"pq=$p").toSeq) ++
      (if (sq8) Seq("sq8=1") else Nil) ++
      attrsDdl.map(d => s"attrs=$d").toSeq
    dir(spark, root).publish(version, Header +: (quant ++ entries.map(_.render)))
  }

  // ---------------------------------------------------------- centroids

  /** The frozen coarse quantizer of the NEWEST manifest.
    * `Float.toString`/`toFloat` round-trip exactly, so the persisted
    * centroids are bit-identical to the built ones — what keeps stored
    * assignments and re-derived assignments in agreement forever. */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    readCentroidsFile(spark, new Path(path),
      readManifestFull(spark, path).centroidsFile)

  private def readCentroidsFile(spark: SparkSession, root: Path,
                                file: String): Array[Array[Float]] = {
    val f = fs(spark, root)
    val in = f.open(new Path(root, file))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val lines = text.linesIterator.toList
    require(lines.headOption.contains(CentroidsHeader),
      s"$root/$file is not a $CentroidsHeader file")
    lines.drop(1).filter(_.nonEmpty)
      .map(_.split(',').map(_.toFloat)).toArray
  }

  private def writeCentroids(spark: SparkSession, root: Path, file: String,
                             cents: Array[Array[Float]]): Unit = {
    val f = fs(spark, root)
    val out = f.create(new Path(root, file), true)
    try out.write((CentroidsHeader +:
      cents.map(_.map(_.toString).mkString(",")).toSeq)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // --------------------------------------------------------- PQ layer

  /** The frozen PQ codebooks of the NEWEST manifest, present iff the
    * index was built with a [[Pq.PqParams]] layer. Same
    * `Float.toString` round-trip contract as the centroids: the
    * persisted codebooks are bit-identical to the trained ones, so
    * stored code words and re-derived ones agree. */
  def readPq(spark: SparkSession, path: String): Option[Pq.PqCodebooks] =
    readManifestFull(spark, path).pqFile
      .map(readPqFile(spark, new Path(path), _))

  private def readPqFile(spark: SparkSession, root: Path,
                         file: String): Pq.PqCodebooks = {
    val f = fs(spark, root)
    val in = f.open(new Path(root, file))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val lines = text.linesIterator.toList
    require(lines.headOption.contains(PqHeader),
      s"$root/$file is not a $PqHeader file")
    val Array(m, ksub, subDim) = lines(1).split(',').map(_.toInt)
    val flat = lines.drop(2).filter(_.nonEmpty)
      .map(_.split(',').map(_.toFloat)).toArray
    Pq.PqCodebooks(m, ksub, subDim, flat)
  }

  private def writePq(spark: SparkSession, root: Path, file: String,
                      cb: Pq.PqCodebooks): Unit = {
    val f = fs(spark, root)
    val out = f.create(new Path(root, file), true)
    try out.write((Seq(PqHeader, s"${cb.m},${cb.ksub},${cb.subDim}") ++
      cb.flat.map(_.map(_.toString).mkString(",")).toSeq)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // -------------------------------------------------------------- write

  /** One cell-partitioned segment from `vectors` under the given frozen
    * centroids. Vectors inside a cell sort by id — stable files, and
    * row-group stats on vec_id for point reads. `attrs` columns are
    * carried verbatim beside the vectors.
    *
    * The write CLUSTERS rows by cell first ([[compact]]'s tile recipe):
    * without it every upstream task writes its own sliver of every cell
    * it touches — tasks × cells files of a few rows each (at 32 local
    * cores, 512 files for a 16-cell segment; at cluster scale, millions
    * — §6's small-files failure both at listing and at per-file open on
    * every probe, and the file count SCALES WITH THE WRITER'S
    * PARALLELISM, which is how the same probe got slower with more
    * cores). One bounded assignment-count pass sizes per-cell tiles so
    * a hot cell still spreads over ⌈rows/maxRowsPerFile⌉ write tasks
    * instead of one straggler. */
  private def writeSegment(spark: SparkSession, root: Path, segName: String,
                           vectors: DataFrame, cents: Array[Array[Float]],
                           idCol: String, vecCol: String,
                           pqCb: Option[Pq.PqCodebooks] = None,
                           sq8: Boolean = false,
                           attrs: Seq[String] = Nil,
                           maxRowsPerFile: Long = 1L << 20): Unit = {
    import graft.functions.SketchFunctions.nearestCentroids
    import spark.implicits._
    val f = fs(spark, root)
    val target = new Path(root, segName)
    if (f.exists(target)) f.delete(target, true) // unreferenced leftover
    val base = Parallelism.spreadToCores(
        vectors.select(col(idCol).as("vec_id") +: col(vecCol).as("embedding") +:
          attrs.map(col): _*))
    val withPq = pqCb match {
      case Some(cb) => Pq.encode(base, cb) // m-byte code word beside the floats
      case None => base
    }
    val withCodes = // per-vector SQ8 needs no trained quantizer — pure map
      if (sq8) withPq.withColumn("codes8",
        graft.functions.SketchFunctions.sq8EncodeBytes(col("embedding")))
      else withPq
    val assigned = withCodes
      .withColumn("cell", nearestCentroids(col("embedding"), cents, 1)(0))
    // bounded collect (≤ cells rows): per-cell tile counts — one narrow
    // extra assignment pass beside the refineIters Lloyd passes already
    // paid, bought back on every probe of the segment forever
    val tiles = assigned.groupBy("cell").count().collect()
      .map(r => (r.getLong(0),
        math.ceil(r.getLong(1).toDouble / maxRowsPerFile).toLong))
      .filter(_._2 > 1)
    val clustered =
      if (tiles.isEmpty) assigned.repartition(col("cell"))
      else assigned
        .join(broadcast(tiles.toSeq.toDF("cell", "tiles")), Seq("cell"),
          "left")
        .withColumn("tile",
          pmod(col("vec_id"), greatest(coalesce(col("tiles"), lit(1L)),
            lit(1L))))
        .repartition(col("cell"), col("tile"))
        .drop("tile", "tiles")
    clustered
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy("cell").parquet(target.toString)
    f.delete(new Path(target, "_SUCCESS"), false)
  }

  /** A segment of rows ALREADY carrying the index schema (stored cell
    * included) — the erase path's writer: assignments are preserved,
    * never recomputed, so an erase can't drift a row's cell even across
    * a concurrent rebuild attempt. */
  private def writeRawSegment(spark: SparkSession, root: Path, segName: String,
                              rows: DataFrame): Unit = {
    val f = fs(spark, root)
    val target = new Path(root, segName)
    if (f.exists(target)) f.delete(target, true)
    rows
      // cluster by cell before the write (writeSegment's rationale —
      // without it, files = writer tasks × touched cells); erase
      // segments are bounded to the affected cells' survivors, so one
      // task per cell suffices and no tile sizing pass is warranted
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1L << 20)
      .partitionBy("cell").parquet(target.toString)
    f.delete(new Path(target, "_SUCCESS"), false)
  }

  /** The attribute DDL for `attrs` drawn from the input frame's schema
    * (name, type, nullability verbatim), after the reserved-name guard. */
  private def attrsDdlOf(vectors: DataFrame, attrs: Seq[String]): Option[String] = {
    attrs.foreach { a =>
      require(!ReservedCols.contains(a),
        s"attribute column '$a' collides with an index layout column " +
          s"(${ReservedCols.toSeq.sorted.mkString(", ")})")
    }
    if (attrs.isEmpty) None
    else Some(StructType(attrs.map(a => vectors.schema(a))).toDDL)
  }

  /** Build the index: deterministic centroids (smallest-id seeds +
    * `refineIters` quantized-Lloyd passes — [[Similarity.refineCentroids]],
    * identical to [[Similarity.ivfTopK]]'s pipeline at the same
    * parameters), one cell-partitioned segment, manifest v1. Building
    * over an existing index replaces it logically in the ONE manifest
    * rename — the new quantizer files and segment are invisible until
    * the flip, so a crash mid-rebuild (or a concurrent reader) keeps
    * serving the old (quantizer, segments) pairing; the superseded
    * files become unreferenced and [[vacuum]] reclaims them.
    *
    * `attrs` names metadata columns of `vectors` (e.g. lang, split,
    * label) stored beside each vector: [[search]]'s `pred` then filters
    * candidates INSIDE the pruned scan — the serving shape every
    * RAG/curation pipeline needs, impossible to bolt on post-top-k
    * without under-returning k. */
  def build(vectors: DataFrame, path: String, cells: Int,
            refineIters: Int = 2, idCol: String = "vec_id",
            vecCol: String = "embedding",
            pq: Option[Pq.PqParams] = None,
            sq8: Boolean = false,
            attrs: Seq[String] = Nil): Long = {
    require(cells > 0 || cells == AutoCells,
      s"cells must be positive (or IvfIndex.AutoCells), got $cells")
    val spark = vectors.sparkSession
    val root = new Path(path)
    val attrsDdl = attrsDdlOf(vectors, attrs)
    val nCells =
      if (cells == AutoCells) autoCells(vectors.count()) else cells
    val cents = Similarity.refineCentroids(
      vectors, Similarity.sampleCentroids(vectors, nCells, idCol, vecCol),
      refineIters, vecCol)
    // the PQ codebooks freeze at build exactly like the coarse quantizer
    val pqCb = pq.map(p =>
      Pq.train(vectors, p.m, p.ksub, p.iters, idCol, vecCol))
    val version = versions(spark, path).lastOption.getOrElse(0L) + 1
    val centsFile = f"centroids-$version%09d.txt"
    val pqFile = pqCb.map(_ => f"pq-$version%09d.txt")
    writeCentroids(spark, root, centsFile, cents)
    pqCb.foreach(cb => writePq(spark, root, pqFile.get, cb))
    val seg = f"seg-$version%09d"
    writeSegment(spark, root, seg, vectors, cents, idCol, vecCol, pqCb, sq8,
                 attrs)
    publish(spark, root, version, Seq(SegEntry(seg)), centsFile, pqFile, sq8,
            attrsDdl)
    version
  }

  /** Append a batch: assign to the FROZEN centroids, land one new
    * segment, one atomic manifest flip — cost ∝ batch. Attribute
    * columns recorded at build are carried from the batch (a missing
    * one fails loudly at analysis — an index row without its serving
    * metadata would silently drop out of every filtered probe).
    *
    * `batchTag` makes the append IDEMPOTENT per tag: the tag rides in
    * the segment name, and a manifest already listing a segment with it
    * returns the current version without writing — which upgrades
    * at-least-once delivery (streaming foreachBatch retries) to
    * exactly-once index content, the same contract the event log gets
    * from key-dedup. Untagged appends always land.
    *
    * RACING appenders converge exactly-once, as the log's do: segment
    * names carry a random token so two racers never write the same
    * directory, and the loser of the manifest rename re-reads the
    * manifest and re-publishes on top — its already-written segment's
    * cell assignments stay valid because appends never change the
    * quantizer. A REBUILD winning the race does change it, so the
    * retry fails loudly instead of publishing stale assignments. */
  def append(vectors: DataFrame, path: String, idCol: String = "vec_id",
             vecCol: String = "embedding",
             batchTag: Option[String] = None): Long = {
    batchTag.foreach(VersionedDir.requireName("batch tags", _))
    val spark = vectors.sparkSession
    val root = new Path(path)
    val m0 = readManifestFull(spark, path)
    val cents = readCentroidsFile(spark, root, m0.centroidsFile)
    val pqCb = m0.pqFile.map(readPqFile(spark, root, _)) // frozen together
    if (batchTag.exists(VersionedDir.delivered(m0.segments, _))) return m0.version
    val seg = VersionedDir.segmentName(batchTag)
    writeSegment(spark, root, seg, vectors, cents, idCol, vecCol, pqCb, m0.sq8,
                 m0.attrs.fieldNames.toSeq)
    // the quantizer is the layout a rebuild replaces
    dir(spark, root).publishSegment(seg, batchTag, m0,
        () => readManifestFull(spark, path))(
        _.version, _.segments, _.centroidsFile) { m =>
      publish(spark, root, m.version + 1, m.entries :+ SegEntry(seg),
              m.centroidsFile, m.pqFile, m.sq8, m.attrsDdl)
    }
  }

  /** Streaming ingest twin: each micro-batch appends one batch-tagged
    * segment — re-delivered batches no-op on the tag, so restarts
    * upgrade to exactly-once index content; every batch is one atomic
    * manifest flip, so a concurrent [[search]] sees whole batches or
    * nothing. */
  def ingest(vectors: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, path, batchTag = Some(batchId.toString)); ()
      }
      .start()

  // ------------------------------------------------- change-feed sync

  private def logTag(logPath: String): String = SyncCursors.logTag(logPath)

  /** Record that the index content reflects the log AS OF `version` —
    * written by [[buildFromLog]], or by a caller that materialized the
    * index from log content through another path. Atomic tmp+rename. */
  def markSynced(spark: SparkSession, indexPath: String, logPath: String,
                 version: Long): Unit = {
    val root = new Path(indexPath)
    SyncCursors.writeBase(fs(spark, root), root, logTag(logPath), version)
  }

  /** The log version this index's content reflects: the max of the
    * recorded build base and every sync tag's upper bound IN THE LIVE
    * MANIFEST — the cursor is derived from the same atomic rename that
    * published the synced segment, so "segment landed" and "cursor
    * advanced" cannot diverge (the failure a cursor-in-a-separate-file
    * protocol has between its write and the append). Maintenance verbs
    * that fold tagged segments away ([[compact]]) first persist every
    * tag's bound into the base file ([[SyncCursors.persistCursors]]),
    * so the max never regresses across the fold. */
  def syncedVersion(spark: SparkSession, indexPath: String,
                    logPath: String): Option[Long] = {
    val root = new Path(indexPath)
    SyncCursors.syncedVersion(fs(spark, root), root, logTag(logPath),
      readManifestFull(spark, indexPath).segments)
  }

  /** Build the index from a manifested log's CURRENT content and record
    * the log version it reflects — the starting point of the
    * change-feed maintenance loop ([[syncFromLog]] then tracks the log
    * forward without rebuilds). `key` must be unique in the log (append
    * with `dedupKey = Some(key)`). */
  def buildFromLog(spark: SparkSession, logPath: String, indexPath: String,
                   cells: Int, refineIters: Int = 2,
                   key: String = "vec_id", vecCol: String = "embedding",
                   pq: Option[Pq.PqParams] = None, sq8: Boolean = false,
                   attrs: Seq[String] = Nil): Long = {
    val (logV, _) = ManifestedLog.readManifest(spark, logPath)
    val vectors = ManifestedLog.load(spark, logPath)
      .select(col(key) +: col(vecCol) +: attrs.map(col): _*)
    val v = build(vectors, indexPath, cells, refineIters, key, vecCol, pq,
                  sq8, attrs)
    markSynced(spark, indexPath, logPath, logV)
    v
  }

  /** Advance the index to the log's newest version: compute the delta
    * with the log's own change feed ([[ManifestedLog.changesBetween]] —
    * cost ∝ touched days, never the log) and [[append]] it under the
    * sync batch tag `log<h>-<from>-<to>`. Returns
    * (log version synced to, index manifest version).
    *
    * EXACTLY-ONCE by construction, restartable from any crash point:
    * the cursor IS the newest sync tag in the live manifest (plus the
    * build base), and the tag lands in the same atomic manifest rename
    * as the segment itself — a crash before the publish leaves no tag
    * (re-run recomputes the same delta; the orphaned staging segment is
    * vacuum's age-guarded sweep), a crash after it leaves the cursor
    * already advanced (re-run sees from == to and no-ops). A re-run
    * against an unchanged log is a pure no-op: no scan of the log
    * beyond its manifest, no index write. This is how a 100 TB index
    * tracks a growing corpus: per-sync cost ∝ the delta, rebuilds only
    * for quantizer drift. */
  def syncFromLog(spark: SparkSession, logPath: String, indexPath: String,
                  key: String = "vec_id",
                  vecCol: String = "embedding"): (Long, Long) = {
    val from = syncedVersion(spark, indexPath, logPath).getOrElse(sys.error(
      s"$indexPath has no sync cursor for log $logPath — build it with " +
        "buildFromLog (or markSynced the version its content reflects)"))
    val (to, _) = ManifestedLog.readManifest(spark, logPath)
    val m = readManifestFull(spark, indexPath)
    if (to == from) return (from, m.version)
    // cursor 0 means NONE of the log is reflected yet (markSynced(…, 0)
    // on an index built elsewhere) — the delta is the whole log
    val delta0 =
      if (from == 0L) ManifestedLog.load(spark, logPath)
      else ManifestedLog.changesBetween(spark, logPath, from, to, key)
    val delta = delta0
      .select(col(key) +: col(vecCol) +: m.attrs.fieldNames.toSeq.map(col): _*)
    val v = append(delta, indexPath, idCol = key, vecCol = vecCol,
                   batchTag = Some(s"${logTag(logPath)}-$from-$to"))
    (to, v)
  }

  // -------------------------------------------------------------- stats

  /** Per-cell row/byte/file counts from parquet FOOTERS only — the
    * index twin of the log's `dayStats`: monitoring-grade visibility
    * into hot-cell skew (the classic IVF failure mode) at metadata
    * cost, never a data scan. The file listing is driver-side planner
    * work bounded by the manifest's file count; the footer reads
    * distribute across the cluster. Row totals are exact, so the
    * result hash-matches a full-scan group-by — that is its oracle.
    * Skipped (erased) cells are excluded, as every reader excludes
    * them. */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    cellStatsOf(spark, new Path(path), readManifestFull(spark, path))

  /** [[cellStats]] of the manifest `m` — [[compact]] sizes its tiles
    * from the manifest it folds, not a newer one. */
  private[operators] def cellStatsOf(spark: SparkSession, root: Path,
                                     m: IndexManifest): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val CellRe = "cell=(\\d+)".r
    val files: Seq[(Long, String, Long)] = for {
      e <- m.entries
      cellDir <- f.listStatus(new Path(root, e.name)).toSeq
      cm <- CellRe.findFirstMatchIn(cellDir.getPath.getName).toSeq
      if !e.skip.contains(cm.group(1).toLong)
      st <- f.listStatus(cellDir.getPath).toSeq
      if st.getPath.getName.endsWith(".parquet")
    } yield (cm.group(1).toLong, st.getPath.toString, st.getLen)
    val bc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices)
      .map { case (cell, file, bytes) =>
        (cell, Footers.rowCount(bc.value.value, file), bytes)
      }
      .toDF("cell", "n_rows", "bytes")
      .groupBy("cell")
      .agg(sum("n_rows").as("n_rows"), sum("bytes").as("bytes"),
           count(lit(1)).as("files"))
  }

  // -------------------------------------------------------- maintenance

  /** Fold every segment into one (content-identical, fewer files);
    * readers flip atomically with the manifest, and the quantizer refs
    * carry forward unchanged (compaction moves bytes, never geometry).
    * Erase skips fold away too: the merged read excludes skipped cells,
    * so compaction doubles as the PHYSICAL completion of a prior
    * [[deleteByKey]] (the superseded segments then reclaim via
    * [[vacuum]]).
    *
    * Hot cells RE-TILE instead of re-concentrating: [[cellStats]]'
    * footer counts size a per-cell tile count (⌈rows/maxRowsPerFile⌉),
    * a broadcast join tags each row's tile, and the shuffle spreads a
    * hot cell over that many write tasks — so compaction cost tracks
    * the SKEWED cell's size with parallelism, not one straggler task,
    * and `maxRecordsPerFile` makes the per-file bound hard. A probe of
    * a cold cell stays bounded by that cell's files, never the hottest
    * cell's. */
  def compact(spark: SparkSession, path: String,
              maxRowsPerFile: Long = 1L << 20): Long = {
    require(maxRowsPerFile > 0, s"maxRowsPerFile must be positive")
    val root = new Path(path)
    val m = readManifestFull(spark, path)
    import spark.implicits._
    val merged = readSegments(spark, root, m)
    // bounded collect (≤ cells rows, already footer-only): when no cell
    // re-tiles — the non-skewed common case — the tile join and column
    // drop out of the plan entirely (LexIndex.compact's recipe)
    val tiles = cellStatsOf(spark, root, m).select("cell", "n_rows").collect()
      .map(r => (r.getLong(0),
        math.ceil(r.getLong(1).toDouble / maxRowsPerFile).toLong))
      .filter(_._2 > 1)
    val seg = f"seg-${m.version + 1}%09d"
    val f = fs(spark, root)
    val target = new Path(root, seg)
    if (f.exists(target)) f.delete(target, true)
    val retiled =
      if (tiles.isEmpty) merged.repartition(col("cell"))
      else merged
        .join(broadcast(tiles.toSeq.toDF("cell", "tiles")), Seq("cell"),
          "left")
        .withColumn("tile",
          pmod(col("vec_id"), greatest(coalesce(col("tiles"), lit(1L)),
            lit(1L))))
        .repartition(col("cell"), col("tile"))
        .drop("tile", "tiles")
    retiled
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy("cell").parquet(target.toString)
    f.delete(new Path(target, "_SUCCESS"), false)
    // the sync cursors live in the tagged segment NAMES the fold is
    // about to discard — persist them to the base files first, or the
    // next syncFromLog would re-ingest (and duplicate) every delta
    // since the build base
    SyncCursors.persistCursors(f, root, m.segments)
    publish(spark, root, m.version + 1, Seq(SegEntry(seg)), m.centroidsFile,
            m.pqFile, m.sq8, m.attrsDdl)
    m.version + 1
  }

  /** Compliance erasure — the GDPR sweep the manifested log has
    * ([[ManifestedLog.deleteByKey]]), for the vector index: after this,
    * no probe, lookup, or read of the live index returns the ids.
    *
    * COPY-ON-WRITE BOUNDED TO CONTAINING CELLS: one pushed-predicate
    * scan locates the (segment, cell) pairs holding the ids (vec_id
    * sorts inside every cell, so row-group stats skip the rest); each
    * affected segment contributes one ERASE segment holding only those
    * cells' SURVIVING rows (stored assignments preserved, never
    * recomputed), and the old segment's manifest entry gains a
    * `skip=` set for them — untouched cells and untouched segments are
    * not read, not rewritten, not even listed. One atomic manifest
    * flip publishes the whole erase.
    *
    * Physical completion: the superseded bytes live in skipped cell
    * dirs and older manifests until [[vacuum]] (which reclaims cell
    * dirs every retained manifest skips) or [[compact]] (which folds
    * to a skip-free segment). Idempotent: erasing already-absent ids
    * publishes nothing and returns the current version. */
  def deleteByKey(spark: SparkSession, path: String, keys: Seq[Long],
                  maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "deleteByKey needs at least one id")
    deleteWhere(spark, path, col("vec_id").isin(keys: _*), maxRetries)
  }

  /** [[deleteByKey]] generalized to an arbitrary predicate over the
    * index columns — the attribute-sweep compliance shape ("erase
    * every vector where licence = 'revoked'"), fully distributed (no
    * id list ever materializes anywhere). Rows where the predicate is
    * TRUE are erased; NULL is not-erased (a row whose attribute is
    * missing must not silently vanish under an attribute sweep).
    * Same copy-on-write bounds, atomicity, idempotence, and physical-
    * completion story as [[deleteByKey]]. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  maxRetries: Int = 5): Long = {
    val root = new Path(path)
    val m = readManifestFull(spark, path)
    val schema = indexSchema(m)
    // ONE job: per-segment branches union under a segment-name literal,
    // each branch's predicate pushed into its pruned scan
    val hits = m.entries.map { e =>
      segFrame(spark, root, e, schema)
        .filter(pred)
        .select(lit(e.name).as("seg"), col("cell"))
    }.reduce(_.unionByName(_)).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return m.version
    val affected: Map[String, Seq[Long]] =
      hits.groupBy(_._1).map { case (s, cs) => s -> cs.map(_._2).toSeq.sorted }
    val eraseEntries = affected.toSeq.sortBy(_._1).map { case (segName, cells) =>
      val e = m.entries.find(_.name == segName).getOrElse(
        sys.error(s"located segment $segName vanished from the manifest"))
      val newSeg = s"seg-${VersionedDir.token()}-e"
      // partition filter first: the rewrite READS only the containing
      // cells' files (pruned at listing), then drops the erased rows —
      // NULL-predicate rows survive (coalesce, not bare negation)
      val survivors = segFrame(spark, root, e, schema)
        .filter(col("cell").isin(cells: _*))
        .filter(!coalesce(pred, lit(false)))
      writeRawSegment(spark, root, newSeg, survivors)
      SegEntry(newSeg)
    }
    val newEntries = m.entries.map { e =>
      affected.get(e.name) match {
        case Some(cells) => e.copy(skip = (e.skip ++ cells).distinct.sorted)
        case None => e
      }
    } ++ eraseEntries
    try {
      publish(spark, root, m.version + 1, newEntries, m.centroidsFile,
              m.pqFile, m.sq8, m.attrsDdl)
      m.version + 1
    } catch {
      case e: ConcurrentWriteException =>
        // a racer published (append/compact/rebuild) — our located cells
        // may be stale against its manifest, so drop the staged erase
        // segments and redo the whole erase against the new state
        val f = fs(spark, root)
        eraseEntries.foreach(es => f.delete(new Path(root, es.name), true))
        if (maxRetries <= 0) throw e
        deleteWhere(spark, path, pred, maxRetries - 1)
    }
  }

  /** Reader pins — the [[VersionedDir]] handshake
    * ([[ManifestedLog.pin]]'s contract, index side): a long-running
    * reader (an offline evaluation replaying one index version, a
    * serving fleet draining on a pinned snapshot) pins its version
    * BEFORE the long read, and [[vacuum]] keeps every pinned manifest
    * (and the segments, centroids, and PQ codebooks it references)
    * until unpinned. A pin either protects its version or fails loudly
    * at pin time, never silently protects nothing. */
  def pin(spark: SparkSession, path: String, name: String, version: Long): Long =
    dir(spark, new Path(path)).pin(name, version)

  /** Drop the named pin; true if it existed. */
  def unpin(spark: SparkSession, path: String, name: String): Boolean =
    dir(spark, new Path(path)).unpin(name)

  /** All registered pins, name → version. */
  def pins(spark: SparkSession, path: String): Map[String, Long] =
    dir(spark, new Path(path)).pins

  /** Drop superseded manifests, the segments and quantizer files no
    * retained manifest references, and — completing [[deleteByKey]]'s
    * physical erasure — every cell directory ALL retaining manifests
    * skip (a skipped cell is unreferenced by definition: readers prune
    * it at listing).
    *
    * Retention is keepVersions ∪ [[pin]]s: every pinned manifest
    * survives (with everything it references) until unpinned.
    *
    * `orphanMinAgeMs` guards entries NO manifest has EVER referenced —
    * exactly what an in-flight [[append]]'s token-named segment, a
    * mid-rebuild's quantizer files, and `.index-manifest-*.tmp` staging
    * are until their publish ([[VersionedDir.vacuum]]). Sweeps beside
    * live ingest should set it above the longest append (e.g. 1h); the
    * 0 default keeps eager cleanup for single-writer use. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             orphanMinAgeMs: Long = 0L): Long = {
    val root = new Path(path)
    val (kept, swept) = dir(spark, root).vacuum(keepVersions, orphanMinAgeMs)(
      readManifestAt(spark, path, _))(
      m => m.segments.toSet + m.centroidsFile ++ m.pqFile,
      n => n.startsWith("seg-") || n.startsWith("centroids-") ||
        n.startsWith("pq-"))
    // physical erase completion: a live segment's cell dir reclaims when
    // EVERY kept manifest referencing the segment skips that cell
    val f = fs(spark, root)
    var removed = swept
    SegEntry.skippedByAll(kept.flatMap(_.entries)).foreach { case (seg, cells) =>
      cells.foreach { c =>
        val cellDir = new Path(root, s"$seg/cell=$c")
        if (f.exists(cellDir)) { f.delete(cellDir, true); removed += 1 }
      }
    }
    removed
  }

  // --------------------------------------------------------------- read

  /** Authoritative read schema: `cell` is declared LONG here rather
    * than cast after partition inference (which would default it to
    * int) — a cast on the partition column wraps the attribute and
    * BLOCKS partition pruning, turning every probe into a full scan
    * (spec-pinned via inputFiles). Attribute columns sit between the
    * codes and the partition column. */
  private def indexSchema(m: IndexManifest): StructType = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))
    val pq = if (m.pqFile.isDefined) Seq(StructField("codes", BinaryType)) else Nil
    val sq8 = if (m.sq8) Seq(StructField("codes8", BinaryType)) else Nil
    StructType(base ++ pq ++ sq8 ++ m.attrs.fields :+
      StructField("cell", LongType))
  }

  /** Every indexed vector with its STORED cell: `(vec_id, embedding[,
    * codes][, codes8][, attrs…], cell)` across the newest manifest's
    * segments. Each segment is its own partitioned-table root
    * (multi-root partition discovery rejects sibling roots), so
    * segments read independently and union — the probe filter prunes
    * partitions inside every branch, and a projection prunes columns
    * inside every branch (an ADC probe never reads the float vectors).
    * Erase-skipped cells are pruned at listing inside each branch. */
  def read(spark: SparkSession, path: String): DataFrame =
    readSegments(spark, new Path(path), readManifestFull(spark, path))

  /** [[read]] against an already-resolved manifest — the spoken-probe
    * route reads the manifest ONCE and shares it between the
    * query-vector lookup and the probe. */
  private[graft] def readWith(spark: SparkSession, path: String,
                              m: IndexManifest): DataFrame =
    readSegments(spark, new Path(path), m)

  private def segFrame(spark: SparkSession, root: Path, e: SegEntry,
                       schema: StructType): DataFrame = {
    val df = spark.read.schema(schema)
      .parquet(new Path(root, e.name).toString)
    // a skip is a partition predicate: excluded cells prune at listing
    if (e.skip.isEmpty) df else df.filter(!col("cell").isin(e.skip: _*))
  }

  private def readSegments(spark: SparkSession, root: Path,
                           m: IndexManifest): DataFrame = {
    val schema = indexSchema(m)
    m.entries.map(segFrame(spark, root, _, schema))
      .reduce(_.unionByName(_))
  }

  /** The pruned single-row plan behind [[lookupVector]], exposed so the
    * executed scan is spec-pinnable: projection keeps `(vec_id,
    * embedding)` only (a PQ index's code words stay on disk) and the id
    * equality pushes into every segment's parquet scan, where the
    * per-cell `vec_id` sort gives row-group min/max skipping. */
  private[graft] def lookupFrame(spark: SparkSession, path: String,
                                 id: Long): DataFrame =
    lookupFrameWith(spark, path, readManifestFull(spark, path), id)

  private def lookupFrameWith(spark: SparkSession, path: String,
                              m: IndexManifest, id: Long): DataFrame =
    readWith(spark, path, m)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") === id)

  /** The STORED embedding of one indexed id — the bounded query-vector
    * fetch the NL probe route uses. A one-row driver collect, same
    * class as the centroid fetch; never feed [[read]] itself into a
    * probe's query side (it would broadcast a full index scan — at
    * scale, a full-table read per spoken probe). */
  def lookupVector(spark: SparkSession, path: String, id: Long): Array[Float] =
    lookupVectorWith(spark, path, readManifestFull(spark, path), id)

  private[graft] def lookupVectorWith(spark: SparkSession, path: String,
                                      m: IndexManifest, id: Long): Array[Float] = {
    val rows = lookupFrameWith(spark, path, m, id).limit(1).collect()
    require(rows.nonEmpty, s"vec_id $id is not stored in the index at $path")
    rows(0).getSeq[Float](1).toArray
  }

  /** The stored embeddings of a BATCH of ids in ONE pruned read — the
    * serving-batch form of [[lookupVector]]: the id set pushes into
    * every segment's parquet scan as a literal `IN` (row-group min/max
    * skipping on the per-cell vec_id sort), degrading to an equi-join
    * past [[MaxProbedCellLiterals]] ids. One Spark job regardless of
    * batch size — a per-id loop would be |batch| serial jobs, the
    * driver-side serving ceiling this replaces. The driver collect is
    * bounded by the serving batch (|ids| × dim floats — the same rows a
    * per-id loop would have collected one at a time). Missing ids fail
    * loudly, as the single lookup does. */
  private[graft] def lookupVectorsWith(spark: SparkSession, path: String,
                                       m: IndexManifest,
                                       ids: Array[Long]): Map[Long, Array[Float]] = {
    if (ids.isEmpty) return Map.empty
    val base = readWith(spark, path, m).select(col("vec_id"), col("embedding"))
    val fetched =
      if (ids.length <= MaxProbedCellLiterals)
        base.filter(col("vec_id").isin(ids: _*))
      else {
        import spark.implicits._
        base.join(broadcast(ids.toSeq.toDF("vec_id")), Seq("vec_id"))
      }
    val got = fetched.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val missing = ids.filterNot(got.contains)
    require(missing.isEmpty,
      s"vec_ids ${missing.mkString(", ")} are not stored in the index at $path")
    got
  }

  /** [[lookupVectorsWith]]'s FRAME form — the same id-pushed pruned
    * read returned as a DataFrame, so the fetched vectors flow straight
    * into a downstream join/probe WITHOUT ever materializing on the
    * driver (the serving path past the bounded-batch class: only the id
    * literals and, downstream, the probed cell ids touch the driver).
    * Missing ids surface when the caller validates (see
    * [[Retrieval.serve]]'s bounded presence check) — a frame
    * can't fail at construction, it is lazy. */
  private[graft] def lookupVectorsFrame(spark: SparkSession, path: String,
                                        m: IndexManifest,
                                        ids: Array[Long]): DataFrame = {
    val base = readWith(spark, path, m).select(col("vec_id"), col("embedding"))
    if (ids.length <= MaxProbedCellLiterals)
      base.filter(col("vec_id").isin(ids: _*))
    else {
      import spark.implicits._
      base.join(broadcast(ids.toSeq.toDF("vec_id")), Seq("vec_id"))
    }
  }

  // ------------------------------------------------------------- search

  /** The probed-cell partition filter: a literal `IN` up to
    * [[MaxProbedCellLiterals]], dropped above it (see the constant's
    * note — the equi-join on the stored cell keeps the result
    * identical; the full scan is then the honest cost of so wide a
    * probe). */
  private def pruneCells(corpus: DataFrame, probed: Array[Long]): DataFrame =
    if (probed.length <= MaxProbedCellLiterals)
      corpus.filter(col("cell").isin(probed: _*))
    else corpus

  /** ANN search over the index: each query probes its `nprobe` nearest
    * cells (the frozen quantizer, driver-side — centroids are KiBs),
    * the probed cell set pushes down as a PARTITION filter (only those
    * cells' files are listed and read — spec-pinned via inputFiles),
    * candidates join on the STORED cell, are scored by `scoring`'s
    * kernel, and rank top-k per query via the map-side partial
    * aggregator. With [[IvfScoring.Exact]] the result contract is
    * [[Similarity.ivfTopK]]'s at the same parameters — spec-pinned —
    * with the per-query build replaced by the stored layout; the code
    * layers ([[IvfScoring.Adc]], [[IvfScoring.Sq8]]) project only
    * `(vec_id, <codes>, cell)` (plus the attribute columns when `pred`
    * filters), so the pruned scan never reads the float vectors
    * (spec-pinned on the executed scan's read schema). When the probed
    * set covers most cells (a huge query batch), the filter degenerates
    * to a full scan, which is then the honest cost.
    *
    * `queries` is `(vec_id, embedding)`; the result `(query_id,
    * neighbor_id, rank, score)`. `pred` filters CANDIDATES inside the
    * pruned scan (requires the index to store the referenced attribute
    * columns — [[build]]'s `attrs`): the predicate pushes into the
    * parquet scan beside the partition filter, and the top-k ranks over
    * matching candidates only — exactly k matching results, never the
    * under-returning post-filter. */
  def search(spark: SparkSession, path: String, queries: DataFrame, k: Int,
             nprobe: Int, scoring: IvfScoring = IvfScoring.Exact,
             pred: Option[Column] = None): DataFrame =
    searchWith(spark, path, readManifestFull(spark, path), queries, k,
               nprobe, scoring, pred)

  /** [[search]] against an already-resolved manifest. `excludeSelf =
    * false` is the LITERAL-query regime: the query is an external
    * embedding, not a stored row, so nothing is "self" — a stored
    * vector sharing the caller's query_id is a legitimate hit. */
  private[graft] def searchWith(spark: SparkSession, path: String,
                                m: IndexManifest, queries: DataFrame, k: Int,
                                nprobe: Int, scoring: IvfScoring,
                                pred: Option[Column],
                                excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.SketchFunctions.nearestCentroids
    require(k > 0 && nprobe > 0, s"k and nprobe must be positive")
    // ONE manifest resolves quantizer + segments together — a rebuild
    // landing mid-probe cannot mix new centroids with old cells
    val root = new Path(path)
    val kern = probeKernel(spark, path, root, m, scoring)
    val cents = readCentroidsFile(spark, root, m.centroidsFile)
    def cells(v: Column): Column = explode(nearestCentroids(v, cents, nprobe))
    val qb = kern.query match {
      // exact: the query column IS the vector, so the cells explode from
      // the projected column (the plan the exact probe has always had)
      case None => queries
        .select(col("vec_id").as("query_id"), col("embedding").as(kern.queryCol))
        .withColumn("cell", cells(col(kern.queryCol)))
      case Some(encode) => queries
        .select(col("vec_id").as("query_id"),
                encode(col("embedding")).as(kern.queryCol),
                cells(col("embedding")).as("cell"))
    }
    // bounded driver collect: |queries| × nprobe cell ids
    val probed = qb.select("cell").distinct().collect().map(_.getLong(0))
    val segs = readSegments(spark, root, m)
    val projected = kern.stored.fold(segs) { stored =>
      val attrs = if (pred.isDefined) m.attrs.fieldNames.toSeq else Nil
      segs.select((stored ++ attrs).map(col): _*)
    }
    val corpus0 = pruneCells(projected, probed)
    val corpus = pred.fold(corpus0)(corpus0.filter)
    val joined0 = corpus.join(broadcast(qb), Seq("cell"))
    val joined = if (excludeSelf)
      joined0.filter(col("vec_id") =!= col("query_id")) else joined0
    val scored = joined
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              kern.score.as("score"))
    Similarity.topKPerQuery(scored, k)
  }

  /** One scoring's share of the probe: the query-side column
    * `queryCol` (the vector itself when `query` is None, else
    * `query(vector)`), the stored columns the candidate scan projects
    * (None: every column), and the kernel over the joined row. */
  private final case class ProbeKernel(queryCol: String,
                                       query: Option[Column => Column],
                                       stored: Option[Seq[String]],
                                       score: Column)

  /** The layer check and kernel of each [[IvfScoring]]: exact cosine
    * over the floats; the PQ layer's ADC over `m` code bytes per
    * candidate ([[Pq.adcTopK]]'s quantized inner product); the
    * integer-exact SQ8 cosine over 1 byte per dimension
    * ([[graft.functions.Sq8Cosine]] — scales cancel, so the replay
    * needs no association pinning; queries encode on the fly, so the
    * layer needs no trained quantizer and survives any rebuild). */
  private def probeKernel(spark: SparkSession, path: String, root: Path,
                          m: IndexManifest, scoring: IvfScoring): ProbeKernel =
    scoring match {
      case IvfScoring.Exact =>
        ProbeKernel("q_vec", None, None,
          graft.functions.VectorFunctions.cosineSim(col("q_vec"), col("embedding")))
      case IvfScoring.Adc =>
        import graft.functions.PqFunctions.{pqAdc, pqLut}
        val cb = m.pqFile.map(readPqFile(spark, root, _)).getOrElse(sys.error(
          s"$path has no PQ layer — build(..., pq = Some(PqParams(...)))"))
        ProbeKernel("lut", Some(pqLut(_, cb.flat, cb.m, cb.ksub)),
          Some(Seq("vec_id", "codes", "cell")),
          pqAdc(col("lut"), col("codes"), cb.m, cb.ksub))
      case IvfScoring.Sq8 =>
        import graft.functions.SketchFunctions.{sq8Cos, sq8EncodeBytes}
        if (!m.sq8) sys.error(s"$path has no SQ8 layer — build(..., sq8 = true)")
        ProbeKernel("q_codes8", Some(sq8EncodeBytes), Some(Seq("vec_id", "codes8", "cell")),
          sq8Cos(col("q_codes8"), col("codes8")))
    }
}

/** How an IVF probe scores its candidates — one probe body
  * ([[IvfIndex.search]]) with the scoring kernel as a parameter, the
  * IVFADC construction of Jégou et al., "Product Quantization for
  * Nearest Neighbor Search" (TPAMI 2011):
  *  - [[IvfScoring.Exact]]: cosine over the stored float vectors;
  *  - [[IvfScoring.Adc]]: asymmetric distance through the PQ code words
  *    (reads `m` bytes per candidate, never the floats; needs
  *    `build(..., pq = Some(...))`);
  *  - [[IvfScoring.Sq8]]: the integer-exact int8-quantized cosine (1
  *    byte per dimension; needs `build(..., sq8 = true)`).
  * A pure value with no Spark dependency, so the plan IR carries it. */
sealed trait IvfScoring extends Product with Serializable
object IvfScoring {
  case object Exact extends IvfScoring
  case object Adc   extends IvfScoring
  case object Sq8   extends IvfScoring
}
