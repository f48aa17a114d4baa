package graft.operators

import org.apache.hadoop.fs.Path
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
  *  - The segment lifecycle — ingest, change-feed sync, compact,
  *    erase, pins and vacuum — is [[SegmentedIndex]]'s, over the `cell`
  *    partition: the same maintenance verbs as the event log, because
  *    an index IS a table. The quantizer files are this index's extra
  *    manifest references, reclaimed with their last manifest.
  *  - ATTRIBUTE columns ride beside the vectors (`attrs` at [[build]]):
  *    a filtered probe ("top-k where lang = 'en'") pushes its predicate
  *    INTO the pruned candidate scan — pre-filtering, never the
  *    under-returning post-filter of the top-k — because at serving
  *    time the metadata must live where the candidates live.
  *  - Compliance erasure ([[deleteByKey]]) is copy-on-write bounded to
  *    the CELLS that contain the ids; [[vacuum]] completes the physical
  *    reclaim, mirroring the manifested log's GDPR sweep.
  */
object IvfIndex extends SegmentedIndex[Long]("index-manifest", "cell",
                                             "vec_id", "an IVF index",
                                             identity) {

  type M = IndexManifest

  private val Header = "graft-ivf-index-manifest-v1"
  private val LegacyCentroidsFile = "centroids.txt"
  private val CentroidsHeader = "graft-ivf-centroids-v1"
  private val LegacyPqFile = "pq.txt"
  private val PqHeader = "graft-pq-codebooks-v1"

  /** Column names the index layout owns; attribute columns may not
    * collide with them. */
  protected val reservedCols: Set[String] =
    Set("vec_id", "embedding", "codes", "codes8", "cell")

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

  // ----------------------------------------------------------- manifest

  /** Manifest `v`, quantizer refs included. Manifests written before
    * quantizer versioning carry no `centroids=`/`pq=` lines and resolve
    * to the legacy fixed names (the pq fallback probes the filesystem —
    * pre-versioning pq.txt presence WAS the PQ marker). */
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

  protected def publish(spark: SparkSession, root: Path,
                        m: IndexManifest): Unit = {
    val quant = (s"centroids=${m.centroidsFile}" +:
      m.pqFile.map(p => s"pq=$p").toSeq) ++
      (if (m.sq8) Seq("sq8=1") else Nil) ++
      m.attrsDdl.map(d => s"attrs=$d").toSeq
    dir(spark, root).publish(m.version,
      Header +: (quant ++ m.entries.map(_.render)))
  }

  protected def versionOf(m: IndexManifest): Long = m.version
  protected def entriesOf(m: IndexManifest): Seq[SegEntry] = m.entries
  protected def next(m: IndexManifest, entries: Seq[SegEntry],
                     written: Seq[String]): IndexManifest =
    m.copy(version = m.version + 1, entries = entries)

  /** The quantizer files a manifest references. */
  override protected def extraRefs(m: IndexManifest): Iterable[String] =
    m.centroidsFile +: m.pqFile.toSeq
  override protected def extraData: Seq[String] = Seq("centroids-", "pq-")

  // ---------------------------------------------------------- centroids

  /** The frozen coarse quantizer of the NEWEST manifest.
    * `Float.toString`/`toFloat` round-trip exactly, so the persisted
    * centroids are bit-identical to the built ones — what keeps stored
    * assignments and re-derived assignments in agreement forever. */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    readCentroidsFile(spark, new Path(path),
      readManifest(spark, path).centroidsFile)

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
    readManifest(spark, path).pqFile
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
    * carried verbatim beside the vectors. The write clusters rows by
    * cell ([[SegmentedIndex.writeSegment]] — unclustered, a 16-cell
    * segment written by 32 local cores was 512 files, and the probe
    * got slower with more cores); one bounded assignment-count pass
    * sizes per-cell tiles so a hot cell still spreads over
    * ⌈rows/maxRowsPerFile⌉ write tasks instead of one straggler. */
  private def writeVectors(spark: SparkSession, root: Path, segName: String,
                           vectors: DataFrame, cents: Array[Array[Float]],
                           idCol: String, vecCol: String,
                           pqCb: Option[Pq.PqCodebooks] = None,
                           sq8: Boolean = false,
                           attrs: Seq[String] = Nil,
                           maxRowsPerFile: Long = 1L << 20): Unit = {
    import graft.functions.SketchFunctions.nearestCentroids
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
    writeSegment(spark, root, segName, assigned, tiles.toSeq,
      Some(maxRowsPerFile))
  }

  protected def sortKeys: Seq[Column] = Seq(col("cell"), col("vec_id"))

  /** Erase segments hold only the affected cells' survivors, so one
    * task per cell suffices and no tile sizing pass is warranted. */
  protected def eraseFileRows: Option[Long] = Some(1L << 20)

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
    writeVectors(spark, root, seg, vectors, cents, idCol, vecCol, pqCb, sq8,
                 attrs)
    publish(spark, root, IndexManifest(version, Seq(SegEntry(seg)), centsFile,
            pqFile, sq8, attrsDdl))
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
  def append(vectors: DataFrame, path: String,
             batchTag: Option[String]): Long = {
    batchTag.foreach(VersionedDir.requireName("batch tags", _))
    val spark = vectors.sparkSession
    val root = new Path(path)
    val m0 = readManifest(spark, path)
    val cents = readCentroidsFile(spark, root, m0.centroidsFile)
    val pqCb = m0.pqFile.map(readPqFile(spark, root, _)) // frozen together
    if (batchTag.exists(VersionedDir.delivered(m0.segments, _))) return m0.version
    val seg = VersionedDir.segmentName(batchTag)
    writeVectors(spark, root, seg, vectors, cents, "vec_id", "embedding", pqCb,
                 m0.sq8, m0.attrs.fieldNames.toSeq)
    // the quantizer is the layout a rebuild replaces
    dir(spark, root).publishSegment(seg, batchTag, m0,
        () => readManifest(spark, path))(
        _.version, _.segments, _.centroidsFile) { m =>
      publish(spark, root, next(m, m.entries :+ SegEntry(seg), Seq(seg)))
    }
  }

  /** [[build]] from a manifested log's `vec_id`, `embedding` and
    * `attrs` columns ([[SegmentedIndex]]'s change-feed starting
    * point). */
  def buildFromLog(spark: SparkSession, logPath: String, indexPath: String,
                   cells: Int, refineIters: Int = 2,
                   pq: Option[Pq.PqParams] = None, sq8: Boolean = false,
                   attrs: Seq[String] = Nil): Long =
    buildFromLogWith(spark, logPath, indexPath,
        Seq("vec_id", "embedding") ++ attrs)(
      build(_, indexPath, cells, refineIters, pq = pq, sq8 = sq8, attrs = attrs))

  protected def logColumns(m: IndexManifest): Seq[String] =
    Seq("vec_id", "embedding") ++ m.attrs.fieldNames.toSeq

  /** Per-cell `(cell, n_rows, bytes, files)` from parquet FOOTERS only
    * ([[SegmentedIndex.footerStats]]) — the index twin of the log's
    * `dayStats`: hot-cell skew (the classic IVF failure mode) at
    * metadata cost, never a data scan. Row totals are exact, so the
    * result hash-matches a full-scan group-by — that is its oracle. */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    footerStats(spark, new Path(path), readManifest(spark, path))

  // --------------------------------------------------------------- read

  /** Authoritative read schema: `cell` is declared LONG here rather
    * than cast after partition inference (which would default it to
    * int) — a cast on the partition column wraps the attribute and
    * BLOCKS partition pruning, turning every probe into a full scan
    * (spec-pinned via inputFiles). Attribute columns sit between the
    * codes and the partition column. */
  protected def schema(m: IndexManifest): StructType = {
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
    frame(spark, new Path(path), readManifest(spark, path))

  /** [[read]] against an already-resolved manifest — the spoken-probe
    * route reads the manifest ONCE and shares it between the
    * query-vector lookup and the probe. */
  private[graft] def readWith(spark: SparkSession, path: String,
                              m: IndexManifest): DataFrame =
    frame(spark, new Path(path), m)

  /** The pruned single-row plan behind [[lookupVector]], exposed so the
    * executed scan is spec-pinnable: projection keeps `(vec_id,
    * embedding)` only (a PQ index's code words stay on disk) and the id
    * equality pushes into every segment's parquet scan, where the
    * per-cell `vec_id` sort gives row-group min/max skipping. */
  private[graft] def lookupFrame(spark: SparkSession, path: String,
                                 id: Long): DataFrame =
    lookupFrameWith(spark, path, readManifest(spark, path), id)

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
    lookupVectorWith(spark, path, readManifest(spark, path), id)

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
    searchWith(spark, path, readManifest(spark, path), queries, k,
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
    val segs = frame(spark, root, m)
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
