package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.IvfIndex.SegEntry

/** Persisted inverted index — the at-rest serving form of BM25
  * ([[Retrieval.bm25TopK]] is the per-query scan form), shaped by the
  * same at-rest discipline as the vector index ([[IvfIndex]]):
  *
  *  - postings `(term, doc_id, tf, dl[, attrs…])` live in
  *    TERM-BUCKET-partitioned parquet segments
  *    (`tb = splitmix64(term) mod buckets`), files sorted by term so a
  *    probed bucket row-group-skips to its terms;
  *  - a probe reads ONLY the query terms' buckets — the lexical
  *    analogue of the IVF cell pruning: cost is bounded by the probed
  *    terms' posting bytes, never the corpus (at 100 TB a dozen query
  *    terms touch a dozen of the ~thousands of bucket partitions);
  *  - corpus totals (N docs, Σ doc length — the BM25 stats) are EXACT
  *    INTEGERS in the manifest (`stats=` line), so a probe reconstructs
  *    the bit-identical avgdl division without touching the corpus.
  *    N counts documents with ≥1 token — the convention the oracle's
  *    doc-length CTE implies, and the only one an erase can keep
  *    consistent (a zero-token document has no postings to erase);
  *  - ATTRIBUTE columns ride beside the postings (`attrs` at [[build]],
  *    denormalized per posting row — a document's attributes are
  *    constant across its postings): a filtered probe ("docs matching
  *    spark where lang = 'en'") evaluates its predicate ON the pruned
  *    candidate rows and ranks ONLY matching documents — exactly k
  *    matching results, never the under-returning post-filter — while
  *    document frequency and corpus stats stay full-corpus (the
  *    scoring function is unchanged; the candidate set is filtered,
  *    exactly [[IvfIndex.search]]'s `pred` contract — see [[search]]
  *    for why the filter must NOT push below the df window);
  *  - segments land behind an atomic versioned manifest rename
  *    (`lex-manifest-<v>.txt`, newest wins): append publishes one new
  *    segment + summed stats, a crash anywhere leaves the old index
  *    serving, and a racing appender loses the rename loudly
  *    ([[ConcurrentWriteException]]) and retries against
  *    the winner;
  *  - the full maintenance lifecycle of the vector index: [[compact]]
  *    folds append segments into one (content-invariant, sync cursors
  *    carried forward), [[vacuum]] reclaims superseded bytes,
  *    [[deleteByKey]]/[[deleteWhere]] are compliance erasure
  *    (copy-on-write bounded to the buckets containing the documents'
  *    terms, stats adjusted exactly, one atomic flip), and
  *    [[ingest]]/[[buildFromLog]]/[[syncFromLog]] track a growing
  *    manifested corpus exactly-once (cursor = the sync tag in the
  *    live manifest — [[SyncCursors]]).
  *
  * Because tf/dl/N/Σdl are stored exactly and scoring runs through
  * [[Retrieval.scoreAndRank]] — the SAME tail as the flat scan — an
  * index probe is score-IDENTICAL to `bm25TopK` over the indexed
  * corpus (spec-pinned in LexIndexSpec, hash-pinned by x100 sharing
  * x98's oracle replay).
  */
object LexIndex {

  private val Header = "graft-lex-index-manifest-v1"

  /** Column names the postings layout owns; attribute columns may not
    * collide with them. */
  private val ReservedCols =
    Set("term", "doc_id", "tf", "dl", "tb", "positions", "fi", "dls")

  /** Sentinel for [[build]]'s `buckets`: size the bucket count from the
    * batch's distinct-term count as [[autoBuckets]] — the scale-correct
    * default (the [[IvfIndex.AutoCells]] argument, term-side). */
  val AutoBuckets: Int = -1

  /** max(16, ⌊√v⌋) for a v-term vocabulary: √v buckets bound both the
    * probe's per-term bucket fraction (a probed bucket holds ~√v of the
    * vocabulary) and the file count small corpora shatter into — the
    * same sizing argument as [[IvfIndex.autoCells]]. */
  def autoBuckets(vocabulary: Long): Int =
    math.max(16, math.sqrt(math.max(0L, vocabulary).toDouble).toInt)

  /** Past this many probed terms the pushed `term IN (…)` row-group
    * literal filter is dropped (the [[IvfIndex.MaxProbedCellLiterals]]
    * argument: a multi-thousand-literal parquet filter costs more than
    * it saves, and the equi-join with the query terms keeps the RESULT
    * identical) — but the BUCKET partition filter is NOT: a wide probe
    * computes its distinct `tb` set distributedly (bounded by the
    * index's bucket count, never the term count) and keeps partition
    * pruning, so even a 10⁴-term query reads only partitions holding
    * some query term's postings. */
  private[operators] val MaxProbedTermLiterals = 2048

  /** One published index state: segment entries (with erase `skip=`
    * bucket sets), the term-bucket count postings were hashed under,
    * the exact corpus totals, and the DDL of any stored attribute
    * columns — all resolved from one manifest read. */
  /** @param fields    FIELDED layout: the indexed field names in fold
    *                   order (BM25F — postings carry a field ordinal and
    *                   per-doc per-field lengths; weights are probe-time)
    * @param fieldSums  per-field exact Σ doc length, aligned with
    *                   `fields` (the raw integers a probe weights) */
  final case class LexManifest(version: Long, entries: Seq[SegEntry],
                               buckets: Int, nDocs: Long, sumDl: Long,
                               attrsDdl: Option[String] = None,
                               positional: Boolean = false,
                               dfSegs: Set[String] = Set.empty,
                               fields: Option[Seq[String]] = None,
                               fieldSums: Seq[Long] = Nil) {
    def segments: Seq[String] = entries.map(_.name)
    def attrs: StructType =
      attrsDdl.map(StructType.fromDDL).getOrElse(new StructType())
    def fielded: Boolean = fields.nonEmpty
  }

  /** Term → bucket: a pure Scala splitmix64 char fold, used through a
    * UDF at BUILD time (one-time indexing cost — the hot probe path
    * never evaluates it per row) and called directly on the driver at
    * probe time to turn query terms into partition literals. One
    * function on both sides — bucket agreement is by construction, not
    * by replicating a codegen hash bit-for-bit on the driver. */
  private[operators] def termBucket(term: String, buckets: Int): Int = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < term.length) {
      h = graft.functions.SketchKernels.mix64(h ^ term.charAt(i).toLong)
      i += 1
    }
    math.floorMod(h, buckets.toLong).toInt
  }

  private def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(spark: SparkSession, root: Path): VersionedDir =
    new VersionedDir(fs(spark, root), root, "lex-manifest")

  /** Authoritative read schema: attribute columns sit between the
    * counts and the partition column; `tb` is declared INT here so the
    * partition column never wraps in a cast (which would block
    * partition pruning — the [[IvfIndex]] lesson, spec-pinned). */
  private def postingsSchema(m: LexManifest): StructType =
    if (m.fielded)
      // fielded layout: one posting per (term, doc, FIELD) with the
      // field ordinal and the doc's per-field lengths (constant per
      // doc — the probe's weighted dl folds over them); positional
      // fielded indexes add the within-FIELD position list
      StructType(Seq(
        StructField("term", org.apache.spark.sql.types.StringType),
        StructField("doc_id", org.apache.spark.sql.types.LongType),
        StructField("fi", org.apache.spark.sql.types.IntegerType),
        StructField("tf", org.apache.spark.sql.types.LongType),
        StructField("dls", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))) ++
        (if (m.positional) Seq(StructField("positions",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = false)))
         else Nil) ++
        m.attrs.fields :+
        StructField("tb", org.apache.spark.sql.types.IntegerType))
    else StructType(Seq(
      StructField("term", org.apache.spark.sql.types.StringType),
      StructField("doc_id", org.apache.spark.sql.types.LongType),
      StructField("tf", org.apache.spark.sql.types.LongType),
      StructField("dl", org.apache.spark.sql.types.LongType)) ++
      (if (m.positional) Seq(StructField("positions",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false)))
       else Nil) ++
      m.attrs.fields :+
      StructField("tb", org.apache.spark.sql.types.IntegerType))

  // ----------------------------------------------------------- manifest

  def versions(spark: SparkSession, path: String): Seq[Long] =
    dir(spark, new Path(path)).versions

  def readManifest(spark: SparkSession, path: String): LexManifest = {
    val v = versions(spark, path).lastOption.getOrElse(
      sys.error(s"no lex manifest under $path — not a lexical index"))
    readManifestAt(spark, path, v)
  }

  private[operators] def readManifestAt(spark: SparkSession, path: String,
                                        v: Long): LexManifest = {
    val entries = dir(spark, new Path(path)).lines(v, Header)
    val stats = entries.collectFirst { case s if s.startsWith("stats=") =>
      s.stripPrefix("stats=").split(',') match {
        case Array(n, sd) => (n.toLong, sd.toLong)
        case _ => sys.error(s"unparseable stats line in $path manifest $v")
      }
    }.getOrElse(sys.error(s"lex manifest $v under $path has no stats line"))
    val buckets = entries.collectFirst { case s if s.startsWith("buckets=") =>
      s.stripPrefix("buckets=").toInt
    }.getOrElse(sys.error(s"lex manifest $v under $path has no buckets line"))
    val attrs = entries.collectFirst { case s if s.startsWith("attrs=") =>
      s.stripPrefix("attrs=") }
    val positional = entries.exists(_ == "positions=1")
    // which segments carry a _df statistics sidecar — recorded at
    // publish time so probes decide from the already-read manifest
    // instead of per-segment filesystem round-trips
    val dfSegs = entries.collectFirst { case s if s.startsWith("df=") =>
      s.stripPrefix("df=").split(',').filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty[String])
    val fields = entries.collectFirst { case s if s.startsWith("fields=") =>
      s.stripPrefix("fields=").split(',').filter(_.nonEmpty).toSeq }
    val fieldSums = entries.collectFirst { case s if s.startsWith("fstats=") =>
      s.stripPrefix("fstats=").split(',').filter(_.nonEmpty)
        .map(_.toLong).toSeq }.getOrElse(Nil)
    require(fields.forall(_.size == fieldSums.size),
      s"lex manifest $v under $path: fields/fstats arity mismatch")
    val segs = entries.filterNot(s =>
      s.startsWith("stats=") || s.startsWith("buckets=") ||
        s.startsWith("attrs=") || s.startsWith("positions=") ||
        s.startsWith("df=") || s.startsWith("fields=") ||
        s.startsWith("fstats="))
    LexManifest(v, segs.map(SegEntry.parse), buckets, stats._1, stats._2,
                attrs, positional, dfSegs, fields, fieldSums)
  }

  private def publish(spark: SparkSession, root: Path, m: LexManifest): Unit =
    dir(spark, root).publish(m.version,
      Seq(Header, s"stats=${m.nDocs},${m.sumDl}", s"buckets=${m.buckets}") ++
        m.attrsDdl.map(d => s"attrs=$d").toSeq ++
        (if (m.positional) Seq("positions=1") else Nil) ++
        (if (m.dfSegs.nonEmpty)
           Seq(s"df=${m.dfSegs.toSeq.sorted.mkString(",")}") else Nil) ++
        m.fields.map(fs => s"fields=${fs.mkString(",")}").toSeq ++
        (if (m.fielded) Seq(s"fstats=${m.fieldSums.mkString(",")}") else Nil) ++
        m.entries.map(_.render))

  // ------------------------------------------------------------- build

  /** The attribute DDL drawn from the input frame's schema (name, type,
    * nullability verbatim), after the reserved-name guard. */
  private def attrsDdlOf(docs: DataFrame, attrs: Seq[String]): Option[String] = {
    attrs.foreach { a =>
      require(!ReservedCols.contains(a),
        s"attribute column '$a' collides with a postings layout column " +
          s"(${ReservedCols.toSeq.sorted.mkString(", ")})")
    }
    if (attrs.isEmpty) None
    else Some(StructType(attrs.map(a => docs.schema(a))).toDDL)
  }

  /** Postings of one document batch, WITHOUT the bucket column — ONE
    * corpus tokenize + (doc, term) shuffle, paid at build so probes
    * never pay it. Attribute columns group through the aggregation
    * (constant per document, so the groups are unchanged).
    *
    * With `positional = true` each posting also carries the term's
    * 0-based token POSITIONS (ascending `array<int>`) — the phrase /
    * proximity serving layer ([[search]]'s slot kernels): `posexplode` replaces
    * `explode` at the same shuffle width (one extra int per token on
    * the wire), and the sorted position list aggregates in the same
    * group. Non-phrase probes never read the column (columnar store —
    * pruned at the scan, spec-pinned), so positions cost bytes at
    * rest, not probe time. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                         attrs: Seq[String],
                         positional: Boolean = false): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id") +:
      Dedup.tokens(col(textCol)).as("toks") +: attrs.map(col): _*)
    if (!positional)
      toks.select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
          explode(col("toks")).as("term") +: attrs.map(col): _*)
        .groupBy("doc_id", "term" +: attrs: _*)
        .agg(count("*").as("tf"), max("dl").as("dl"))
        .select("term", "doc_id" +: "tf" +: "dl" +: attrs: _*)
    else
      toks.select((Seq(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          posexplode(col("toks")).as(Seq("pos", "term"))) ++ attrs.map(col)): _*)
        .groupBy("doc_id", "term" +: attrs: _*)
        .agg(count("*").as("tf"), max("dl").as("dl"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .select("term", "doc_id" +: "tf" +: "dl" +: "positions" +: attrs: _*)
  }

  /** Fielded postings of one document batch — one row per (term, doc,
    * FIELD): each field tokenizes and explodes once (the same map-side
    * pass, one union wider), aggregates under its ordinal, and the
    * doc's per-field length vector rides every row (constant per doc,
    * so grouping by it never splits a group).
    *
    * With `positional = true` each row also carries the term's 0-based
    * token positions WITHIN ITS FIELD's token stream (ascending
    * `array<int>`) — the fielded phrase/sloppy serving layer
    * ([[search]] with a fielded phrase): a phrase is a single-stream question,
    * so per-field streams are exactly the right granularity. Same
    * shuffle width as the plain positional layout (one extra int per
    * token on the wire); non-phrase probes never read the column. */
  private def postingsOfFielded(docs: DataFrame, idCol: String,
                                fields: Seq[String],
                                attrs: Seq[String],
                                positional: Boolean = false): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id") +:
      fields.zipWithIndex.map { case (f, i) =>
        Dedup.tokensNs(col(f)).as(s"toks_$i") } ++: attrs.map(col): _*)
    val dls = array(fields.indices.map(i =>
      size(col(s"toks_$i")).cast("long")): _*)
    fields.indices.map { i =>
      if (!positional)
        toks.select(col("doc_id") +: lit(i).as("fi") +: dls.as("dls") +:
            explode(col(s"toks_$i")).as("term") +: attrs.map(col): _*)
          .groupBy("doc_id", "term" +: "fi" +: "dls" +: attrs: _*)
          .agg(count("*").as("tf"))
          .select("term", "doc_id" +: "fi" +: "tf" +: "dls" +: attrs: _*)
      else
        toks.select((Seq(col("doc_id"), lit(i).as("fi"), dls.as("dls"),
            posexplode(col(s"toks_$i")).as(Seq("pos", "term"))) ++
            attrs.map(col)): _*)
          .groupBy("doc_id", "term" +: "fi" +: "dls" +: attrs: _*)
          .agg(count("*").as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
          .select("term",
            "doc_id" +: "fi" +: "tf" +: "dls" +: "positions" +: attrs: _*)
    }.reduce(_.unionByName(_))
  }

  /** Exact fielded batch stats: docs with ≥1 token in ANY field, the
    * raw (unweighted) total for the `stats=` line, and per-field exact
    * Σ doc length — the integers a probe weights at query time. */
  private def statsOfFielded(docs: DataFrame, idCol: String,
                             fields: Seq[String]): (Long, Long, Seq[Long]) = {
    val sized = docs.select(col(idCol) +: fields.zipWithIndex.map {
      case (f, i) => size(Dedup.tokensNs(col(f))).cast("long").as(s"dl_$i") }: _*)
      .filter(fields.indices.map(i => col(s"dl_$i")).reduce(_ + _) > 0)
    val aggCols = count("*").as("n") +: fields.indices.map(i =>
      coalesce(sum(col(s"dl_$i")), lit(0L)).as(s"s_$i"))
    val st = sized.agg(aggCols.head, aggCols.tail: _*).head()
    val sums = fields.indices.map(i => st.getLong(i + 1))
    (st.getLong(0), sums.sum, sums)
  }

  /** Exact batch stats `(docs with ≥1 token, Σ doc length)` — integer
    * addition, order-free. The ≥1-token convention keeps N consistent
    * with the postings (an erase can only subtract documents that HAVE
    * postings) and with the oracle's doc-length CTE. */
  private def statsOf(docs: DataFrame, idCol: String,
                      textCol: String): (Long, Long) = {
    val st = docs.select(col(idCol),
        size(Dedup.tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count("*"), coalesce(sum("dl"), lit(0L))).head()
    (st.getLong(0), st.getLong(1))
  }

  /** Per-segment DOCUMENT-FREQUENCY SIDECAR, stored INSIDE the segment
    * at `<seg>/_df/tb=<b>` — the underscore prefix makes it invisible
    * to every postings read (Spark's hidden-path filter), and living
    * inside the segment directory means vacuum/erase reclaim it with
    * its segment for free. One `(term, df)` row per (bucket, term):
    * (doc, term) is unique within a segment and doc ids are unique
    * across segments (the append contract), so corpus df(term) is the
    * exact integer SUM of sidecar rows across live segments minus
    * erase-skipped buckets — probes read index STATISTICS instead of
    * re-scanning the pruned posting bytes for the df count (the
    * Lucene-style at-rest statistics; for a stop-word term that second
    * scan is the probe's whole posting list again). The
    * hidden-dir-inside-the-table pattern is Delta Lake's `_delta_log`
    * move; Spark logs a benign "All paths were ignored" WARN while
    * resolving the explicitly-given hidden path, but the scan executes
    * and returns the rows — spec-pinned (the executed plan carries the
    * `_df` FileSourceScan and probes hash-match the flat scan). */
  private[operators] val DfSidecarDir = "_df"

  /** Computed from the JUST-WRITTEN segment parquet — a bounded
    * columnar re-read of (term, tb) only — so the segment's full input
    * lineage (tokenize + posexplode + shuffle + aggregate, the dominant
    * build stage) runs exactly ONCE per segment; the sidecar pays two
    * narrow columns of already-columnar local bytes, not a second
    * corpus pass. */
  private def writeDfSidecar(spark: SparkSession, target: Path): Unit =
    // explicit three-column schema: only the columns the statistics
    // need are read, and an all-rows-erased segment (no files) still
    // writes an empty sidecar instead of failing schema inference.
    // df counts DISTINCT documents per (bucket, term) — identical to
    // the row count on a plain segment ((doc, term) unique there) and
    // the any-field document frequency on a FIELDED one (a doc holding
    // the term in two fields has two posting rows but counts once)
    spark.read.schema(StructType(Seq(
        StructField("term", org.apache.spark.sql.types.StringType),
        StructField("doc_id", org.apache.spark.sql.types.LongType),
        StructField("tb", org.apache.spark.sql.types.IntegerType))))
      .parquet(target.toString)
      .groupBy("tb", "term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("tb")
      .parquet(new Path(target, DfSidecarDir).toString)

  private def writeSegment(spark: SparkSession, root: Path, name: String,
                           postings: DataFrame, buckets: Int): Unit = {
    val f = fs(spark, root)
    val target = new Path(root, name)
    if (f.exists(target)) f.delete(target, true) // unreferenced leftover
    val withTb = postings
      .withColumn("tb",
        udf((t: String) => termBucket(t, buckets)).apply(col("term")))
    withTb
      // term-sorted files inside each bucket partition: a probed bucket
      // row-group-skips straight to its terms via the pushed term filter
      .repartition(col("tb")).sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").partitionBy("tb").parquet(target.toString)
    writeDfSidecar(spark, target)
    f.delete(new Path(target, "_SUCCESS"), false)
    f.delete(new Path(target, s"$DfSidecarDir/_SUCCESS"), false)
  }

  /** A segment of rows ALREADY carrying the postings schema (stored tb
    * included) — the erase path's writer: bucket assignments are
    * preserved, never recomputed. */
  private def writeRawSegment(spark: SparkSession, root: Path, name: String,
                              rows: DataFrame): Unit = {
    val f = fs(spark, root)
    val target = new Path(root, name)
    if (f.exists(target)) f.delete(target, true)
    rows
      .repartition(col("tb")).sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").partitionBy("tb").parquet(target.toString)
    writeDfSidecar(spark, target)
    f.delete(new Path(target, "_SUCCESS"), false)
    f.delete(new Path(target, s"$DfSidecarDir/_SUCCESS"), false)
  }

  /** Build (or rebuild) the index: one postings segment, stats from the
    * same batch, one atomic manifest flip. `buckets = AutoBuckets`
    * (the default) derives the bucket count from the batch's distinct
    * vocabulary — one extra aggregate at build time, recorded in the
    * manifest's `buckets=` line so probes and appends hash under the
    * same spread forever. `attrs` names document metadata columns
    * stored beside every posting for filtered serving. Building over
    * an existing index replaces it logically in the ONE manifest
    * rename; superseded segments reclaim via [[vacuum]]. */
  def build(docs: DataFrame, path: String,
            buckets: Int = AutoBuckets,
            idCol: String = "doc_id", textCol: String = "text",
            attrs: Seq[String] = Nil,
            positions: Boolean = false): Long = {
    require(buckets > 0 || buckets == AutoBuckets,
      s"buckets must be positive (or LexIndex.AutoBuckets), got $buckets")
    val spark = docs.sparkSession
    val root = new Path(path)
    val attrsDdl = attrsDdlOf(docs, attrs)
    val postings = postingsOf(docs, idCol, textCol, attrs, positions)
    val nBuckets =
      if (buckets == AutoBuckets) {
        // one bounded aggregate over the batch's postings; persist so
        // the vocabulary count and the segment write share the
        // tokenize+aggregate work instead of running it twice
        postings.persist()
        autoBuckets(postings.select("term").distinct().count())
      } else buckets
    val version = versions(spark, path).lastOption.getOrElse(0L) + 1
    val seg = f"seg-$version%09d"
    try writeSegment(spark, root, seg, postings, nBuckets)
    finally if (buckets == AutoBuckets) postings.unpersist()
    val (n, sd) = statsOf(docs, idCol, textCol)
    publish(spark, root,
      LexManifest(version, Seq(SegEntry(seg)), nBuckets, n, sd, attrsDdl,
        positions, Set(seg)))
    version
  }

  /** Build a FIELDED (BM25F) index: postings carry a field ordinal per
    * (term, doc, field) and the doc's per-field length vector; the
    * manifest records the field names (fold order) and per-field exact
    * Σ doc lengths. Field WEIGHTS are not stored — they are probe-time
    * arguments ([[search]]'s [[LexQuery]], the Lucene convention), so one index
    * serves every weighting. N counts docs with ≥1 token in ANY field.
    * The lifecycle verbs (append/compact/vacuum/erase/sync) all apply.
    * With `positions = true` each (term, doc, field) row also stores
    * the within-FIELD position list — the fielded phrase/sloppy layer
    * ([[search]] with a fielded phrase or sloppy match: "the
    * phrase in the TITLE"); a quoted phrase is a single-STREAM
    * question, and per-field streams are that granularity. */
  def buildFielded(docs: DataFrame, path: String, fields: Seq[String],
                   buckets: Int = AutoBuckets,
                   idCol: String = "doc_id",
                   attrs: Seq[String] = Nil,
                   positions: Boolean = false): Long = {
    require(fields.nonEmpty, "buildFielded needs at least one field")
    require(buckets > 0 || buckets == AutoBuckets,
      s"buckets must be positive (or LexIndex.AutoBuckets), got $buckets")
    fields.foreach { f => require(!ReservedCols.contains(f),
      s"field column '$f' collides with a postings layout column") }
    val spark = docs.sparkSession
    val root = new Path(path)
    val attrsDdl = attrsDdlOf(docs, attrs)
    val postings = postingsOfFielded(docs, idCol, fields, attrs, positions)
    val nBuckets =
      if (buckets == AutoBuckets) {
        postings.persist()
        autoBuckets(postings.select("term").distinct().count())
      } else buckets
    val version = versions(spark, path).lastOption.getOrElse(0L) + 1
    val seg = f"seg-$version%09d"
    try writeSegment(spark, root, seg, postings, nBuckets)
    finally if (buckets == AutoBuckets) postings.unpersist()
    val (n, raw, sums) = statsOfFielded(docs, idCol, fields)
    publish(spark, root,
      LexManifest(version, Seq(SegEntry(seg)), nBuckets, n, raw, attrsDdl,
        positions, Set(seg), Some(fields), sums))
    version
  }

  /** Append a document batch: one new segment of the batch's postings
    * (hashed under the manifest's frozen bucket count), stats summed
    * (exact integer addition — order-free), one atomic flip — cost ∝
    * batch, the ingest-screen shape. Batch doc ids must be new (same
    * contract as [[IvfIndex.append]]); attribute columns recorded at
    * build are carried from the batch (a missing one fails loudly at
    * analysis).
    *
    * `batchTag` makes the append IDEMPOTENT per tag (the
    * [[IvfIndex.append]] contract): the tag rides in the segment name,
    * and a manifest already listing it returns the current version
    * without writing — at-least-once delivery upgrades to exactly-once
    * index content.
    *
    * RACING appenders converge exactly-once: segment names carry a
    * random token so two racers never write the same directory, and
    * the loser of the manifest rename re-reads the winner and
    * re-publishes on top — valid because appends never change the
    * bucket count. A REBUILD winning the race does change it (and may
    * change the attribute set), so the retry deletes its orphaned
    * segment and fails loudly instead of publishing postings hashed
    * under a replaced spread. */
  def append(docs: DataFrame, path: String,
             idCol: String = "doc_id", textCol: String = "text",
             batchTag: Option[String] = None): Long = {
    batchTag.foreach(VersionedDir.requireName("batch tags", _))
    val spark = docs.sparkSession
    val root = new Path(path)
    val m0 = readManifest(spark, path)
    if (batchTag.exists(VersionedDir.delivered(m0.segments, _))) return m0.version
    val seg = VersionedDir.segmentName(batchTag)
    writeSegment(spark, root, seg,
      m0.fields match {
        case Some(fs) =>
          postingsOfFielded(docs, idCol, fs, m0.attrs.fieldNames.toSeq,
            m0.positional)
        case None =>
          postingsOf(docs, idCol, textCol, m0.attrs.fieldNames.toSeq,
            m0.positional)
      },
      m0.buckets)
    val (n, sd, sums) = m0.fields match {
      case Some(fs) => statsOfFielded(docs, idCol, fs)
      case None =>
        val (a, b) = statsOf(docs, idCol, textCol); (a, b, Nil)
    }
    // a rebuild may replace the bucket spread, attrs, positions, fields
    dir(spark, root).publishSegment(seg, batchTag, m0,
        () => readManifest(spark, path))(_.version, _.segments,
        m => (m.buckets, m.attrsDdl, m.positional, m.fields)) { m =>
      publish(spark, root, LexManifest(m.version + 1,
        m.entries :+ SegEntry(seg), m.buckets,
        m.nDocs + n, m.sumDl + sd, m.attrsDdl, m.positional,
        m.dfSegs + seg, m.fields,
        m.fieldSums.zipAll(sums, 0L, 0L).map { case (a, b) => a + b }))
    }
  }

  /** Streaming ingest twin: each micro-batch appends one batch-tagged
    * segment — re-delivered batches no-op on the tag, so restarts
    * upgrade to exactly-once index content; every batch is one atomic
    * manifest flip, so a concurrent [[search]] sees whole batches or
    * nothing. */
  def ingest(docs: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, path, batchTag = Some(batchId.toString)); ()
      }
      .start()

  // ------------------------------------------------- change-feed sync

  /** Record that the index content reflects the log AS OF `version` —
    * the [[IvfIndex.markSynced]] twin (shared [[SyncCursors]]). */
  def markSynced(spark: SparkSession, indexPath: String, logPath: String,
                 version: Long): Unit = {
    val root = new Path(indexPath)
    SyncCursors.writeBase(fs(spark, root), root,
      SyncCursors.logTag(logPath), version)
  }

  /** The log version this index's content reflects — max of the build
    * base and every sync tag in the live manifest (one atomic rename
    * carries segment AND cursor; [[compact]] persists tags into the
    * base file before folding them away). */
  def syncedVersion(spark: SparkSession, indexPath: String,
                    logPath: String): Option[Long] = {
    val root = new Path(indexPath)
    SyncCursors.syncedVersion(fs(spark, root), root,
      SyncCursors.logTag(logPath), readManifest(spark, indexPath).segments)
  }

  /** Build the index from a manifested documents log's CURRENT content
    * and record the log version it reflects — the starting point of
    * the change-feed loop ([[syncFromLog]] then tracks the log forward
    * without rebuilds). `key` must be unique in the log. */
  def buildFromLog(spark: SparkSession, logPath: String, indexPath: String,
                   buckets: Int = AutoBuckets,
                   key: String = "doc_id", textCol: String = "text",
                   attrs: Seq[String] = Nil,
                   positions: Boolean = false): Long = {
    val (logV, _) = ManifestedLog.readManifest(spark, logPath)
    val docs = ManifestedLog.load(spark, logPath)
      .select(col(key) +: col(textCol) +: attrs.map(col): _*)
    val v = build(docs, indexPath, buckets, key, textCol, attrs, positions)
    markSynced(spark, indexPath, logPath, logV)
    v
  }

  /** Advance the index to the log's newest version: compute the delta
    * with the log's own change feed ([[ManifestedLog.changesBetween]] —
    * cost ∝ touched days, never the log) and [[append]] it under the
    * sync batch tag. Returns (log version synced to, index manifest
    * version). EXACTLY-ONCE by construction — the cursor is the sync
    * tag in the live manifest, landed by the same atomic rename as the
    * segment; a re-run against an unchanged log is a pure no-op
    * (the [[IvfIndex.syncFromLog]] contract, postings-side). */
  def syncFromLog(spark: SparkSession, logPath: String, indexPath: String,
                  key: String = "doc_id",
                  textCol: String = "text"): (Long, Long) = {
    val from = syncedVersion(spark, indexPath, logPath).getOrElse(sys.error(
      s"$indexPath has no sync cursor for log $logPath — build it with " +
        "buildFromLog (or markSynced the version its content reflects)"))
    val (to, _) = ManifestedLog.readManifest(spark, logPath)
    val m = readManifest(spark, indexPath)
    if (to == from) return (from, m.version)
    val delta0 =
      if (from == 0L) ManifestedLog.load(spark, logPath)
      else ManifestedLog.changesBetween(spark, logPath, from, to, key)
    // a fielded index ingests its manifest's field columns; a plain one
    // the text column — either way the attrs ride
    val delta = delta0
      .select(col(key) +: (m.fields.getOrElse(Seq(textCol)) ++
        m.attrs.fieldNames.toSeq).map(col): _*)
    val v = append(delta, indexPath, idCol = key, textCol = textCol,
      batchTag = Some(s"${SyncCursors.logTag(logPath)}-$from-$to"))
    (to, v)
  }

  // -------------------------------------------------------- maintenance

  /** Fold every segment into one (content-identical, fewer files);
    * readers flip atomically with the manifest, the bucket count and
    * stats carry forward unchanged (compaction moves bytes, never the
    * layout), and sync cursors persist into their base files before
    * the tagged segment names fold away ([[SyncCursors.persistCursors]]
    * — without it the next [[syncFromLog]] would replay, and
    * duplicate, every already-ingested delta). Erase skips fold away
    * too: the merged read excludes skipped buckets, so compaction
    * doubles as the PHYSICAL completion of a prior [[deleteByKey]].
    *
    * Hot buckets (a stop-word-like term's posting list) RE-TILE
    * instead of re-concentrating: per-bucket posting counts size a
    * tile count (⌈rows/maxRowsPerFile⌉), a broadcast join tags each
    * row's tile, and the shuffle spreads a hot bucket over that many
    * write tasks — compaction cost tracks the skewed bucket's size
    * with parallelism, not one straggler task. The per-bucket counts
    * come from parquet FOOTERS ([[bucketStats]] — [[IvfIndex.compact]]'s
    * cellStats recipe), so sizing the tiles never re-reads the posting
    * bytes the fold is about to move (it used to be a second full
    * postings pass); when no bucket re-tiles (the non-skewed common
    * case) the tile join and column drop out of the plan entirely. */
  def compact(spark: SparkSession, path: String,
              maxRowsPerFile: Long = 1L << 20): Long = {
    require(maxRowsPerFile > 0, s"maxRowsPerFile must be positive")
    import spark.implicits._
    val root = new Path(path)
    val m = readManifest(spark, path)
    val merged = readPostingsWith(spark, path, m)
    val tiles = bucketStatsOf(spark, root, m).select("tb", "n_rows").collect()
      .map(r => (r.getInt(0),
        math.ceil(r.getLong(1).toDouble / maxRowsPerFile).toLong))
      .filter(_._2 > 1)
    val seg = f"seg-${m.version + 1}%09d"
    val f = fs(spark, root)
    val target = new Path(root, seg)
    if (f.exists(target)) f.delete(target, true)
    val retiled =
      if (tiles.isEmpty) merged.repartition(col("tb"))
      else merged
        .join(broadcast(tiles.toSeq.toDF("tb", "tiles")), Seq("tb"), "left")
        .withColumn("tile",
          pmod(col("doc_id"), greatest(coalesce(col("tiles"), lit(1L)),
            lit(1L))))
        .repartition(col("tb"), col("tile"))
        .drop("tile", "tiles")
    retiled
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy("tb").parquet(target.toString)
    writeDfSidecar(spark, target)
    f.delete(new Path(target, "_SUCCESS"), false)
    f.delete(new Path(target, s"$DfSidecarDir/_SUCCESS"), false)
    SyncCursors.persistCursors(f, root, m.segments)
    publish(spark, root, LexManifest(m.version + 1, Seq(SegEntry(seg)),
      m.buckets, m.nDocs, m.sumDl, m.attrsDdl, m.positional, Set(seg),
      m.fields, m.fieldSums))
    m.version + 1
  }

  /** Compliance erasure — "forget document X" for the one store that
    * would otherwise keep serving its content by keyword after the log
    * ([[ManifestedLog.deleteByKey]]) and the vector index
    * ([[IvfIndex.deleteByKey]]) have both forgotten it. */
  def deleteByKey(spark: SparkSession, path: String, keys: Seq[Long],
                  maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "deleteByKey needs at least one doc id")
    deleteWhere(spark, path, col("doc_id").isin(keys: _*), maxRetries)
  }

  /** [[deleteByKey]] generalized to a DOCUMENT-level predicate over the
    * postings columns (doc_id and the stored attribute columns — a
    * document's attributes are constant across its postings; a
    * term-level predicate would leave partial documents whose manifest
    * stats no longer reconcile, so don't). Fully distributed — no id
    * list materializes. Rows where the predicate is TRUE are erased;
    * NULL is not-erased.
    *
    * COPY-ON-WRITE BOUNDED TO CONTAINING BUCKETS: one pushed-predicate
    * scan locates the (segment, bucket) pairs holding the documents'
    * postings; each affected segment contributes one ERASE segment
    * holding only those buckets' SURVIVING rows (stored bucket
    * assignments preserved), and the old entry gains a `skip=` set for
    * them — untouched buckets and segments are not read, not
    * rewritten, not even listed. The manifest stats subtract the
    * erased documents' exact (count, Σdl) in the SAME atomic flip, so
    * every post-erase probe scores over the corpus-minus-erased —
    * score-identical to a flat scan of the surviving documents.
    * Physical completion via [[vacuum]] or [[compact]]. Idempotent:
    * erasing already-absent documents publishes nothing. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  maxRetries: Int = 5): Long = {
    val root = new Path(path)
    val m = readManifest(spark, path)
    val schema = postingsSchema(m)
    // ONE job: per-segment branches union under a segment-name literal,
    // each branch's predicate pushed into its scan
    val hits = m.entries.map { e =>
      segFrame(spark, root, e, schema)
        .filter(pred)
        .select(lit(e.name).as("seg"), col("tb"))
    }.reduce(_.unionByName(_)).distinct().collect()
      .map(r => (r.getString(0), r.getInt(1)))
    if (hits.isEmpty) return m.version
    // the erased documents' exact stats delta: distinct (doc_id, dl[s])
    // of matched postings — lengths are constant per document, and the
    // append contract (new ids per batch) keeps a document in one
    // segment. Fielded indexes also subtract per-field exact sums.
    val goneDocsDf = m.entries.map { e =>
      segFrame(spark, root, e, schema).filter(pred)
        .select("doc_id", if (m.fielded) "dls" else "dl")
    }.reduce(_.unionByName(_)).distinct()
    val (goneDocs, goneDl, goneSums) =
      if (!m.fielded) {
        val g = goneDocsDf
          .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        (g.getLong(0), g.getLong(1), Seq.empty[Long])
      } else {
        val nf = m.fieldSums.size
        val aggs = count(lit(1)).as("n") +: (0 until nf).map(i =>
          coalesce(sum(element_at(col("dls"), i + 1)), lit(0L)).as(s"s_$i"))
        val g = goneDocsDf.agg(aggs.head, aggs.tail: _*).head()
        val sums = (0 until nf).map(i => g.getLong(i + 1))
        (g.getLong(0), sums.sum, sums)
      }
    val affected: Map[String, Seq[Long]] =
      hits.groupBy(_._1).map { case (s, bs) =>
        s -> bs.map(_._2.toLong).toSeq.sorted }
    val eraseEntries = affected.toSeq.sortBy(_._1).map { case (segName, bks) =>
      val e = m.entries.find(_.name == segName).getOrElse(
        sys.error(s"located segment $segName vanished from the manifest"))
      val newSeg = s"seg-${VersionedDir.token()}-e"
      // partition filter first: the rewrite READS only the containing
      // buckets' files (pruned at listing), then drops the erased rows —
      // NULL-predicate rows survive (coalesce, not bare negation)
      val survivors = segFrame(spark, root, e, schema)
        .filter(col("tb").isin(bks.map(b => Integer.valueOf(b.toInt)): _*))
        .filter(!coalesce(pred, lit(false)))
      writeRawSegment(spark, root, newSeg, survivors)
      SegEntry(newSeg)
    }
    val newEntries = m.entries.map { e =>
      affected.get(e.name) match {
        case Some(bks) => e.copy(skip = (e.skip ++ bks).distinct.sorted)
        case None => e
      }
    } ++ eraseEntries
    try {
      publish(spark, root, LexManifest(m.version + 1, newEntries, m.buckets,
        m.nDocs - goneDocs, m.sumDl - goneDl, m.attrsDdl, m.positional,
        m.dfSegs ++ eraseEntries.map(_.name), m.fields,
        m.fieldSums.zip(goneSums).map { case (a, b) => a - b }))
      m.version + 1
    } catch {
      case e: ConcurrentWriteException =>
        // a racer published (append/compact/rebuild) — our located
        // buckets and stats may be stale; drop the staged erase
        // segments and redo against the new state
        val f = fs(spark, root)
        eraseEntries.foreach(es => f.delete(new Path(root, es.name), true))
        if (maxRetries <= 0) throw e
        deleteWhere(spark, path, pred, maxRetries - 1)
    }
  }

  /** Reader pins — the [[VersionedDir]] handshake
    * ([[ManifestedLog.pin]]'s contract, postings side): a long-running
    * reader (a retrieval evaluation replaying one index version) pins
    * BEFORE the long read, and [[vacuum]] keeps every pinned manifest
    * with its segments until unpinned. A pin either protects its
    * version or fails loudly at pin time. */
  def pin(spark: SparkSession, path: String, name: String, version: Long): Long =
    dir(spark, new Path(path)).pin(name, version)

  /** Drop the named pin; true if it existed. */
  def unpin(spark: SparkSession, path: String, name: String): Boolean =
    dir(spark, new Path(path)).unpin(name)

  /** All registered pins, name → version. */
  def pins(spark: SparkSession, path: String): Map[String, Long] =
    dir(spark, new Path(path)).pins

  /** Drop superseded manifests, the segments no retained manifest
    * references, and — completing [[deleteByKey]]'s physical erasure —
    * every bucket directory ALL retaining manifests skip. Retention is
    * keepVersions ∪ [[pin]]s: every pinned manifest survives with its
    * segments until unpinned. The `orphanMinAgeMs` guard protects
    * never-referenced entries an in-flight [[append]]/[[ingest]] is
    * still staging (the [[IvfIndex.vacuum]] contract): sweeps beside
    * live ingest should set it above the longest append; the 0 default
    * keeps eager cleanup for single-writer use. Also reclaims the
    * orphaned segment a crashed appender left behind (written, never
    * published). */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             orphanMinAgeMs: Long = 0L): Long = {
    val root = new Path(path)
    val (kept, swept) = dir(spark, root).vacuum(keepVersions, orphanMinAgeMs)(
      readManifestAt(spark, path, _))(_.segments, _.startsWith("seg-"))
    // physical erase completion: a live segment's bucket dir reclaims
    // when EVERY kept manifest referencing the segment skips it
    val f = fs(spark, root)
    var removed = swept
    SegEntry.skippedByAll(kept.flatMap(_.entries)).foreach { case (seg, bks) =>
      bks.foreach { b =>
        val bucketDir = new Path(root, s"$seg/tb=$b")
        if (f.exists(bucketDir)) { f.delete(bucketDir, true); removed += 1 }
        // the bucket's df-sidecar statistics go with it (readers already
        // exclude skipped buckets, so this is hygiene, not correctness).
        // Sidecar deletions do NOT increment the returned count — it
        // means "reclaimed manifests + segments + data bucket dirs", the
        // meaning callers have always read it as.
        val dfDir = new Path(root, s"$seg/$DfSidecarDir/tb=$b")
        if (f.exists(dfDir)) f.delete(dfDir, true)
      }
    }
    removed
  }

  /** Per-bucket posting/byte/file counts from parquet FOOTERS only —
    * the lexical twin of [[IvfIndex.cellStats]]: hot-BUCKET skew (a
    * stop-word-like term's posting list — the inverted index's classic
    * failure mode, which [[compact]]'s re-tiling addresses) visible at
    * metadata cost, never a data scan. The file listing is driver-side
    * planner work bounded by the manifest's file count; the footer
    * reads distribute. Row totals are exact, so a full-scan group-by
    * is the equality certificate (x113). Erase-skipped buckets are
    * excluded, as every reader excludes them. */
  /** The df-sidecar set a probe will actually USE: the manifest's `df=`
    * registration — or, for a LEGACY manifest (an empty set alongside
    * live segments, impossible from current build/append/compact, which
    * always register their sidecar), the pre-`df=`-line behavior: a
    * per-segment filesystem existence probe (driver-side, one metadata
    * call per segment). Without the fallback every index built before
    * the manifest carried `df=` would silently recompute df from its
    * postings on EVERY probe despite having sidecars on disk. */
  private def effectiveDfSegs(spark: SparkSession, root: Path,
                              m: LexManifest): Set[String] =
    if (m.dfSegs.nonEmpty || m.entries.isEmpty) m.dfSegs
    else {
      val f = fs(spark, root)
      m.entries.filter(e =>
        f.exists(new Path(root, s"${e.name}/$DfSidecarDir")))
        .map(_.name).toSet
    }

  /** Per-segment df-REGIME health — the observability [[bucketStats]]
    * can't give (buckets are the data axis; the sidecar decision is per
    * SEGMENT): a probe serves document frequency from a segment's `_df`
    * sidecar when available and silently falls back to a bounded
    * per-probe recompute over that segment's bucket-pruned postings when
    * not, so an operator needs to SEE which segment changes the plan.
    * One row per live segment: `df_sidecar` is exactly [[dfStats]]'s
    * decision (manifest registration OR the legacy existence fallback),
    * `registered` distinguishes a legacy manifest serving sidecars via
    * the fallback from a current one, `buckets_skipped` counts its
    * erase-skipped buckets. Manifest + driver-side metadata only (one
    * existence call per segment on legacy manifests); no data read. */
  def dfSidecarHealth(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val m = readManifest(spark, path)
    val eff = effectiveDfSegs(spark, root, m)
    m.entries.map(e =>
        (e.name, eff.contains(e.name), m.dfSegs.contains(e.name),
          e.skip.size.toLong))
      .toDF("segment", "df_sidecar", "registered", "buckets_skipped")
      .orderBy("segment")
  }

  def bucketStats(spark: SparkSession, path: String): DataFrame =
    bucketStatsOf(spark, new Path(path), readManifest(spark, path))

  /** [[bucketStats]] of the manifest `m` — [[compact]] sizes its tiles
    * from the manifest it folds, not a newer one. */
  private[operators] def bucketStatsOf(spark: SparkSession, root: Path,
                                       m: LexManifest): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val TbRe = "tb=(\\d+)".r
    val files: Seq[(Int, String, Long)] = for {
      e <- m.entries
      tbDir <- f.listStatus(new Path(root, e.name)).toSeq
      tm <- TbRe.findFirstMatchIn(tbDir.getPath.getName).toSeq
      if !e.skip.contains(tm.group(1).toLong)
      st <- f.listStatus(tbDir.getPath).toSeq
      if st.getPath.getName.endsWith(".parquet")
    } yield (tm.group(1).toInt, st.getPath.toString, st.getLen)
    val bc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices)
      .map { case (tb, file, bytes) =>
        (tb, Footers.rowCount(bc.value.value, file), bytes)
      }
      .toDF("tb", "n_rows", "bytes")
      .groupBy("tb")
      .agg(sum("n_rows").as("n_rows"), sum("bytes").as("bytes"),
           count(lit(1)).as("files"))
  }

  // -------------------------------------------------------------- read

  /** Every posting of the newest manifest (diagnostics / CLI display /
    * the NL maintenance verbs' content read-back). Erase-skipped
    * buckets are pruned at listing inside each segment branch. */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    readPostingsWith(spark, path, readManifest(spark, path))

  private def segFrame(spark: SparkSession, root: Path, e: SegEntry,
                       schema: StructType): DataFrame = {
    val df = spark.read.schema(schema)
      .parquet(new Path(root, e.name).toString)
    // a skip is a partition predicate: excluded buckets prune at listing
    if (e.skip.isEmpty) df
    else df.filter(!col("tb").isin(e.skip.map(b => Integer.valueOf(b.toInt)): _*))
  }

  private def readPostingsWith(spark: SparkSession, path: String,
                               m: LexManifest): DataFrame = {
    val root = new Path(path)
    val schema = postingsSchema(m)
    m.entries.map(segFrame(spark, root, _, schema))
      .reduce(_.unionByName(_))
  }

  // ------------------------------------------------------------- probe

  /** Top-k documents per query for one [[LexQuery]] from the index —
    * [[Retrieval.bm25TopK]]'s at-rest twin and the one probe compiler,
    * score-identical over the indexed corpus. It reads ONLY the query
    * terms' bucket partitions (plus the pushed `term IN (…)` row-group
    * filter), then:
    *  - for a phrase, sloppy or window match, a slot kernel over the
    *    stored position lists of the PRUNED candidate rows yields the
    *    eligible (query, doc) pairs — zero corpus scans. A document
    *    matches iff it holds all n slots (`count(j) = n` after the
    *    per-slot term join — at most one posting row per (doc, term), a
    *    duplicated phrase term filling each of its slots from the same
    *    row) and the slot positions satisfy the match: adjacency
    *    (p + j in slot j's list), an ordered greedy chain within the
    *    slop window, or every term inside some `[s, s+window)` with s
    *    anchored at a term occurrence (a satisfying window can always
    *    be anchored at its earliest term position). On a fielded index
    *    the kernel reads only the named field's rows — within-field
    *    streams, so positions mean exactly what the flat kernel sees;
    *  - tf for BM25 from the stored (tf, dl); for simplified BM25F the
    *    pruned (field, tf) rows fold in field order against the stored
    *    per-field length vector and the manifest's exact per-field sums;
    *    for full BM25F each row normalizes by its own b_f against
    *    avgdl_f = Σdl_f / N from the manifest (the same IEEE divisions
    *    the flat scan computes inside its plan) before the fold;
    *  - the shared scoring tail with df from the index statistics.
    * WEIGHTS and every BM25(F) parameter are probe-time: one index
    * serves every weighting.
    *
    * `pred` filters CANDIDATE DOCUMENTS (requires the index to store
    * the referenced attribute columns — [[build]]'s `attrs`): the
    * top-k ranks over matching documents only — exactly k matching
    * results, never the under-returning post-filter
    * ([[IvfIndex.search]]'s contract, lexical side). The eligibility
    * bit is EVALUATED ON THE PRUNED CANDIDATE ROWS themselves (the
    * attributes ride the postings) and applied after the df window —
    * zero extra scans or exchanges versus the unfiltered probe. It
    * deliberately does NOT push as a scan filter: dropping
    * non-matching postings before the window would shrink df to the
    * slice and silently change every score.
    *
    * @param queries `(query_id, terms | phrase)` per [[LexQuery]]'s
    *                column contract
    * @param q       a fielded scoring must name the index's fields in
    *                order (the fold order is the index's, the values are
    *                the caller's); phrase, sloppy and window matches need
    *                a positional index
    */
  def search(spark: SparkSession, path: String, queries: DataFrame, k: Int,
             q: LexQuery = LexQuery(),
             pred: Option[Column] = None): DataFrame = {
    import LexQuery._
    val m = readManifest(spark, path)
    if (q.fielded) {
      require(m.fielded, s"$path stores no fielded postings — build the " +
        "index with buildFielded to serve BM25F queries")
      require(q.fields == m.fields.get,
        s"probe weights must name the index's fields in order " +
          s"(${m.fields.get.mkString(", ")}), got ${q.fields.mkString(", ")}")
    } else
      require(!m.fielded,
        s"$path is a FIELDED index — probe it with a fielded scoring")
    if (q.scoring.isInstanceOf[Bm25FFull])
      require(m.nDocs > 0, s"$path indexes no documents")
    if (q.matching != Terms)
      require(m.positional, s"$path stores no positional postings — " +
        "build the index with positions = true to serve phrase, sloppy " +
        "and window queries")
    val root = new Path(path)
    // the slot frame (query_id, n, j, term) of a positional match
    def slotsOf(qs: DataFrame, arr: String) =
      qs.select(col("query_id"), size(col(arr)).as("n"),
        posexplode(col(arr)).as(Seq("j", "term")))
    val (qTerms, slotQ) = q.matching match {
      case Terms =>
        (queries.select(col("query_id"), explode(col("terms")).as("t"))
          .select(col("query_id"), lower(col("t")).as("term")), None)
      case Window(_) =>
        val qIdx = slotsOf(queries.select(col("query_id"),
          array_distinct(transform(col("terms"), t => lower(t))).as("qterms")),
          "qterms")
        (qIdx.select("query_id", "term").distinct(), Some(qIdx))
      case _ =>
        val phIdx = slotsOf(queries.select(col("query_id"),
          transform(col("phrase"), t => lower(t)).as("phrase")), "phrase")
        (phIdx.select("query_id", "term").distinct(), Some(phIdx))
    }
    val pp = probePruning(spark, m, qTerms)
    val pruned = prunedPostings(spark, path, m, pp)
    val eligPairs = slotQ.map { qIdx =>
      // one row per (query, doc, slot): slot j matches a document iff
      // the document holds slot j's term
      val posRows = q.phraseField.fold(pruned)(f =>
        pruned.filter(col("fi") === lit(m.fields.get.indexOf(f))))
      val slots = posRows.select("term", "doc_id", "positions")
        .join(broadcast(qIdx), Seq("term"))
        .groupBy("query_id", "doc_id")
        .agg(max("n").as("n"), count(lit(1)).as("nj"),
          map_from_entries(collect_list(struct(col("j"), col("positions"))))
            .as("slot_pos"))
        .filter(col("nj") === col("n"))
      // n = 1 short-circuits BEFORE the sequence (sequence(1, 0) would
      // silently run DESCENDING; CaseWhen branches evaluate lazily)
      val ok = q.matching match {
        case Window(w) =>
          val starts = flatten(transform(sequence(lit(0), col("n") - lit(1)),
            j => element_at(col("slot_pos"), j)))
          exists(starts, s =>
            forall(sequence(lit(0), col("n") - lit(1)), j =>
              exists(element_at(col("slot_pos"), j),
                p => p >= s && p < s + lit(w))))
        case Sloppy(slop, _) =>
          when(col("n") === 1, lit(true)).otherwise(
            exists(element_at(col("slot_pos"), lit(0)), p0 =>
              aggregate(sequence(lit(1), col("n") - lit(1)), p0, (acc, j) =>
                when(acc.isNull, acc).otherwise(
                  array_min(filter(element_at(col("slot_pos"), j),
                    x => x > acc && x <= p0 + col("n") - lit(1) + lit(slop)))))
                .isNotNull))
        case _ =>
          when(col("n") === 1, lit(true)).otherwise(
            exists(element_at(col("slot_pos"), lit(0)), p =>
              forall(sequence(lit(1), col("n") - lit(1)), j =>
                array_contains(element_at(col("slot_pos"), j), p + j))))
      }
      slots.filter(ok).select("query_id", "doc_id")
    }
    val eligCol = pred.map(p => coalesce(p, lit(false)).as("elig")).toSeq
    val eligAgg = if (pred.isDefined) Seq(max("elig").as("elig")) else Nil
    val base = pruned
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"))
    val (tfQ, stats, k1, b) = q.scoring match {
      case Bm25(k1, b) =>
        (base.select(col("doc_id") +: col("term") +: col("tf") +: col("dl") +:
            eligCol: _*),
          spark.createDataFrame(Seq((m.nDocs, m.sumDl))).toDF("n_docs", "sum_dl"),
          k1, b)
      case Bm25F(ws, k1, b) =>
        // weighted tf′ folds the pruned (field, tf) rows in field order,
        // weighted dl′ folds the stored per-field length vector, corpus
        // stats weight the manifest's exact per-field sums — the SAME
        // left-associative field-order fold the flat scan computes
        val w = ws.map(_._2)
        val weightArr = array(w.map(lit): _*)
        val dlw = w.indices.foldLeft(lit(0.0))((acc, i) =>
          acc + lit(w(i)) * element_at(col("dls"), i + 1).cast("double"))
        val aggs = aggregate(
            array_sort(collect_list(struct(col("fi"), col("tf")))),
            lit(0.0),
            (acc, x) => acc + element_at(weightArr, x.getField("fi") + 1) *
              x.getField("tf").cast("double")).as("tf") +:
          max("dlw").as("dl") +: eligAgg
        val sumDlW = w.indices.foldLeft(0.0)((acc, i) =>
          acc + w(i) * m.fieldSums(i).toDouble)
        (base.select(col("doc_id") +: col("term") +: col("fi") +: col("tf") +:
            dlw.as("dlw") +: eligCol: _*)
            .groupBy("doc_id", "term").agg(aggs.head, aggs.tail: _*),
          spark.createDataFrame(Seq((m.nDocs, sumDlW))).toDF("n_docs", "sum_dl"),
          k1, b)
      case Bm25FFull(ps, k1) =>
        val wArr = array(ps.map(p => lit(p._2)): _*)
        val bArr = array(ps.map(p => lit(p._3)): _*)
        // avgdl_f: the manifest's exact Σdl_f over exact N — the
        // identical IEEE division the flat scan's broadcast-stats row
        // divides
        val avgArr = array(ps.indices.map(i =>
          lit(m.fieldSums(i).toDouble / m.nDocs.toDouble)): _*)
        val bF = element_at(bArr, col("fi") + 1)
        val tfn = col("tf").cast("double") /
          (lit(1.0) - bF + bF *
            element_at(col("dls"), col("fi") + 1).cast("double") /
            element_at(avgArr, col("fi") + 1))
        val aggs = aggregate(
            array_sort(collect_list(struct(col("fi"), col("tfn")))),
            lit(0.0),
            (acc, x) => acc + element_at(wArr, x.getField("fi") + 1) *
              x.getField("tfn")).as("tf") +: eligAgg
        // b = 0 tail: the saturation denominator is tf̄ + k1
        (base.select(col("doc_id") +: col("term") +: col("fi") +:
            tfn.as("tfn") +: eligCol: _*)
            .groupBy("doc_id", "term").agg(aggs.head, aggs.tail: _*)
            .withColumn("dl", lit(0.0)),
          spark.createDataFrame(Seq((m.nDocs, m.nDocs))).toDF("n_docs", "sum_dl"),
          k1, 0.0)
    }
    // df from index statistics (sidecars where present, a bounded
    // per-legacy-segment recompute otherwise) — the posting bytes are
    // read once for scoring, period, at any query width
    Retrieval.scoreAndRank(tfQ, qTerms, stats, k, k1, b, eligPairs,
      mergeableDf = true, dft = Some(dfStats(spark, root, m, qTerms, pp)))
  }

  /** A probe's pruned read plan, resolved once and shared by the
    * candidate read and the df statistics: the probed bucket set, and
    * the collected distinct query terms when the probe is in the
    * literal regime (None past [[MaxProbedTermLiterals]] — the terms
    * were never fully collected). */
  private final case class ProbePruning(buckets: Array[Int],
                                        litTerms: Option[Array[String]])

  private def probePruning(spark: SparkSession, m: LexManifest,
                           qTerms: DataFrame): ProbePruning = {
    val terms = qTerms.select("term").distinct()
      .limit(MaxProbedTermLiterals + 1).collect().map(_.getString(0))
    if (terms.length <= MaxProbedTermLiterals)
      ProbePruning(terms.map(termBucket(_, m.buckets)).distinct.sorted,
        Some(terms))
    else {
      val nb = m.buckets
      val bucketOf = udf((t: String) => termBucket(t, nb))
      // bounded by the index's bucket count, never the term count
      ProbePruning(qTerms.select(bucketOf(col("term")).as("tb"))
        .distinct().collect().map(_.getInt(0)).sorted, None)
    }
  }

  /** The probe's pruned candidate read, shared by every [[search]]
    * branch: the probed buckets turn
    * into `tb IN (…)` partition literals, plus a pushed `term IN (…)`
    * row-group filter in the literal regime. Past the cap the TERM
    * literals drop (the downstream equi-join prunes rows identically)
    * but partition pruning stays — a wide query's I/O is still only
    * the partitions holding some query term. */
  private def prunedPostings(spark: SparkSession, path: String,
                             m: LexManifest, pp: ProbePruning): DataFrame = {
    val postings = readPostingsWith(spark, path, m)
      .filter(col("tb").isin(pp.buckets.map(Integer.valueOf).toSeq: _*))
    pp.litTerms.fold(postings)(ts =>
      postings.filter(col("term").isin(ts.toSeq: _*)))
  }

  /** The probed terms' exact document frequencies — index STATISTICS,
    * never a second scoring-width read: per live segment, either its
    * [[DfSidecarDir]] sidecar's `(term, df)` rows (bucket-partition-
    * pruned, term-pushed — KiBs) or, for a segment written before
    * sidecars existed (absent from the manifest's `df=` set), a
    * bounded recompute over that segment's bucket-pruned postings.
    * Partials sum across segments minus erase-skipped buckets; by the
    * append contract (unique doc ids across segments) the sum IS the
    * corpus df. Serves BOTH regimes: literal probes push `term IN (…)`
    * into the sidecar read, wide probes equi-join the query-term frame
    * instead — the one-postings-read property holds at any query
    * width. The result is query-term-bounded, always broadcastable. */
  private def dfStats(spark: SparkSession, root: Path, m: LexManifest,
                      qTerms: DataFrame, pp: ProbePruning): DataFrame = {
    val schema = StructType(Seq(
      StructField("term", org.apache.spark.sql.types.StringType),
      StructField("df", org.apache.spark.sql.types.LongType),
      StructField("tb", org.apache.spark.sql.types.IntegerType)))
    val qT = qTerms.select("term").distinct()
    def restrict(df: DataFrame): DataFrame = {
      val b = df.filter(col("tb").isin(pp.buckets.map(Integer.valueOf).toSeq: _*))
      pp.litTerms match {
        case Some(ts) => b.filter(col("term").isin(ts.toSeq: _*))
        case None     => b.join(broadcast(qT), Seq("term"))
      }
    }
    val dfSegsEff = effectiveDfSegs(spark, root, m)
    val per = m.entries.map { e =>
      if (dfSegsEff.contains(e.name)) {
        val base = spark.read.schema(schema)
          .parquet(new Path(root, s"${e.name}/$DfSidecarDir").toString)
        val unskipped =
          if (e.skip.isEmpty) base
          else base.filter(!col("tb").isin(
            e.skip.map(b => Integer.valueOf(b.toInt)): _*))
        restrict(unskipped).select("term", "df")
      } else
        // legacy pre-sidecar segment: its partial recomputes from its
        // own bucket-pruned postings (bounded — this one segment only;
        // distinct docs ≡ rows on a plain segment, and the any-field
        // count on a fielded one)
        restrict(segFrame(spark, root, e, postingsSchema(m)))
          .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
          .select("term", "df")
    }.reduce(_.unionByName(_))
    per.groupBy("term").agg(sum("df").as("df"))
  }
}
