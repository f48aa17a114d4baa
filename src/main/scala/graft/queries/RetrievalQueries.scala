package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LexIndex, LexQuery, Retrieval, ServeVector}
import graft.sources.Sources.table

/** Lexical + hybrid retrieval queries (Retrieval.scala) over
  * `documents`/`embeddings`. BM25 replays in DuckDB because every input
  * is an exact integer (tf/dl/df/N; avgdl is one division of two exact
  * integers), the only library call is `ln` (±1 ulp, absorbed by
  * x39's rounding-before-rank), and the per-doc term sum folds
  * left-associatively in term order on BOTH sides (`aggregate ∘
  * array_sort` ≡ `list_reduce ∘ list(… ORDER BY term)`), so double
  * addition order — the one thing a distributed agg would not pin — is
  * fixed. RRF needs no rounding at all: 1/(c+rank) on integer ranks is
  * one correctly-rounded division and one exact-operand addition, so
  * the fused scores hash bit-identically unrounded. */
object RetrievalQueries extends QueryPack {

  private val K = 5
  private val Depth = 20
  private val RrfC = 60
  private val K1 = 1.2
  private val B = 0.75
  // the persisted IVF index's operating point (VectorQueries builds it
  // with 16 cells; its replay CTE bakes the same) — probe width here
  private val IvfNProbe = 4
  // MMR diversification point: relevance weight and candidate depth
  private[queries] val MmrLambda = 0.7
  private[queries] val MmrDepth = 10
  // the hybrid-eval operating point: a deliberately TIGHT probe (one
  // cell of 16) so the metric has approximation to measure — at the
  // serving nprobe the fused top-k recovers the exact reference and
  // recall/nDCG saturate at 1.0
  private[queries] val HybridEvalNProbe = 1

  /** Fixed serving queries: term lists over the corpus vocabulary; for
    * the hybrid shape, query_id doubles as the vec_id whose stored
    * embedding is the vector arm's query (doc_id ≡ vec_id alignment). */
  private val BmQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join", "fast"),
    1L -> Seq("customer", "order", "table"),
    2L -> Seq("hash", "merge", "batch"),
    3L -> Seq("window", "scan", "slow"))

  private def queriesDf(s: SparkSession): DataFrame =
    s.createDataFrame(BmQueries).toDF("query_id", "terms")

  /** The literal-hybrid fixture: ONE query carrying BOTH modalities
    * inline — nl125's terms and the deterministic out-of-corpus literal
    * vector ([[VectorQueries.LitVec]]), query_id -1 (outside the stored
    * id space, matching the oracle's `qv` VALUES row). */
  private[queries] val LitHybridTerms: Seq[String] = Seq("spark", "join", "fast")
  private[queries] def litHybridQueriesDf(s: SparkSession): DataFrame =
    s.createDataFrame(Seq((-1L, LitHybridTerms, VectorQueries.LitVec.toSeq)))
      .toDF("query_id", "terms", "embedding")

  /** The phrase fixture: a plain 2-gram ("spark join") and a
    * DUPLICATE-TERM 2-gram ("batch batch" — both slots fill from one
    * posting row, the adjacency edge case); both phrases occur in both
    * test corpora. */
  private[queries] val PhraseQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("batch", "batch"))
  private def phrasesDf(s: SparkSession): DataFrame =
    s.createDataFrame(PhraseQueries).toDF("query_id", "phrase")

  /** The sloppy-phrase fixture: a 2-gram and a 3-gram, ordered within
    * [[Slop]] extra positions — both discriminate sharply from the
    * exact phrase AND from bag-of-words in both test corpora (sf0.01:
    * "spark fast" matches 62 docs sloppy vs 28 exact vs 304 bag). */
  private[queries] val SloppyQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "fast"),
    1L -> Seq("spark", "join", "fast"))

  /** The TITLE-phrase fixture (x143/x144): 2-grams that actually occur
    * inside the derived 3-token titles at every test SF — a phrase
    * probe of the title field with an empty result certifies nothing. */
  private[queries] val TitlePhraseQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("the", "fast"),
    1L -> Seq("hash", "row"))
  private def titlePhrasesDf(s: SparkSession): DataFrame =
    s.createDataFrame(TitlePhraseQueries).toDF("query_id", "phrase")
  private[queries] val Slop = 3
  private def sloppyDf(s: SparkSession): DataFrame =
    s.createDataFrame(SloppyQueries).toDF("query_id", "phrase")

  /** The BM25F fixture: the title/body web-crawl shape derived
    * deterministically from the corpus — `title` is the document's
    * first three tokens (a real short field whose terms overlap the
    * queries), weighted 2× against the full text. Weights are
    * QUERY-time knobs (the Lucene convention — the index stores raw
    * per-field integers). */
  private[queries] val FieldWeights: Seq[(String, Double)] =
    Seq("title" -> 2.0, "text" -> 1.0)

  /** The FULL-BM25F fixture params `(field, weight, b_f)`: short
    * titles want weak length normalization (b 0.3), bodies keep the
    * BM25 default (0.75) — the classic Robertson–Zaragoza tuning. */
  private[queries] val FieldParamsFull: Seq[(String, Double, Double)] =
    Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75))
  private[queries] def titledDocs(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").withColumn("title",
      array_join(slice(graft.operators.Dedup.tokens(col("text")), 1, 3), " "))

  /** The proximity fixture: a 2-term and a 3-term window query at one
    * window width — both discriminate sharply from bag-of-words in
    * both test corpora (e.g. 46 vs 268 matching docs at sf0.01 for the
    * 3-term set). */
  private[queries] val ProxQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("hash", "merge", "batch"))
  private[queries] val ProxWindow = 6
  private def proxQueriesDf(s: SparkSession): DataFrame =
    s.createDataFrame(ProxQueries).toDF("query_id", "terms")

  // the pack's lexical queries, one value per (match, scoring) pair it
  // serves — BM25 at (K1, B), BM25F at the fixture weights; each flat
  // query and its at-rest twin compile the same value
  private val Bm25Q = LexQuery.Bm25(K1, B)
  private val Bm25FQ = LexQuery.Bm25F(FieldWeights, K1, B)
  private val TermsQ = LexQuery(scoring = Bm25Q)
  private val PhraseQ = LexQuery(LexQuery.Phrase(), Bm25Q)
  private val SloppyQ = LexQuery(LexQuery.Sloppy(Slop), Bm25Q)
  private val WindowQ = LexQuery(LexQuery.Window(ProxWindow), Bm25Q)
  private val FieldedQ = LexQuery(scoring = Bm25FQ)
  private val FieldedFullQ =
    LexQuery(scoring = LexQuery.Bm25FFull(FieldParamsFull, K1))
  private val TitlePhraseQ = LexQuery(LexQuery.Phrase(Some("title")), Bm25FQ)
  private val TextSloppyQ = LexQuery(LexQuery.Sloppy(Slop, Some("text")), Bm25FQ)

  /** The filtered-serving slice: the documents table's own `lang`
    * attribute (x102/x103/nl128/nl129), and the embeddings' `label`
    * viewed through doc_id ≡ vec_id for the hybrid arm (x104). */
  private[queries] val FilterLang = "en"
  private[queries] val LexEraseKeys = Seq(3L, 7L)
  private[queries] val LexEraseLang = "de"

  /** Persisted inverted index, materialized once per JVM per fixture
    * (the index-builder convention — stale on-disk state from an
    * earlier round is deleted first). */
  private val builtIndexes = scala.collection.mutable.HashSet.empty[String]
  private def lexIndexAt(s: SparkSession, d: String, name: String)
                        (build: String => Unit): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      name + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      build(path)
      builtIndexes += path
    }
    path
  }

  private[queries] def lexIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lex_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _))

  /** x116/nl140's POSITIONAL index: token positions stored beside the
    * postings (`positions=1` in the manifest) — the phrase-serving
    * layout; non-phrase probes never read the column. */
  private[queries] def lexPosIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexpos_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _,
        positions = true))

  /** x121/nl145's index: positions AND the `lang` attribute together —
    * the filtered phrase serving shape ("matching \"spark join\" where
    * lang == 'en'"). */
  private[queries] def lexPosAttrIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexposattr_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _,
        positions = true, attrs = Seq("lang")))

  /** x130/nl152's FIELDED index: per-field postings over the derived
    * title/body split — weights stay probe-time, so this one index
    * serves every weighting. */
  private[queries] def lexFieldedIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexf_index_")(
      graft.operators.LexIndex.buildFielded(titledDocs(s, d), _,
        fields = Seq("title", "text")))

  /** x144/x146's index: FIELDS and POSITIONS together — per-field
    * postings whose rows also store within-FIELD position lists, the
    * "phrase in the title" serving layout. */
  private[queries] def lexFieldedPosIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexfpos_index_")(
      graft.operators.LexIndex.buildFielded(titledDocs(s, d), _,
        fields = Seq("title", "text"), positions = true))

  /** x148's index: fields, POSITIONS and the `lang` attribute — the
    * filtered "phrase in the title" serving shape. */
  private[queries] def lexFieldedPosAttrIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexfposattr_index_")(
      graft.operators.LexIndex.buildFielded(titledDocs(s, d), _,
        fields = Seq("title", "text"), positions = true,
        attrs = Seq("lang")))

  /** x135's index: fields AND the `lang` attribute — the filtered
    * BM25F serving shape. */
  private[queries] def lexFieldedAttrIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexfattr_index_")(
      graft.operators.LexIndex.buildFielded(titledDocs(s, d), _,
        fields = Seq("title", "text"), attrs = Seq("lang")))

  /** x103/nl129's index: the `lang` ATTRIBUTE stored beside every
    * posting — the filtered lexical serving shape ("matching spark
    * where lang = 'en'"), predicate pushed into the pruned bucket
    * scan. */
  private[queries] def lexAttrIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexattr_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _,
        attrs = Seq("lang")))

  /** x104's index: the embeddings' `label` joined onto the documents
    * through doc_id ≡ vec_id and stored beside the postings — so the
    * hybrid probe filters BOTH arms on the same attribute name (the
    * vector arm reads it from x91's attribute index). At serving time
    * the metadata must live where each arm's candidates live. */
  private[queries] def lexLabelIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexlabel_index_") { path =>
      val docs = table(s, d, "documents").join(
        table(s, d, "embeddings")
          .select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id"))
      graft.operators.LexIndex.build(docs, path, attrs = Seq("label"))
    }

  /** x105/x106/nl130/nl131's DEDICATED maintenance index: built in
    * three appended batches so compact has real folding to do; every
    * verb on it is content-invariant, so the x/nl twins compose in any
    * order (the nl108/109 protocol, lexical side). */
  private[queries] def lexMaintIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexmaint_index_") { path =>
      val docs = table(s, d, "documents")
      graft.operators.LexIndex.build(docs.filter(col("doc_id") % 3 === 0), path)
      graft.operators.LexIndex.append(docs.filter(col("doc_id") % 3 === 1), path)
      graft.operators.LexIndex.append(docs.filter(col("doc_id") % 3 === 2), path)
    }

  /** x138's DEDICATED two-segment health index (the x105 memoization
    * pattern): built ONCE per JVM; each x138 run walks the three df
    * regimes and RESTORES the fresh state afterwards (manifest text
    * written back, the hidden sidecar renamed back), so a timed rep
    * measures the health walk — probes + metadata — not a per-rep
    * fixture rebuild and teardown. */
  private[queries] def lexDfHealthIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_dfh_index_") { path =>
      val docs = table(s, d, "documents").filter(col("doc_id") < 200)
      graft.operators.LexIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
      graft.operators.LexIndex.append(docs.filter(col("doc_id") % 2 === 1), path)
    }

  /** x107/nl132's DEDICATED erase index: [[LexEraseKeys]] are erased by
    * whichever of the twins runs first; the other's erase is the
    * idempotent no-op — both read the identical post-erase state. */
  private[queries] def lexEraseIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexerase_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _))

  /** x109/nl133's DEDICATED attribute-sweep erase index (stores `lang`;
    * the [[LexEraseLang]] slice is swept by whichever twin runs first). */
  private[queries] def lexEraseWhereIndexTable(s: SparkSession, d: String): String =
    lexIndexAt(s, d, "graft_lexerasew_index_")(
      graft.operators.LexIndex.build(table(s, d, "documents"), _,
        attrs = Seq("lang")))

  /** x108's change-feed scenario (x93's protocol, lexical side):
    * a manifested documents log at v2, an index built from v1 with the
    * v1→v2 delta left PENDING for the query's first syncFromLog, and a
    * twin maintained by direct appends. */
  private val lexSyncScenarios =
    scala.collection.mutable.HashMap.empty[String, (String, String, String)]
  private[queries] def lexSyncScenario(s: SparkSession,
                                       d: String): (String, String, String) = synchronized {
    lexSyncScenarios.getOrElseUpdate(d, {
      import graft.operators.{LexIndex, ManifestedLog}
      val docs = table(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft-lexsync").toString
      val (logPath, idxPath, twinPath) = (s"$dir/log", s"$dir/index", s"$dir/twin")
      def withTs(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "text")
          .withColumn("ts", col("doc_id").cast("timestamp"))
      val half = docs.filter(col("doc_id") % 2 === 0)
      val rest = docs.filter(col("doc_id") % 2 === 1)
      ManifestedLog.append(withTs(half), logPath, dedupKey = Some("doc_id"))
      LexIndex.buildFromLog(s, logPath, idxPath)
      ManifestedLog.append(withTs(rest), logPath, dedupKey = Some("doc_id"))
      // twin: the same final state reached by direct appends, under the
      // same bucket spread (the built index's manifest records it)
      val buckets = LexIndex.readManifest(s, idxPath).buckets
      LexIndex.build(half.select("doc_id", "text"), twinPath, buckets = buckets)
      LexIndex.append(rest.select("doc_id", "text"), twinPath)
      (logPath, idxPath, twinPath)
    })
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x98_bm25_topk" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), queriesDf(s), K, TermsQ)),

    "x99_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      Retrieval.hybridTopK(table(s, d, "documents"),
        table(s, d, "embeddings"), queriesDf(s), K, Depth, RrfC)),

    // The at-rest serving form: same queries, same oracle STRING as
    // x98 — the probe must hash-match the flat scan exactly (and the
    // shared oracle makes them interleaved bench twins).
    "x100_lex_index_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexIndexTable(s, d), queriesDf(s), K, TermsQ)),

    // The fully at-rest hybrid probe: lexical arm from the inverted
    // index, vector arm from the persisted IVF index, RRF-fused — the
    // RAG probe with zero corpus scans (query vectors fetched by id,
    // so the vector arm self-excludes; the oracle replays both arms).
    "x101_hybrid_serve" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, Depth,
        vector = Some(ServeVector.Stored(IvfNProbe)), c = RrfC)),

    // Attribute-filtered lexical serving, flat form: only documents of
    // the slice rank (exactly k matching — a pre-filter, never the
    // under-returning post-filter), while df and corpus stats stay
    // full-corpus (the scoring function is unchanged; the candidate
    // set is filtered — x91's contract, lexical side).
    "x102_bm25_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), queriesDf(s), K, TermsQ,
        pred = Some(col("lang") === FilterLang))),

    // The same filter served AT REST: the predicate over the index's
    // stored `lang` attribute pushes into the pruned bucket scan.
    // Same oracle STRING as x102 — interleaved bench twins.
    "x103_lex_search_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexAttrIndexTable(s, d), queriesDf(s), K, TermsQ,
        pred = Some(col("lang") === FilterLang))),

    // Attribute-filtered HYBRID serving: both at-rest arms pre-filter
    // their candidates on the same stored attribute (label, through
    // doc_id ≡ vec_id), then RRF-fuse — "docs about X, near this
    // embedding, where label = 3", the full RAG serving sentence.
    "x104_hybrid_serve_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexLabelIndexTable(s, d),
        VectorQueries.ivfAttrIndexTable(s, d), queriesDf(s), K, Depth,
        vector = Some(ServeVector.Stored(IvfNProbe)), c = RrfC,
        pred = Some(col("label") === VectorQueries.FilterLabel))),

    // Lifecycle verbs on the dedicated maintenance index — every one
    // content-invariant, certified by the SAME replay as the flat scan
    // (x98's oracle string: probe ≡ scan, before and after the verb).
    "x105_lex_compact" -> ((s: SparkSession, d: String) => {
      val p = lexMaintIndexTable(s, d)
      graft.operators.LexIndex.compact(s, p)
      LexIndex.search(s, p, queriesDf(s), K, TermsQ)
    }),

    "x106_lex_vacuum" -> ((s: SparkSession, d: String) => {
      val p = lexMaintIndexTable(s, d)
      graft.operators.LexIndex.vacuum(s, p, keepVersions = 1)
      LexIndex.search(s, p, queriesDf(s), K, TermsQ)
    }),

    // Postings compliance erasure: "forget doc X" reaches the inverted
    // index — after the log (x81) and the vector index (x92) have
    // forgotten a document, this was the one store left serving its
    // content by keyword. Stats adjust in the same atomic flip, so the
    // post-erase probe is score-identical to a flat scan of the
    // survivors (the oracle replays exactly that).
    "x107_lex_erase" -> ((s: SparkSession, d: String) => {
      val p = lexEraseIndexTable(s, d)
      graft.operators.LexIndex.deleteByKey(s, p, LexEraseKeys)
      LexIndex.search(s, p, queriesDf(s), K, TermsQ)
    }),

    // Change-feed-driven index maintenance, self-certified (x93's
    // protocol, lexical side): a manifested documents log advances,
    // syncFromLog ingests exactly the delta (cursor = the sync tag in
    // the live manifest), and the synced index probes identically to
    // one maintained by direct appends; a re-sync is a pure no-op.
    "x108_lex_sync" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.LexIndex
      val (logPath, idxPath, twinPath) = lexSyncScenario(s, d)
      val (to1, v1) = LexIndex.syncFromLog(s, logPath, idxPath)
      def ranked(p: String) = LexIndex.search(s, p, queriesDf(s), K, TermsQ)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      // each probe collected ONCE (ranked(idxPath) evaluated twice in
      // the old conjunction re-ran the whole probe pipeline)
      val ri = ranked(idxPath)
      val probeEqual = ri == ranked(twinPath) && ri.nonEmpty
      val (to2, v2) = LexIndex.syncFromLog(s, logPath, idxPath)
      val resyncNoop = to2 == to1 && v2 == v1
      Seq((probeEqual, resyncNoop)).toDF("synced_probe_equal", "resync_noop")
    }),

    // Attribute-sweep postings erasure: every document of a lang slice
    // forgotten by predicate — fully distributed, no id list.
    "x109_lex_erase_where" -> ((s: SparkSession, d: String) => {
      val p = lexEraseWhereIndexTable(s, d)
      graft.operators.LexIndex.deleteWhere(s, p,
        col("lang") === LexEraseLang)
      LexIndex.search(s, p, queriesDf(s), K, TermsQ)
    }),

    // Per-bucket index observability from parquet footers only (the
    // x86 recipe, lexical side — hot stop-word buckets are the
    // inverted index's skew failure mode): bucket ids are a hash (not
    // SQL-replayable), so the certificate is the x60 TRUE-literal
    // pattern — footer totals must equal a full postings scan's
    // group-by, bucket for bucket.
    "x113_lex_bucket_stats" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val p = lexIndexTable(s, d)
      val footer = graft.operators.LexIndex.bucketStats(s, p)
        .select("tb", "n_rows")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val scanned = graft.operators.LexIndex.readPostings(s, p)
        .groupBy("tb").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      Seq(footer == scanned && footer.nonEmpty).toDF("footer_equals_scan")
    }),

    // df-REGIME observability, certified end-to-end (the x60/x113
    // TRUE-literal pattern): a probe serves df from each segment's
    // sidecar when available and silently falls back to a bounded
    // per-segment recompute when not — dfSidecarHealth is the operator's
    // view of that decision. The certificate walks all three regimes on
    // a dedicated two-segment index: fresh (every segment sidecar-served
    // AND manifest-registered), legacy (df= line stripped — the
    // existence fallback keeps serving the on-disk sidecars, `registered`
    // flips), and mixed (one sidecar deleted — health flags exactly that
    // segment) — with the probe's results identical across all three.
    "x138_lex_df_health" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val dir = lexDfHealthIndexTable(s, d)
      val qs = queriesDf(s)
      def res = LexIndex.search(s, dir, qs, K, TermsQ)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      def health = graft.operators.LexIndex.dfSidecarHealth(s, dir).collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSeq
      val expected = res
      val h1 = health
      val ok1 = h1.size == 2 && h1.forall(h => h._2 && h._3)
      val root = new org.apache.hadoop.fs.Path(dir)
      val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val mv = graft.operators.LexIndex.versions(s, dir).last
      val mf = new org.apache.hadoop.fs.Path(dir, f"lex-manifest-$mv%09d.txt")
      val mTxt = {
        val in = f.open(mf)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // the walk MUTATES the shared per-JVM fixture (manifest df= lines
      // stripped, one sidecar renamed away) — restore in a finally so an
      // exception mid-walk can't corrupt it for later reps, and tolerate
      // a stale _df.bak a killed earlier run may have left behind
      val gone = h1.head._1
      val dfDir = new org.apache.hadoop.fs.Path(dir, s"$gone/_df")
      val dfBak = new org.apache.hadoop.fs.Path(dir, s"$gone/_df.bak")
      if (f.exists(dfBak)) {
        if (f.exists(dfDir)) f.delete(dfBak, true) else f.rename(dfBak, dfDir)
      }
      def writeManifest(txt: String): Unit = {
        val out = f.create(mf, true)
        try out.write(txt.getBytes("UTF-8")) finally out.close()
      }
      val certified =
        try {
          writeManifest(mTxt.linesIterator.filterNot(_.startsWith("df="))
            .mkString("", "\n", "\n"))
          val h2 = health
          val ok2 = h2.forall(h => h._2 && !h._3) && res == expected
          // mixed regime: HIDE one segment's sidecar (a rename the walk
          // can undo — deleting it would force the next run to rebuild
          // the whole fixture, which is teardown cost, not health-walk
          // cost)
          f.rename(dfDir, dfBak)
          val h3 = health
          val ok3 = h3.collect { case (sg, false, _) => sg } == Seq(gone) &&
            res == expected
          ok1 && ok2 && ok3
        } finally {
          // restore the FRESH regime byte-for-byte: the sidecar rename
          // reverses, the original manifest text (df= lines included)
          // rewrites in place
          if (f.exists(dfBak)) f.rename(dfBak, dfDir)
          writeManifest(mTxt)
        }
      Seq(certified).toDF("df_health_certified")
    }),

    // The LITERAL-query hybrid probe — the production serving sentence
    // the by-id form can't speak: a FRESH embedding (never stored) plus
    // keywords. Lexical arm from the inverted index, vector arm from
    // the IVF index probed by the literal vector (query_id -1, nothing
    // self-excluded — external queries have no "self"), RRF-fused;
    // still zero corpus scans.
    "x114_hybrid_serve_literal" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), litHybridQueriesDf(s), K, Depth,
        vector = Some(ServeVector.Literal(IvfNProbe)), c = RrfC)),

    // Quoted-phrase retrieval, flat form: only documents containing
    // the CONTIGUOUS token run rank (adjacency, not bag-of-words),
    // scored by BM25 over the phrase's distinct terms with full-corpus
    // stats. The fixture includes a duplicate-term phrase.
    "x115_bm25_phrase" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), phrasesDf(s), K, PhraseQ)),

    // The same phrases served AT REST from the positional index:
    // adjacency from stored position lists on the pruned candidate
    // rows — zero corpus scans. Same oracle STRING as x115 (the
    // interleaved-bench-twin convention).
    "x116_lex_phrase_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosIndexTable(s, d), phrasesDf(s), K, PhraseQ)),

    // The FILTERED literal-query hybrid — the full production serving
    // sentence: fresh embedding + keywords + a metadata filter, both
    // arms pre-filtering on the attribute both indexes store (x104's
    // contract on x114's literal-query form).
    "x124_hybrid_serve_lit_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexLabelIndexTable(s, d),
        VectorQueries.ivfAttrIndexTable(s, d), litHybridQueriesDf(s), K, Depth,
        vector = Some(ServeVector.Literal(IvfNProbe)), c = RrfC,
        pred = Some(col("label") === VectorQueries.FilterLabel))),

    // Proximity retrieval — the middle ground between bag-of-words and
    // the exact phrase: all terms inside some 6-token run, any order.
    "x122_bm25_proximity" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), proxQueriesDf(s), K,
        WindowQ)),

    // Served at rest from the positional index: window containment
    // from stored position lists on the pruned candidate rows — zero
    // corpus scans. Same oracle STRING as x122.
    "x123_lex_proximity_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosIndexTable(s, d), proxQueriesDf(s), K,
        WindowQ)),

    // Filtered proximity: window containment AND the lang slice.
    "x125_bm25_proximity_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), proxQueriesDf(s), K,
        WindowQ, pred = Some(col("lang") === FilterLang))),

    // At rest from the positions+attrs index; shares x125's string.
    "x126_lex_proximity_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosAttrIndexTable(s, d), proxQueriesDf(s), K,
        WindowQ, pred = Some(col("lang") === FilterLang))),

    // BM25F multi-field retrieval — the title/body shape: weighted
    // aggregates (tf' = Σ w_f·tf_f, dl' = Σ w_f·dl_f) under the shared
    // saturation curve, df over any-field containment. The title field
    // weighs 2× so a title hit genuinely reranks against body spam.
    "x129_bm25f" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), queriesDf(s), K, FieldedQ)),

    // The same BM25F served AT REST from the FIELDED index: weighted
    // tf'/dl' fold per-field postings and the stored length vectors,
    // corpus stats weight the manifest's exact per-field sums, df from
    // the distinct-doc sidecars. Same oracle STRING as x129.
    "x130_lexf_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedIndexTable(s, d), queriesDf(s), K,
        FieldedQ)),

    // FULL Robertson–Zaragoza BM25F — per-field length normalization
    // (title b 0.3, body b 0.75: the classic tuning the simplified
    // shared-saturation form can't express), then the field-order
    // weighted fold saturating against k1 alone.
    "x139_bm25f_full" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), queriesDf(s), K, FieldedFullQ)),

    // The same full form served AT REST from the SAME fielded index
    // x130 probes — w_f, b_f AND k1 are all probe-time arguments over
    // the stored raw per-field integers, so one index serves both the
    // simplified and the full scoring without a rebuild. Same oracle
    // STRING as x139 (interleaved bench twins).
    "x140_lexf_search_full" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedIndexTable(s, d), queriesDf(s), K,
        FieldedFullQ)),

    // The FIELDED hybrid — the title/body RAG probe: BM25F lexical arm
    // from the fielded index (probe-time weights), by-id vector arm
    // from the IVF index, RRF-fused; zero corpus scans.
    "x137_hybrid_serve_fielded" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexFieldedIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, Depth,
        FieldedQ, Some(ServeVector.Stored(IvfNProbe)), c = RrfC)),

    // FIELDED × POSITIONAL — "the phrase in the TITLE": only documents
    // whose title stream holds the contiguous run rank, scored by
    // BM25F at the probe weights (the phrase restricts candidates,
    // never scoring — the phrase contract, fielded form).
    "x143_bm25f_phrase" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), titlePhrasesDf(s), K,
        TitlePhraseQ)),

    // Served AT REST from the fielded POSITIONAL index: adjacency from
    // the target field's stored within-field position lists on the
    // pruned candidate rows — zero corpus scans. Same oracle STRING as
    // x143 (interleaved bench twins).
    "x144_lexf_phrase_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedPosIndexTable(s, d), titlePhrasesDf(s),
        K, TitlePhraseQ)),

    // The FILTERED fielded phrase: the within-title run AND the lang
    // slice compose (df/lengths/stats full-corpus, the filtered-probe
    // contract); x148 serves from a fields+positions+attrs index.
    "x147_bm25f_phrase_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), titlePhrasesDf(s), K,
        TitlePhraseQ, pred = Some(col("lang") === FilterLang))),

    "x148_lexf_phrase_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedPosAttrIndexTable(s, d),
        titlePhrasesDf(s), K, TitlePhraseQ,
        pred = Some(col("lang") === FilterLang))),

    // The SLOPPY form in the BODY field: ordered within slop inside
    // one field's stream, BM25F-scored at the probe weights.
    "x145_bm25f_sloppy" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), sloppyDf(s), K, TextSloppyQ)),

    "x146_lexf_sloppy_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedPosIndexTable(s, d), sloppyDf(s), K,
        TextSloppyQ)),

    // Ordered SLOPPY-phrase retrieval — the standard slop semantics
    // every production search engine defaults to (Lucene PhraseQuery):
    // phrase tokens in order within `Slop` extra positions, the middle
    // ground between exact adjacency (x115) and the unordered window
    // (x122). Greedy-chain containment restricts the BM25 ranking.
    "x127_bm25_sloppy" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), sloppyDf(s), K, SloppyQ)),

    // Served at rest from the positional index: ordered chains from
    // stored position lists on the pruned candidate rows — zero corpus
    // scans. Same oracle STRING as x127 (interleaved bench twins).
    "x128_lex_sloppy_search" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosIndexTable(s, d), sloppyDf(s), K, SloppyQ)),

    // Filtered sloppy pair: the ordered-chain restriction AND the lang
    // slice compose (stats and df full-corpus). x133 shares x132's
    // string, served from the positions+attrs index.
    "x132_bm25_sloppy_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), sloppyDf(s), K, SloppyQ,
        pred = Some(col("lang") === FilterLang))),

    "x133_lex_sloppy_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosAttrIndexTable(s, d), sloppyDf(s), K, SloppyQ,
        pred = Some(col("lang") === FilterLang))),

    // Filtered BM25F pair: the weighted-aggregate scoring AND the lang
    // slice; x135 serves from a fields+attrs index (x134's string).
    "x134_bm25f_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(titledDocs(s, d), queriesDf(s), K, FieldedQ,
        pred = Some(col("lang") === FilterLang))),

    "x135_lexf_search_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexFieldedAttrIndexTable(s, d), queriesDf(s), K,
        FieldedQ, pred = Some(col("lang") === FilterLang))),

    // Filtered phrase retrieval: the phrase adjacency restriction AND
    // an attribute pre-filter compose — exactly k matching documents
    // containing the contiguous run, stats and df full-corpus.
    "x120_bm25_phrase_filtered" -> ((s: SparkSession, d: String) =>
      Retrieval.bm25TopK(table(s, d, "documents"), phrasesDf(s), K, PhraseQ,
        pred = Some(col("lang") === FilterLang))),

    // Served at rest from the positional+attribute index: adjacency
    // from stored positions, eligibility from the stored `lang` riding
    // the pruned candidate rows. Same oracle STRING as x120.
    "x121_lex_phrase_filtered" -> ((s: SparkSession, d: String) =>
      LexIndex.search(s, lexPosAttrIndexTable(s, d), phrasesDf(s), K, PhraseQ,
        pred = Some(col("lang") === FilterLang))),

    // MMR-diversified retrieval: BM25 depth-10 candidates re-selected
    // greedily for relevance minus redundancy (embedding cosine to the
    // already-picked set) — the standard RAG diversification pass.
    // Query-batch-sized: the greedy folds over ≤depth collected
    // candidates per query; the oracle unrolls the same greedy as k
    // chained argmax CTEs.
    "x112_mmr_docs" -> ((s: SparkSession, d: String) =>
      Retrieval.mmrTopK(
        Retrieval.bm25TopK(table(s, d, "documents"), queriesDf(s), MmrDepth,
          TermsQ),
        table(s, d, "embeddings"), K, MmrLambda)),

    // The same diversification served fully AT REST: candidates from
    // the inverted index, embeddings fetched by id from the IVF index
    // — zero corpus scans. Same oracle STRING as x112 (interleaved
    // bench twins: both inputs are score-identical and the greedy is
    // shared).
    "x117_mmr_serve" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, MmrDepth,
        TermsQ, mmr = Some(MmrLambda))),

    // MMR over the FUSED ranking — diversify what a RAG pipeline
    // actually serves: hybrid top-depth candidates (two pruned index
    // probes, RRF-fused), relevance = the fused score, embeddings
    // fetched by id — the whole pass in the spoken-probe cost class.
    "x131_mmr_hybrid_serve" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, MmrDepth,
        vector = Some(ServeVector.Stored(IvfNProbe)), mmr = Some(MmrLambda),
        c = RrfC)),

    // The literal-query form: diversify the production hybrid sentence
    // (fresh embedding + keywords, x114's probe at depth) — shares
    // nl154's oracle string (single query -1, same constants).
    "x136_mmr_hybrid_lit" -> ((s: SparkSession, d: String) =>
      Retrieval.serve(s, lexIndexTable(s, d),
        VectorQueries.ivfIndexTable(s, d), litHybridQueriesDf(s), K,
        MmrDepth, vector = Some(ServeVector.Literal(IvfNProbe)),
        mmr = Some(MmrLambda), c = RrfC)),

    // Offline evaluation of the FUSED at-rest ranking (x110/x111's
    // protocol, hybrid side): the two-index hybrid probe scored against
    // the exact-hybrid reference — same lexical arm (the index probe is
    // score-identical to the flat scan), vector arm exact brute-force
    // cosine with the same self-exclusion — so the metric isolates
    // exactly the IVF approximation inside the fusion.
    "x118_hybrid_recall" -> ((s: SparkSession, d: String) =>
      Retrieval.recallAtK(hybridProbe(s, d), hybridTruth(s, d), K,
        idCol = "doc_id")),

    "x119_hybrid_ndcg" -> ((s: SparkSession, d: String) =>
      Retrieval.ndcgAtK(hybridProbe(s, d), hybridTruth(s, d), K,
        idCol = "doc_id")),

    // Offline evaluation of the FIELDED hybrid (x118/x119's protocol
    // on x137's ranking): adopting the fielded hybrid for serving
    // means flipping traffic to a ranking these two certify — the
    // at-rest BM25F+vector fusion scored against the exact fielded
    // hybrid (flat BM25F, score-identical to the fielded probe, fused
    // with exact self-excluding cosine), isolating exactly the IVF
    // approximation inside the fielded fusion.
    "x141_hybrid_recall_fielded" -> ((s: SparkSession, d: String) =>
      Retrieval.recallAtK(hybridProbeFielded(s, d),
        hybridTruthFielded(s, d), K, idCol = "doc_id")),

    "x142_hybrid_ndcg_fielded" -> ((s: SparkSession, d: String) =>
      Retrieval.ndcgAtK(hybridProbeFielded(s, d),
        hybridTruthFielded(s, d), K, idCol = "doc_id")))

  /** x118/x119's candidate: the fully at-rest hybrid probe (x101's
    * exact shape and constants). */
  private def hybridProbe(s: SparkSession, d: String): DataFrame =
    Retrieval.serve(s, lexIndexTable(s, d),
      VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, Depth,
      vector = Some(ServeVector.Stored(HybridEvalNProbe)), c = RrfC)

  /** x118/x119's reference: the exact hybrid at the same operating
    * point — flat BM25 (score-identical to the index arm) RRF-fused
    * with EXACT cosine over the aligned embeddings, self-excluded like
    * the by-id serving's vector arm. */
  private def hybridTruth(s: SparkSession, d: String): DataFrame = {
    val embs = table(s, d, "embeddings")
    val lex = Retrieval.bm25TopK(table(s, d, "documents"), queriesDf(s),
        Depth, TermsQ)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qVecs = embs.join(
      broadcast(queriesDf(s).select(col("query_id").as("vec_id"))),
      Seq("vec_id"))
    val vec = graft.operators.Similarity.bruteForceTopK(qVecs, embs, Depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(lex, vec, K, RrfC)
  }

  /** x141/x142's probe: the at-rest FIELDED hybrid at the eval
    * operating point (x137's serving shape under x118's nprobe). */
  private def hybridProbeFielded(s: SparkSession, d: String): DataFrame =
    Retrieval.serve(s, lexFieldedIndexTable(s, d),
      VectorQueries.ivfIndexTable(s, d), queriesDf(s), K, Depth,
      FieldedQ, Some(ServeVector.Stored(HybridEvalNProbe)), c = RrfC)

  /** The exact FIELDED-hybrid reference: flat BM25F (score-identical
    * to the fielded probe) RRF-fused with EXACT self-excluding cosine
    * over the aligned embeddings — x118's reference, fielded arm. */
  private def hybridTruthFielded(s: SparkSession, d: String): DataFrame = {
    val embs = table(s, d, "embeddings")
    val lex = Retrieval.bm25TopK(titledDocs(s, d), queriesDf(s), Depth,
        FieldedQ)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qVecs = embs.join(
      broadcast(queriesDf(s).select(col("query_id").as("vec_id"))),
      Seq("vec_id"))
    val vec = graft.operators.Similarity.bruteForceTopK(qVecs, embs, Depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(lex, vec, K, RrfC)
  }

  private val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  private def qtValues(qs: Seq[(Long, Seq[String])]) = qs
    .flatMap { case (qid, ts) => ts.map(t => s"(${qid}::BIGINT, '$t')") }
    .mkString(",\n  ")

  /** The BM25 scoring CTEs shared by every retrieval oracle (x98/x99
    * and the NL twins' single-query variants): ranks documents by the
    * rounded score. Constants interpolate from the SAME Scala doubles
    * the operator uses (`Double.toString` round-trips, so DuckDB
    * parses the bit-identical value).
    *
    * `docsSrc` replaces the corpus for the erase replays (documents
    * minus the forgotten ids/slice — stats, df, everything recomputes
    * over the survivors, exactly what the erase's atomic stats
    * adjustment promises). `eligibleSql` replays a filtered probe:
    * only matching documents reach the ranking, while stats and df
    * stay full-corpus (pre-filtered candidates, unchanged scoring). */
  private def bm25Ctes(qs: Seq[(Long, Seq[String])],
                       docsSrc: String = "documents",
                       eligibleSql: Option[String] = None): String =
    s"""qt(query_id, term) AS (VALUES
       |  ${qtValues(qs)}),
       |toks AS (SELECT doc_id, unnest($toksSql) AS term FROM $docsSrc),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sum_dl FROM dl),
       |tfq AS (SELECT tf.* FROM tf
       |        JOIN (SELECT DISTINCT term FROM qt) USING (term)),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tfq GROUP BY term),
       |contrib AS (
       |  SELECT qt.query_id, t.doc_id, t.term,
       |    ln((s.n::DOUBLE - d.df::DOUBLE + 0.5::DOUBLE)
       |         / (d.df::DOUBLE + 0.5::DOUBLE) + 1.0::DOUBLE)
       |      * (t.tf::DOUBLE * ${K1 + 1.0}::DOUBLE)
       |      / (t.tf::DOUBLE + ${K1}::DOUBLE
       |           * (${1.0 - B}::DOUBLE + ${B}::DOUBLE * l.dl::DOUBLE
       |                / (s.sum_dl::DOUBLE / s.n::DOUBLE))) AS contrib
       |  FROM tfq t JOIN dft d USING (term) JOIN dl l USING (doc_id)
       |       JOIN qt ON qt.term = t.term CROSS JOIN stats s),
       |sc AS (
       |  SELECT query_id, doc_id,
       |    round(list_reduce(list(contrib ORDER BY term), (a, x) -> a + x),
       |          6) AS score
       |  FROM contrib${eligibleSql.fold("")(e => s" WHERE $e")}
       |  GROUP BY query_id, doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc)""".stripMargin

  /** The phrase replay: tokens space-joined and padded (tokens hold no
    * whitespace by construction — `string_split_regex` on `\s+` — so a
    * literal `strpos` on the padded join is EXACT contiguous-run
    * containment, no wildcard hazards), restricting the BM25 ranking
    * per (query, doc) while df and corpus stats stay full-corpus.
    * Scoring terms are the phrase's DISTINCT tokens, matching the
    * operator. Shared verbatim by the flat scan (x115), the positional
    * index probe (x116), and the NL twins. */
  private[queries] def phraseReplaySql(phrases: Seq[(Long, Seq[String])],
                                       k: Int,
                                       eligibleSql: Option[String] = None): String = {
    val qs = phrases.map { case (qid, p) => qid -> p.map(_.toLowerCase).distinct }
    val phValues = phrases.map { case (qid, p) =>
      s"(${qid}::BIGINT, ' ${p.map(_.toLowerCase).mkString(" ")} ')" }
      .mkString(",\n  ")
    val elig = "EXISTS (SELECT 1 FROM ph WHERE ph.query_id = " +
      "contrib.query_id AND ph.doc_id = contrib.doc_id)" +
      eligibleSql.fold("")(e => s" AND $e")
    s"""WITH phq(query_id, pat) AS (VALUES
       |  $phValues),
       |ph AS (
       |  SELECT q.query_id, d.doc_id FROM phq q JOIN documents d
       |    ON strpos(' ' || array_to_string($toksSql, ' ') || ' ', q.pat) > 0),
       |${bm25Ctes(qs, eligibleSql = Some(elig))}
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin
  }

  /** The BM25F replay: per-field token lists (`title` = the first
    * three tokens — the same derivation the fixture computes), exact
    * per-field integer tf/dl, and every weighted sum written as the
    * SAME left-associative field-order fold the operator computes —
    * tf′ via `list_reduce(list(w·tf ORDER BY fi))` (equal to the
    * operator's 0.0-seeded fold bit-for-bit: 0 + x = x for the
    * positive products), dl′/Σdl′ as explicit `0.0 + w₀·a + w₁·b`
    * expressions. df counts any-field containment; the scoring tail is
    * the shared rounded-fold ranking. */
  private[queries] def bm25fReplaySql(qs: Seq[(Long, Seq[String])], k: Int,
                                      weights: Seq[Double],
                                      eligibleSql: Option[String] = None,
                                      extraCtes: Option[String] = None): String = {
    val fieldToks = Seq(s"list_slice($toksSql, 1, 3)", toksSql)
    require(weights.size == fieldToks.size)
    val w = weights.map(_.toString)
    val fcols = fieldToks.indices
    val ftoksCols = fieldToks.zipWithIndex
      .map { case (e, i) => s"$e AS toks_$i" }.mkString(",\n       ")
    val unions = fcols.map(i =>
      s"  SELECT doc_id, $i AS fi, unnest(toks_$i) AS term FROM ftoks")
      .mkString("\n  UNION ALL\n")
    val wCase = fcols.map(i =>
      s"WHEN $i THEN ${w(i)}::DOUBLE * tf::DOUBLE").mkString(" ")
    val dlCols = fcols.map(i => s"len(toks_$i)::BIGINT AS dl_$i")
      .mkString(", ")
    val dlwExpr = fcols.map(i => s"${w(i)}::DOUBLE * dl_$i::DOUBLE")
      .mkString("0.0::DOUBLE + ", " + ", "")
    val sumExpr = fcols.map(i => s"${w(i)}::DOUBLE * sum(dl_$i)::DOUBLE")
      .mkString("0.0::DOUBLE + ", " + ", "")
    val anyTok = fcols.map(i => s"dl_$i").mkString(" + ") + " > 0"
    s"""WITH ${extraCtes.fold("")(c => c + "\n")}qt(query_id, term) AS (VALUES
       |  ${qtValues(qs)}),
       |ftoks AS (SELECT doc_id, $ftoksCols FROM documents),
       |tff AS (
       |  SELECT u.doc_id, u.term, u.fi, count(*)::BIGINT AS tf FROM (
       |$unions) u
       |  JOIN (SELECT DISTINCT term FROM qt) q USING (term)
       |  GROUP BY u.doc_id, u.term, u.fi),
       |tfw AS (
       |  SELECT doc_id, term,
       |    list_reduce(list(CASE fi $wCase END ORDER BY fi),
       |                (a, x) -> a + x) AS tfw
       |  FROM tff GROUP BY doc_id, term),
       |dlf AS (SELECT doc_id, $dlCols FROM ftoks),
       |dlw AS (SELECT doc_id, $dlwExpr AS dlw FROM dlf),
       |stats AS (SELECT count(*)::BIGINT AS n, $sumExpr AS sum_dlw
       |          FROM dlf WHERE $anyTok),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tfw GROUP BY term),
       |contrib AS (
       |  SELECT qt.query_id, t.doc_id, t.term,
       |    ln((s.n::DOUBLE - d.df::DOUBLE + 0.5::DOUBLE)
       |         / (d.df::DOUBLE + 0.5::DOUBLE) + 1.0::DOUBLE)
       |      * (t.tfw * ${K1 + 1.0}::DOUBLE)
       |      / (t.tfw + ${K1}::DOUBLE
       |           * (${1.0 - B}::DOUBLE + ${B}::DOUBLE * l.dlw
       |                / (s.sum_dlw / s.n::DOUBLE))) AS contrib
       |  FROM tfw t JOIN dft d USING (term) JOIN dlw l USING (doc_id)
       |       JOIN qt ON qt.term = t.term CROSS JOIN stats s),
       |sc AS (
       |  SELECT query_id, doc_id,
       |    round(list_reduce(list(contrib ORDER BY term), (a, x) -> a + x),
       |          6) AS score
       |  FROM contrib${eligibleSql.fold("")(e => s" WHERE $e")}
       |  GROUP BY query_id, doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc)
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin
  }

  /** The FIELDED phrase/sloppy replay — "the phrase in the TITLE":
    * an increasing position chain per slot over the NAMED field's own
    * token stream (the [[sloppyReplaySql]] self-join unroll, field
    * form; slop = 0 forces adjacency, so one builder serves the exact
    * and the sloppy operator alike), restricting the BM25F ranking
    * per (query, doc) while df/lengths/stats stay full-corpus.
    * Scoring terms are the phrase's DISTINCT tokens. Shared verbatim
    * by the flat fielded scan and the fielded positional probe. */
  private[queries] def bm25fPhraseFieldedReplaySql(
      phrases: Seq[(Long, Seq[String])], k: Int, weights: Seq[Double],
      fieldIdx: Int, slop: Int,
      eligibleSql: Option[String] = None): String = {
    val fieldToks = Seq(s"list_slice($toksSql, 1, 3)", toksSql)
    val ft = fieldToks(fieldIdx)
    val qs = phrases.map { case (qid, p) => qid -> p.map(_.toLowerCase).distinct }
    val perQuery = phrases.map { case (qid, p0) =>
      val p = p0.map(_.toLowerCase)
      val n = p.size
      if (n == 1)
        s"""  SELECT DISTINCT ${qid}::BIGINT AS query_id, p1.doc_id
           |  FROM fps p1 WHERE p1.term = '${p.head}'""".stripMargin
      else {
        val joins = (2 to n).map { j =>
          s"  JOIN fps p$j ON p$j.doc_id = p1.doc_id AND p$j.term = " +
            s"'${p(j - 1)}' AND p$j.pos > p${j - 1}.pos"
        }.mkString("\n")
        s"""  SELECT DISTINCT ${qid}::BIGINT AS query_id, p1.doc_id
           |  FROM fps p1
           |$joins
           |  WHERE p1.term = '${p.head}'
           |    AND p$n.pos - p1.pos <= ${n - 1 + slop}""".stripMargin
      }
    }.mkString("\n  UNION ALL\n")
    val ctes =
      s"""ftx AS (SELECT doc_id, $ft AS ftoks FROM documents),
         |fps AS (SELECT doc_id, unnest(ftoks) AS term,
         |        unnest(range(1, len(ftoks) + 1)) AS pos FROM ftx),
         |fsp AS (
         |$perQuery),""".stripMargin
    val elig = "EXISTS (SELECT 1 FROM fsp WHERE fsp.query_id = " +
      "contrib.query_id AND fsp.doc_id = contrib.doc_id)" +
      eligibleSql.fold("")(e => s" AND $e")
    bm25fReplaySql(qs, k, weights, eligibleSql = Some(elig),
      extraCtes = Some(ctes))
  }

  /** The FULL Robertson–Zaragoza BM25F replay: per-field soft length
    * normalization tf̃_f = tf_f / (1 − b_f + b_f·dl_f/(Σdl_f/N)) —
    * every operand order written as the operator computes it — then
    * the field-order weighted fold and the b = 0 scoring tail
    * (saturation against k1 alone; the length adjustment already
    * happened inside each field). Shared verbatim by the flat scan
    * and the fielded-index probe. */
  private[queries] def bm25fFullReplaySql(qs: Seq[(Long, Seq[String])],
                                          k: Int, weights: Seq[Double],
                                          bs: Seq[Double],
                                          eligibleSql: Option[String] = None): String = {
    val fieldToks = Seq(s"list_slice($toksSql, 1, 3)", toksSql)
    require(weights.size == fieldToks.size && bs.size == fieldToks.size)
    val w = weights.map(_.toString)
    val bf = bs.map(_.toString)
    val fcols = fieldToks.indices
    val ftoksCols = fieldToks.zipWithIndex
      .map { case (e, i) => s"$e AS toks_$i" }.mkString(",\n       ")
    val unions = fcols.map(i =>
      s"  SELECT doc_id, $i AS fi, unnest(toks_$i) AS term FROM ftoks")
      .mkString("\n  UNION ALL\n")
    val dlCols = fcols.map(i => s"len(toks_$i)::BIGINT AS dl_$i")
      .mkString(", ")
    val sumCols = fcols.map(i => s"sum(dl_$i)::BIGINT AS s_$i")
      .mkString(", ")
    val anyTok = fcols.map(i => s"dl_$i").mkString(" + ") + " > 0"
    val tfnCase = fcols.map(i =>
      s"WHEN $i THEN t.tf::DOUBLE / (1.0::DOUBLE - ${bf(i)}::DOUBLE " +
        s"+ ${bf(i)}::DOUBLE * l.dl_$i::DOUBLE " +
        s"/ (s.s_$i::DOUBLE / s.n::DOUBLE))").mkString(" ")
    val wCase = fcols.map(i =>
      s"WHEN $i THEN ${w(i)}::DOUBLE * tfn").mkString(" ")
    s"""WITH qt(query_id, term) AS (VALUES
       |  ${qtValues(qs)}),
       |ftoks AS (SELECT doc_id, $ftoksCols FROM documents),
       |dlf AS (SELECT doc_id, $dlCols FROM ftoks),
       |fstats AS (SELECT count(*)::BIGINT AS n, $sumCols
       |           FROM dlf WHERE $anyTok),
       |tff AS (
       |  SELECT u.doc_id, u.term, u.fi, count(*)::BIGINT AS tf FROM (
       |$unions) u
       |  JOIN (SELECT DISTINCT term FROM qt) q USING (term)
       |  GROUP BY u.doc_id, u.term, u.fi),
       |tfnt AS (
       |  SELECT t.doc_id, t.term, t.fi, CASE t.fi $tfnCase END AS tfn
       |  FROM tff t JOIN dlf l USING (doc_id) CROSS JOIN fstats s),
       |tfw AS (
       |  SELECT doc_id, term,
       |    list_reduce(list(CASE fi $wCase END ORDER BY fi),
       |                (a, x) -> a + x) AS tfw
       |  FROM tfnt GROUP BY doc_id, term),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tfw GROUP BY term),
       |contrib AS (
       |  SELECT qt.query_id, t.doc_id, t.term,
       |    ln((s.n::DOUBLE - d.df::DOUBLE + 0.5::DOUBLE)
       |         / (d.df::DOUBLE + 0.5::DOUBLE) + 1.0::DOUBLE)
       |      * (t.tfw * ${K1 + 1.0}::DOUBLE)
       |      / (t.tfw + ${K1}::DOUBLE) AS contrib
       |  FROM tfw t JOIN dft d USING (term)
       |       JOIN qt ON qt.term = t.term CROSS JOIN fstats s),
       |sc AS (
       |  SELECT query_id, doc_id,
       |    round(list_reduce(list(contrib ORDER BY term), (a, x) -> a + x),
       |          6) AS score
       |  FROM contrib${eligibleSql.fold("")(e => s" WHERE $e")}
       |  GROUP BY query_id, doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc)
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin
  }

  /** The SLOPPY-phrase replay: an increasing position chain per slot,
    * unrolled as one self-join per phrase slot over a `(doc_id, term,
    * pos)` CTE (parallel unnests zip in DuckDB) — ∃ p₁ < … < pₙ with
    * pⱼ matching slot j and pₙ − p₁ ≤ (n−1) + slop. ∃-any-chain here ≡
    * the operator's greedy-chain-per-anchor (greedy minimizes the
    * chain end, so an anchor admits a chain iff its greedy one fits).
    * Scoring terms are the phrase's DISTINCT tokens, stats full-corpus
    * — the phrase contract. Shared verbatim by the flat scan and the
    * positional index probe. */
  private[queries] def sloppyReplaySql(phrases: Seq[(Long, Seq[String])],
                                       k: Int, slop: Int,
                                       eligibleSql: Option[String] = None): String = {
    val qs = phrases.map { case (qid, p) => qid -> p.map(_.toLowerCase).distinct }
    val perQuery = phrases.map { case (qid, p0) =>
      val p = p0.map(_.toLowerCase)
      val n = p.size
      if (n == 1)
        s"""  SELECT DISTINCT ${qid}::BIGINT AS query_id, p1.doc_id
           |  FROM ps p1 WHERE p1.term = '${p.head}'""".stripMargin
      else {
        val joins = (2 to n).map { j =>
          s"  JOIN ps p$j ON p$j.doc_id = p1.doc_id AND p$j.term = " +
            s"'${p(j - 1)}' AND p$j.pos > p${j - 1}.pos"
        }.mkString("\n")
        s"""  SELECT DISTINCT ${qid}::BIGINT AS query_id, p1.doc_id
           |  FROM ps p1
           |$joins
           |  WHERE p1.term = '${p.head}'
           |    AND p$n.pos - p1.pos <= ${n - 1 + slop}""".stripMargin
      }
    }.mkString("\n  UNION ALL\n")
    val elig = "EXISTS (SELECT 1 FROM sp WHERE sp.query_id = " +
      "contrib.query_id AND sp.doc_id = contrib.doc_id)" +
      eligibleSql.fold("")(e => s" AND $e")
    s"""WITH tx AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |ps AS (SELECT doc_id, unnest(toks) AS term,
       |       unnest(range(1, len(toks) + 1)) AS pos FROM tx),
       |sp AS (
       |$perQuery),
       |${bm25Ctes(qs, eligibleSql = Some(elig))}
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin
  }

  /** The proximity replay: a sliding-window containment over the token
    * list (`list_has_all` on each `window`-length slice; a document
    * shorter than the window is checked whole — `least` keeps the
    * range ascending), restricting the BM25 ranking per (query, doc).
    * Shared verbatim by the flat scan, the positional index probe, and
    * the NL twins. */
  private[queries] def proximityReplaySql(qs: Seq[(Long, Seq[String])],
                                          k: Int, w: Int,
                                          eligibleSql: Option[String] = None): String = {
    val qsd = qs.map { case (qid, t) => qid -> t.map(_.toLowerCase).distinct }
    val qwValues = qsd.map { case (qid, t) =>
      s"(${qid}::BIGINT, [${t.map(x => s"'$x'").mkString(", ")}])" }
      .mkString(",\n  ")
    val elig = "EXISTS (SELECT 1 FROM px WHERE px.query_id = " +
      "contrib.query_id AND px.doc_id = contrib.doc_id)" +
      eligibleSql.fold("")(e => s" AND $e")
    s"""WITH qw(query_id, qterms) AS (VALUES
       |  $qwValues),
       |tx AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |px AS (
       |  SELECT q.query_id, t.doc_id FROM qw q JOIN tx t
       |    ON len(t.toks) > 0 AND len(list_filter(
       |         range(1, len(t.toks) - least($w, len(t.toks)) + 2),
       |         i -> list_has_all(
       |                list_slice(t.toks, i, i + least($w, len(t.toks)) - 1),
       |                q.qterms))) > 0),
       |${bm25Ctes(qsd, eligibleSql = Some(elig))}
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin
  }

  /** Full BM25 replay for any query set — shared with the NL twins. */
  private[queries] def bm25ReplaySql(qs: Seq[(Long, Seq[String])],
                                     k: Int,
                                     docsSrc: String = "documents",
                                     eligibleSql: Option[String] = None): String =
    s"""WITH ${bm25Ctes(qs, docsSrc, eligibleSql)}
       |SELECT query_id, doc_id, rank, score FROM lex
       |WHERE rank <= $k""".stripMargin

  /** The filtered probes' eligible-document restriction: documents of
    * a `lang` slice (the attribute the lexical indexes store). */
  private[queries] def langEligibleSql(lang: String): String =
    s"doc_id IN (SELECT doc_id FROM documents WHERE lang = '$lang')"

  /** The hybrid filtered probe's restriction: the embeddings' `label`
    * viewed through doc_id ≡ vec_id (what x104's lexical index stores). */
  private def labelEligibleSql(v: Int): String =
    s"doc_id IN (SELECT vec_id FROM embeddings WHERE label = $v)"

  /** The erase replays' surviving corpus. */
  private[queries] def docsExceptSql(keys: Seq[Long]): String =
    s"(SELECT * FROM documents WHERE doc_id NOT IN (${keys.mkString(", ")}))"
  private[queries] def docsExceptLangSql(lang: String): String =
    s"(SELECT * FROM documents WHERE lang <> '$lang')"

  /** The MMR replay: the SAME greedy the operator folds, unrolled as k
    * chained argmax CTEs (k is small by definition — a recursive CTE
    * would add nothing but fragility). Step 1 maximizes λ·rel (empty
    * selection → zero redundancy); step i anti-joins the selected set,
    * subtracts (1−λ)·max cosine to it, and picks the per-query argmax
    * with ties on doc_id. λ and (1−λ) interpolate from the SAME Scala
    * doubles the operator computes with (`Double.toString`
    * round-trips), relevance is the rounded BM25 score on both sides,
    * and `list_cosine_similarity` over widened floats is bit-equal to
    * the cosine kernel — so every objective compares identically. */
  private[queries] def mmrReplaySql(qs: Seq[(Long, Seq[String])], k: Int,
                                    depth: Int, lambda: Double): String =
    s"""WITH ${bm25Ctes(qs)},
       |cand AS MATERIALIZED (
       |  SELECT l.query_id, l.doc_id, l.score AS rel, e.embedding
       |  FROM (SELECT * FROM lex WHERE rank <= $depth) l
       |  JOIN embeddings e ON e.vec_id = l.doc_id),
       |${mmrGreedyTailSql(k, lambda)}""".stripMargin

  /** The unrolled greedy's pick/sel chain + final SELECT, shared by
    * every MMR replay — requires a `cand(query_id, doc_id, rel,
    * embedding)` CTE in scope. Every CTE of the chain (and `cand`) is
    * declared MATERIALIZED: step i reads sel(i−1) three times, and an
    * engine that inlines CTEs would copy the candidate replay (a full
    * BM25 or hybrid replay) ~3^(k−1) times. */
  private def mmrGreedyTailSql(k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    val steps = (2 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id,
         |    $lam::DOUBLE * c.rel - $oneMinus::DOUBLE *
         |      max(list_cosine_similarity(c.embedding::DOUBLE[],
         |                                 s.embedding::DOUBLE[])) AS obj
         |  FROM cand c
         |  JOIN sel${i - 1} t ON t.query_id = c.query_id
         |  JOIN cand s ON s.query_id = t.query_id AND s.doc_id = t.doc_id
         |  LEFT JOIN sel${i - 1} x
         |    ON x.query_id = c.query_id AND x.doc_id = c.doc_id
         |  WHERE x.doc_id IS NULL
         |  GROUP BY c.query_id, c.doc_id, c.rel),
         |pick$i AS MATERIALIZED (
         |  SELECT query_id, doc_id, $i::BIGINT AS rank, obj FROM p$i
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY obj DESC, doc_id ASC) = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""pick1 AS MATERIALIZED (
       |  SELECT query_id, doc_id, 1::BIGINT AS rank,
       |         $lam::DOUBLE * rel AS obj
       |  FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY $lam::DOUBLE * rel DESC, doc_id ASC) = 1),
       |sel1 AS MATERIALIZED (SELECT * FROM pick1),
       |$steps
       |SELECT query_id, doc_id, rank, round(obj, 6) AS mmr
       |FROM sel$k""".stripMargin
  }

  /** The hybrid-MMR replay: candidates are the at-rest hybrid probe's
    * fused top-`depth` (both arms' proven replays, RRF score as the
    * relevance — bit-deterministic, no rounding), diversified by the
    * same unrolled greedy. */
  private[queries] def mmrHybridReplaySql(qs: Seq[(Long, Seq[String])],
                                          k: Int, depth: Int,
                                          nprobe: Int,
                                          lambda: Double): String =
    s"""WITH hsr AS (
       |${hybridServeReplaySql(qs, depth, depth, nprobe)}
       |),
       |cand AS MATERIALIZED (
       |  SELECT h.query_id, h.doc_id, h.score AS rel, e.embedding
       |  FROM hsr h JOIN embeddings e ON e.vec_id = h.doc_id),
       |${mmrGreedyTailSql(k, lambda)}""".stripMargin

  /** The FIELDED hybrid replay: the BM25F replay (rank ≤ depth) as the
    * lexical arm, the by-id IVF probe replay as the vector arm, the
    * shared RRF tail. */
  private[queries] def hybridServeFieldedReplaySql(qs: Seq[(Long, Seq[String])],
                                                   k: Int, depth: Int,
                                                   nprobe: Int,
                                                   weights: Seq[Double]): String = {
    val idPred = s"vec_id IN (${qs.map(_._1).mkString(", ")})"
    s"""WITH lexr AS (
       |${bm25fReplaySql(qs, depth, weights)}
       |),
       |vecr AS (
       |${VectorQueries.ivfReplaySqlFor(idPred, nprobe, depth, None)}
       |),
       |${fuseTailSql(k)}""".stripMargin
  }

  /** The literal-query hybrid-MMR replay: x114's literal probe replay
    * at `depth` as the candidate CTE, same unrolled greedy. */
  private[queries] def mmrHybridLitReplaySql(k: Int, depth: Int,
                                             nprobe: Int,
                                             lambda: Double): String =
    s"""WITH hsr AS (
       |${hybridServeLiteralReplaySql(LitHybridTerms, depth, depth, nprobe)}
       |),
       |cand AS MATERIALIZED (
       |  SELECT h.query_id, h.doc_id, h.score AS rel, e.embedding
       |  FROM hsr h JOIN embeddings e ON e.vec_id = h.doc_id),
       |${mmrGreedyTailSql(k, lambda)}""".stripMargin

  /** The inverted index's logical content `(term, doc_id, tf, dl)`
    * replayed from the corpus — the lexical maintenance verbs'
    * content-invariance oracle (compact/vacuum leave it untouched;
    * erase removes exactly the forgotten documents' rows). */
  private[queries] def postingsReplaySql(docsSrc: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM $docsSrc),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id)
       |SELECT t.term, t.doc_id, t.tf, d.dl
       |FROM tf t JOIN dl d USING (doc_id)""".stripMargin

  /** Full hybrid (BM25 ∪ cosine, RRF) replay for any query set. */
  private[queries] def hybridReplaySql(qs: Seq[(Long, Seq[String])],
                                       k: Int, depth: Int): String =
    s"""WITH ${bm25Ctes(qs)},
       |vec AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
       |                                      c.embedding::DOUBLE[]) DESC,
       |               c.vec_id ASC) AS rank
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id IN (SELECT DISTINCT query_id FROM qt)),
       |fused AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |    coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    coalesce(1.0::DOUBLE / (${RrfC.toDouble}::DOUBLE + l.rank::DOUBLE),
       |             0.0::DOUBLE)
       |    + coalesce(1.0::DOUBLE / (${RrfC.toDouble}::DOUBLE + v.rank::DOUBLE),
       |               0.0::DOUBLE) AS score
       |  FROM (SELECT * FROM lex WHERE rank <= $depth) l
       |  FULL OUTER JOIN (SELECT * FROM vec WHERE rank <= $depth) v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       |SELECT query_id, doc_id, rank, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM fused)
       |WHERE rank <= $k""".stripMargin

  /** The at-rest hybrid replay: both arms' existing replays (BM25 and
    * the IVF Lloyd replay with its probed-cell candidate restriction)
    * as nested-WITH sub-CTEs, RRF-fused — approximation is no obstacle
    * because every choice in both arms is deterministic and already
    * oracle-proven separately. The vector arm self-excludes (the
    * fetched-by-id serving semantics; the candidate CTE already does). */
  private def hybridServeReplaySql(qs: Seq[(Long, Seq[String])],
                                   k: Int, depth: Int, nprobe: Int,
                                   filterLabel: Option[Int] = None): String = {
    val idPred = s"vec_id IN (${qs.map(_._1).mkString(", ")})"
    s"""WITH lexr AS (
       |${bm25ReplaySql(qs, depth,
          eligibleSql = filterLabel.map(labelEligibleSql))}
       |),
       |vecr AS (
       |${VectorQueries.ivfReplaySqlFor(idPred, nprobe, depth,
          filterLabel.map(VectorQueries.labelCandFilter))}
       |),
       |${fuseTailSql(k)}""".stripMargin
  }

  /** The fused tail shared by every at-rest hybrid replay: RRF over a
    * `lexr(query_id, doc_id, rank)` and a `vecr(query_id, neighbor_id,
    * rank)` CTE pair, final rank ≤ k. */
  private def fuseTailSql(k: Int): String =
    s"""hfused AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |    coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    coalesce(1.0::DOUBLE / (${RrfC.toDouble}::DOUBLE + l.rank::DOUBLE),
       |             0.0::DOUBLE)
       |    + coalesce(1.0::DOUBLE / (${RrfC.toDouble}::DOUBLE + v.rank::DOUBLE),
       |               0.0::DOUBLE) AS score
       |  FROM lexr l
       |  FULL OUTER JOIN (SELECT query_id, neighbor_id AS doc_id, rank
       |                   FROM vecr) v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       |SELECT query_id, doc_id, rank, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM hfused)
       |WHERE rank <= $k""".stripMargin

  /** The exact-hybrid reference replay (x118/x119's truth): flat BM25
    * at `depth` RRF-fused with exact self-excluding cosine at `depth`
    * — the same fusion with the approximate vector arm replaced by the
    * exact one. */
  private def hybridExactReplaySql(qs: Seq[(Long, Seq[String])],
                                   k: Int, depth: Int): String = {
    val ids = qs.map(_._1).mkString(", ")
    s"""WITH lexr AS (
       |${bm25ReplaySql(qs, depth)}
       |),
       |vecr AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
       |                                        c.embedding::DOUBLE[]) DESC,
       |                 c.vec_id ASC) AS rank
       |    FROM embeddings q CROSS JOIN embeddings c
       |    WHERE q.vec_id IN ($ids) AND c.vec_id <> q.vec_id)
       |  WHERE rank <= $depth
       |),
       |${fuseTailSql(k)}""".stripMargin
  }

  /** recall@k / nDCG@k of the at-rest hybrid probe against the
    * exact-hybrid reference — both rankings' replays nested as CTEs
    * (each already oracle-proven standalone), metric tail as
    * [[VectorQueries.recallReplaySql]]/`ndcgReplaySql` over doc_id. */
  private[queries] def hybridEvalReplaySql(qs: Seq[(Long, Seq[String])],
                                           k: Int, depth: Int, nprobe: Int,
                                           ndcg: Boolean): String =
    evalMetricSql(hybridServeReplaySql(qs, k, depth, nprobe),
      hybridExactReplaySql(qs, k, depth), ndcg)

  /** x141/x142's oracle: the FIELDED hybrid probe's replay scored
    * against the exact FIELDED-hybrid reference (BM25F arm replay +
    * exact self-excluding cosine), same metric tail. */
  private[queries] def hybridEvalFieldedReplaySql(qs: Seq[(Long, Seq[String])],
                                                  k: Int, depth: Int,
                                                  nprobe: Int,
                                                  weights: Seq[Double],
                                                  ndcg: Boolean): String = {
    val ids = qs.map(_._1).mkString(", ")
    val truth =
      s"""WITH lexr AS (
         |${bm25fReplaySql(qs, depth, weights)}
         |),
         |vecr AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
         |                                        c.embedding::DOUBLE[]) DESC,
         |                 c.vec_id ASC) AS rank
         |    FROM embeddings q CROSS JOIN embeddings c
         |    WHERE q.vec_id IN ($ids) AND c.vec_id <> q.vec_id)
         |  WHERE rank <= $depth
         |),
         |${fuseTailSql(k)}""".stripMargin
    evalMetricSql(
      hybridServeFieldedReplaySql(qs, k, depth, nprobe, weights), truth,
      ndcg)
  }

  private def evalMetricSql(proberSql: String, truthSql: String,
                            ndcg: Boolean): String = {
    val head =
      s"""WITH prober AS (
         |$proberSql
         |),
         |truthr AS (
         |$truthSql
         |)""".stripMargin
    if (!ndcg)
      s"""$head,
         |hits AS (
         |  SELECT t.query_id, count(*)::BIGINT AS n_hit
         |  FROM truthr t JOIN prober r
         |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
         |  GROUP BY t.query_id),
         |denom AS (SELECT query_id, count(*)::BIGINT AS n_truth
         |          FROM truthr GROUP BY query_id)
         |SELECT d.query_id,
         |  coalesce(h.n_hit, 0)::DOUBLE / d.n_truth::DOUBLE AS recall
         |FROM denom d LEFT JOIN hits h USING (query_id)""".stripMargin
    else
      s"""$head,
         |rel AS (
         |  SELECT r.query_id, r.rank
         |  FROM prober r JOIN truthr t
         |    ON t.query_id = r.query_id AND t.doc_id = r.doc_id),
         |dcg AS (
         |  SELECT query_id,
         |    list_reduce(list(1.0::DOUBLE / log2(rank::DOUBLE + 1.0::DOUBLE)
         |                     ORDER BY rank), (a, x) -> a + x) AS dcg
         |  FROM rel GROUP BY query_id),
         |idcg AS (
         |  SELECT query_id,
         |    list_reduce(list_transform(generate_series(1, count(*)),
         |        i -> 1.0::DOUBLE / log2(i::DOUBLE + 1.0::DOUBLE)),
         |      (a, x) -> a + x) AS idcg
         |  FROM truthr GROUP BY query_id)
         |SELECT i.query_id,
         |  round(coalesce(d.dcg, 0.0::DOUBLE) / i.idcg, 6) AS ndcg
         |FROM idcg i LEFT JOIN dcg d USING (query_id)""".stripMargin
  }

  /** The literal-query hybrid replay: the lexical arm is the plain BM25
    * replay for the spoken terms under query_id -1; the vector arm is
    * the LITERAL-vector IVF probe replay (same -1, candidates NOT
    * self-excluded — [[VectorQueries.ivfLiteralReplaySql]] already
    * carries both properties); RRF-fused by the shared tail. */
  /** Shared verbatim by x114 and its NL twin (same constants, so the
    * driver interleaves the pair as bench twins). */
  private[queries] lazy val litHybridReplaySql: String =
    hybridServeLiteralReplaySql(LitHybridTerms, K, Depth, IvfNProbe)

  private def hybridServeLiteralReplaySql(terms: Seq[String], k: Int,
                                          depth: Int, nprobe: Int): String =
    s"""WITH lexr AS (
       |${bm25ReplaySql(Seq(-1L -> terms), depth)}
       |),
       |vecr AS (
       |${VectorQueries.ivfLiteralReplaySql(depth, nprobe)}
       |),
       |${fuseTailSql(k)}""".stripMargin

  /** The FILTERED literal-hybrid replay: both arms' proven filtered
    * replays (the label-restricted BM25 candidates and the
    * label-restricted literal-vector IVF probe), RRF-fused. Shared by
    * x124 and its NL twin. */
  private[queries] lazy val litHybridFilteredReplaySql: String =
    s"""WITH lexr AS (
       |${bm25ReplaySql(Seq(-1L -> LitHybridTerms), Depth,
          eligibleSql = Some(labelEligibleSql(VectorQueries.FilterLabel)))}
       |),
       |vecr AS (
       |${VectorQueries.ivfLiteralReplaySql(Depth, IvfNProbe,
          Some(VectorQueries.labelCandFilter(VectorQueries.FilterLabel)))}
       |),
       |${fuseTailSql(K)}""".stripMargin

  override val oracleSql: Map[String, String] = Map(
    "x98_bm25_topk"  -> bm25ReplaySql(BmQueries, K),
    "x99_hybrid_rrf" -> hybridReplaySql(BmQueries, K, Depth),
    // identical string to x98's — the index stores tf/dl/N/Σdl as exact
    // integers and scores through the same tail, so the replay is the
    // same SQL (and the driver's twin grouping interleaves the pair)
    "x100_lex_index_search" -> bm25ReplaySql(BmQueries, K),
    "x101_hybrid_serve" ->
      hybridServeReplaySql(BmQueries, K, Depth, IvfNProbe),

    // Filtered serving: candidates restricted to the slice BEFORE the
    // rank (exactly what the pushed predicate / eligible semi-join
    // does), stats and df full-corpus. x103 shares x102's string —
    // the at-rest probe must hash-match the filtered flat scan.
    "x102_bm25_filtered" ->
      bm25ReplaySql(BmQueries, K, eligibleSql = Some(langEligibleSql(FilterLang))),
    "x103_lex_search_filtered" ->
      bm25ReplaySql(BmQueries, K, eligibleSql = Some(langEligibleSql(FilterLang))),

    // Both hybrid arms filtered on the stored label slice, then fused.
    "x104_hybrid_serve_filtered" ->
      hybridServeReplaySql(BmQueries, K, Depth, IvfNProbe,
        filterLabel = Some(VectorQueries.FilterLabel)),

    // Content invariance: the maintenance verbs leave the probe
    // hash-identical to the flat replay — x98's exact string, so the
    // driver interleaves all of them as bench twins.
    "x105_lex_compact" -> bm25ReplaySql(BmQueries, K),
    "x106_lex_vacuum" -> bm25ReplaySql(BmQueries, K),

    // Post-erase probes replay over the SURVIVING corpus — stats, df,
    // avgdl all recompute from the survivors, which is exactly the
    // atomic stats adjustment the erase published.
    "x107_lex_erase" ->
      bm25ReplaySql(BmQueries, K, docsSrc = docsExceptSql(LexEraseKeys)),
    "x109_lex_erase_where" ->
      bm25ReplaySql(BmQueries, K, docsSrc = docsExceptLangSql(LexEraseLang)),

    // Sync equivalence + no-op are Spark-side constructions (two index
    // builds compared) — the x60 TRUE-literal pattern makes the hash
    // gate prove both booleans.
    "x108_lex_sync" ->
      "SELECT TRUE AS synced_probe_equal, TRUE AS resync_noop",

    // Literal-query hybrid: fresh embedding + keywords, both arms'
    // replays already proven separately, fused by the shared tail.
    "x114_hybrid_serve_literal" -> litHybridReplaySql,
    "x124_hybrid_serve_lit_filtered" -> litHybridFilteredReplaySql,

    // Phrase retrieval: flat scan and positional-index probe share the
    // replay string (contiguous-run containment restricting the BM25
    // ranking) — interleaved bench twins.
    "x115_bm25_phrase" -> phraseReplaySql(PhraseQueries, K),
    "x116_lex_phrase_search" -> phraseReplaySql(PhraseQueries, K),

    // BM25F: weighted-aggregate scoring over the derived title/body
    // fields, every weighted sum a pinned field-order fold.
    "x129_bm25f" -> bm25fReplaySql(BmQueries, K, FieldWeights.map(_._2)),
    "x130_lexf_search" -> bm25fReplaySql(BmQueries, K, FieldWeights.map(_._2)),

    // Fielded × positional: the phrase chain over the NAMED field's
    // stream restricting the BM25F ranking; x144/x146 share x143/x145's
    // strings (fielded positional probe ≡ flat fielded scan).
    "x143_bm25f_phrase" -> bm25fPhraseFieldedReplaySql(TitlePhraseQueries,
      K, FieldWeights.map(_._2), fieldIdx = 0, slop = 0),
    "x144_lexf_phrase_search" -> bm25fPhraseFieldedReplaySql(
      TitlePhraseQueries, K, FieldWeights.map(_._2), fieldIdx = 0, slop = 0),
    "x147_bm25f_phrase_filtered" -> bm25fPhraseFieldedReplaySql(
      TitlePhraseQueries, K, FieldWeights.map(_._2), fieldIdx = 0,
      slop = 0, eligibleSql = Some(langEligibleSql(FilterLang))),
    "x148_lexf_phrase_filtered" -> bm25fPhraseFieldedReplaySql(
      TitlePhraseQueries, K, FieldWeights.map(_._2), fieldIdx = 0,
      slop = 0, eligibleSql = Some(langEligibleSql(FilterLang))),
    "x145_bm25f_sloppy" -> bm25fPhraseFieldedReplaySql(SloppyQueries, K,
      FieldWeights.map(_._2), fieldIdx = 1, slop = Slop),
    "x146_lexf_sloppy_search" -> bm25fPhraseFieldedReplaySql(SloppyQueries,
      K, FieldWeights.map(_._2), fieldIdx = 1, slop = Slop),

    // FULL Robertson–Zaragoza BM25F: per-field length normalization,
    // then the b = 0 saturation tail; x140 shares x139's string (the
    // fielded probe is score-identical to the flat scan).
    "x139_bm25f_full" -> bm25fFullReplaySql(BmQueries, K,
      FieldParamsFull.map(_._2), FieldParamsFull.map(_._3)),
    "x140_lexf_search_full" -> bm25fFullReplaySql(BmQueries, K,
      FieldParamsFull.map(_._2), FieldParamsFull.map(_._3)),

    // Sloppy pair: ordered-chain containment restricting the BM25
    // ranking; x128 shares x127's string (positional probe ≡ flat
    // scan — interleaved twins).
    "x127_bm25_sloppy" -> sloppyReplaySql(SloppyQueries, K, Slop),
    "x128_lex_sloppy_search" -> sloppyReplaySql(SloppyQueries, K, Slop),
    "x132_bm25_sloppy_filtered" -> sloppyReplaySql(SloppyQueries, K, Slop,
      eligibleSql = Some(langEligibleSql(FilterLang))),
    "x133_lex_sloppy_filtered" -> sloppyReplaySql(SloppyQueries, K, Slop,
      eligibleSql = Some(langEligibleSql(FilterLang))),
    "x134_bm25f_filtered" -> bm25fReplaySql(BmQueries, K,
      FieldWeights.map(_._2), eligibleSql = Some(langEligibleSql(FilterLang))),
    "x135_lexf_search_filtered" -> bm25fReplaySql(BmQueries, K,
      FieldWeights.map(_._2), eligibleSql = Some(langEligibleSql(FilterLang))),

    // Proximity pair: window containment restricting the BM25 ranking;
    // x123 shares x122's string.
    "x122_bm25_proximity" ->
      proximityReplaySql(ProxQueries, K, ProxWindow),
    "x123_lex_proximity_search" ->
      proximityReplaySql(ProxQueries, K, ProxWindow),
    "x125_bm25_proximity_filtered" ->
      proximityReplaySql(ProxQueries, K, ProxWindow,
        eligibleSql = Some(langEligibleSql(FilterLang))),
    "x126_lex_proximity_filtered" ->
      proximityReplaySql(ProxQueries, K, ProxWindow,
        eligibleSql = Some(langEligibleSql(FilterLang))),

    // Filtered phrase pair: the phrase containment AND the lang slice
    // compose in the eligibility; x121 shares x120's string.
    "x120_bm25_phrase_filtered" ->
      phraseReplaySql(PhraseQueries, K,
        eligibleSql = Some(langEligibleSql(FilterLang))),
    "x121_lex_phrase_filtered" ->
      phraseReplaySql(PhraseQueries, K,
        eligibleSql = Some(langEligibleSql(FilterLang))),

    // The unrolled greedy — every objective bit-identical to the
    // operator's per-query fold. x117 shares the string: the at-rest
    // candidates and fetched embeddings are identical inputs.
    "x112_mmr_docs" -> mmrReplaySql(BmQueries, K, MmrDepth, MmrLambda),
    "x117_mmr_serve" -> mmrReplaySql(BmQueries, K, MmrDepth, MmrLambda),

    // The hybrid-MMR: the fused ranking's replay as the candidate set,
    // the same unrolled greedy on the RRF scores.
    "x131_mmr_hybrid_serve" ->
      mmrHybridReplaySql(BmQueries, K, MmrDepth, IvfNProbe, MmrLambda),
    "x136_mmr_hybrid_lit" ->
      mmrHybridLitReplaySql(K, MmrDepth, IvfNProbe, MmrLambda),

    // The fielded hybrid: BM25F arm + by-id vector arm, fused.
    "x137_hybrid_serve_fielded" ->
      hybridServeFieldedReplaySql(BmQueries, K, Depth, IvfNProbe,
        FieldWeights.map(_._2)),

    // Offline eval of the fused at-rest ranking vs the exact-hybrid
    // reference (both rankings' replays nested as proven CTEs).
    "x118_hybrid_recall" ->
      hybridEvalReplaySql(BmQueries, K, Depth, HybridEvalNProbe, ndcg = false),
    "x119_hybrid_ndcg" ->
      hybridEvalReplaySql(BmQueries, K, Depth, HybridEvalNProbe, ndcg = true),

    // Offline eval of the FIELDED hybrid vs its exact reference (the
    // BM25F replay fused with exact cosine, both already proven).
    "x141_hybrid_recall_fielded" ->
      hybridEvalFieldedReplaySql(BmQueries, K, Depth, HybridEvalNProbe,
        FieldWeights.map(_._2), ndcg = false),
    "x142_hybrid_ndcg_fielded" ->
      hybridEvalFieldedReplaySql(BmQueries, K, Depth, HybridEvalNProbe,
        FieldWeights.map(_._2), ndcg = true),

    // Footer-vs-scan equality is a Spark-side construction (bucket ids
    // are a hash) — the TRUE-literal certificate.
    "x113_lex_bucket_stats" -> "SELECT TRUE AS footer_equals_scan",

    // The df-regime walk (fresh/legacy/mixed manifests) is a Spark-side
    // construction over index files — the TRUE-literal certificate.
    "x138_lex_df_health" -> "SELECT TRUE AS df_health_certified")

  /** The spoken lexical-profile summary replay: the auto-derived bucket
    * count is max(16, ⌊√vocabulary⌋) — IEEE sqrt is correctly rounded
    * in both engines, so the floor agrees — and postings/doc totals
    * recompute from the corpus. Valid for auto-built indexes (the
    * fixture is). */
  private[queries] def lexProfileReplaySql(docsSrc: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM $docsSrc),
       |tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term),
       |v AS (SELECT count(DISTINCT term)::BIGINT AS nterms,
       |             count(*)::BIGINT AS n_postings FROM tf),
       |d AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf)
       |SELECT GREATEST(16, CAST(FLOOR(SQRT(nterms::DOUBLE)) AS BIGINT))
       |         AS buckets,
       |       n_postings, n_docs
       |FROM v, d""".stripMargin
}
