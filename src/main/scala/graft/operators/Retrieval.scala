package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical and hybrid retrieval over the `documents` corpus — the
  * serving surface that pairs with the vector stack: BM25 keyword
  * scoring with a partial top-k, and reciprocal-rank fusion of a
  * lexical and a vector ranking (the standard RAG "hybrid search"
  * shape: neither signal alone ranks well; rank-space fusion needs no
  * score calibration between them).
  *
  * Determinism contract (what makes BM25 oracle-replayable in DuckDB):
  * every BM25 input is an exact integer in double precision — tf, dl,
  * df, N are counts, and avgdl = Σdl/N is one correctly-rounded IEEE
  * division of two exact integers — so both engines start from
  * bit-identical operands. The only library call is `ln` (up to 1 ulp
  * apart across engines), absorbed by rounding scores to 1e-6 before
  * ranking (x39's rounding-before-rank technique). The per-document
  * score folds term contributions LEFT-ASSOCIATIVELY IN TERM ORDER
  * (`aggregate(array_sort(...))` here ≡ `list_reduce(list(... ORDER BY
  * term))` in the oracle), so double addition order — the one thing a
  * distributed aggregation would not pin — is fixed on both sides.
  * RRF needs none of this: 1/(c+rank) on integer ranks is a single
  * correctly-rounded division and one exact-operand addition.
  */
object Retrieval {

  /** Top-k documents per query for one [[LexQuery]], flat-scan form —
    * the one flat compiler: it builds the tokenize-and-eligibility row,
    * the explode → broadcast-prune → partial-aggregate tf, and the stats
    * row once; the match contributes the containment kernel, the
    * scoring the fold.
    *
    * Scale shape — the only FULL-corpus work is map-side passes over
    * the scan:
    *  - the broadcast query-term set prunes exploded tokens BEFORE the
    *    (doc, term) aggregation, so only matching tokens shuffle; the
    *    first shuffle of the whole query is the df window over the
    *    matching postings;
    *  - doc length rides the same row (`size` of the same token
    *    array) — no doc-keyed length join, no second aggregation branch;
    *  - corpus stats (N, Σdl — exact integers) reduce map-side to a
    *    1-row frame that broadcast-cross-joins into the score
    *    expression: no driver action, no literal baking, and avgdl is
    *    the same one IEEE division either way;
    *  - a phrase/sloppy/window match is one bounded crossJoin of the
    *    tokenized rows with the (tiny, broadcast) query batch, filtered
    *    by a codegen'd containment kernel; the resulting (query, doc)
    *    pairs semi-join the scoring tail after the df window;
    *  - ranking is the shared partial top-k aggregator — map-side
    *    partials keep q×k×partitions rows on the wire, never the
    *    scored set.
    *
    * BM25F (simplified; Robertson/Zaragoza) scores the WEIGHTED
    * aggregates: tf′ = Σ_f w_f·tf_f, dl′ = Σ_f w_f·dl_f, avgdl′ =
    * (Σ_f w_f·Σ_d dl_f)/N, one shared saturation — a term spamming one
    * field can't restart the tf curve per field. Full BM25F normalizes
    * length inside each field, tf̃_f = tf_f / (1 − b_f + b_f·dl_f/avgdl_f),
    * folds tf̄ = Σ_f w_f·tf̃_f and saturates against k1 alone (the
    * scoring tail at b = 0, whose dl term is exactly 0). For both, df(t)
    * = documents containing t in ANY field and N = documents with ≥1
    * token in any field; every weighted sum folds left-associatively in
    * field order over exact integer operands, so the oracle accumulates
    * the identical doubles.
    *
    * @param docs    corpus `(doc_id, text, …)` — or the scored field
    *                columns for a fielded scoring; `doc_id` must be
    *                UNIQUE (the corpus's primary key — true of every
    *                corpus here). All per-document statistics (tf, dl,
    *                df) compute in-row from each document's own line,
    *                so duplicate ids would emit duplicate postings —
    *                double-counted df and score contributions — rather
    *                than merging counts as a keyed aggregation would.
    * @param queries small frame `(query_id, terms | phrase)` per
    *                [[LexQuery]]'s column contract — broadcast
    * @param pred    optional DOCUMENT filter over `docs`' columns
    *                ("matching spark where lang = 'en'"): only matching
    *                documents rank — exactly k matching results, never
    *                the under-returning post-filter — while document
    *                frequency and corpus stats stay FULL-corpus (the
    *                scoring function is unchanged; the candidate set is
    *                filtered — [[IvfIndex.search]]'s `pred` contract)
    * @return (query_id, doc_id, rank, score) with rank 1..k by
    *         (score desc, doc_id asc), scores rounded to 1e-6 before
    *         ranking; documents sharing no term with a query score no
    *         row (classic BM25 — a no-overlap document is not a
    *         result), and an empty corpus returns an empty result
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               q: LexQuery = LexQuery(),
               pred: Option[Column] = None): DataFrame = {
    import LexQuery._
    // the eligibility bit RIDES the document rows from the first select
    // (evaluated beside the tokenize — attributes and text live on the
    // same row), aggregates with the tf (constant per document), and
    // filters AFTER the df window in the shared tail. Zero extra scans,
    // joins, or exchanges versus the unfiltered query — and pushing the
    // predicate into the scan instead would be WRONG, not just slower:
    // dropping non-matching documents before the window would shrink
    // df/N to the slice, silently changing every score.
    val elig = coalesce(pred.getOrElse(lit(true)), lit(false)).as("elig")
    // the phrase batch, tokens lowercased in array order
    def phrases = queries.select(col("query_id").as("query_id"),
      transform(col("phrase"), t => lower(t)).as("phrase"))
    // the query-term frame (query_id, term) of a terms-column batch
    def spokenTerms(qs: DataFrame) = qs.select(col("query_id").as("query_id"),
      explode(col("terms")).as("term"))
      .select(col("query_id"), lower(col("term")).as("term"))
    // a Phrase or Sloppy match's containment of `phrase` in `toks`
    def phraseKernel = q.matching match {
      case Sloppy(slop, _) => sloppyContains(col("toks"), col("phrase"), slop)
      case _               => phraseContains(col("toks"), col("phrase"))
    }
    q.scoring match {
      case Bm25(k1, b) =>
        val toksAll = docs.select(col("doc_id").as("doc_id"),
          Dedup.tokens(col("text")).as("toks"), elig)
        // Shape note (round 22, measured): the containment is its own
        // bounded crossJoin pass + eligPairs semi-join, and the tf is the
        // explode → broadcast-join → map-side-partial groupBy form,
        // DELIBERATELY. Round 21 replaced it with an in-row matched-token
        // kernel (filter(toks, array_contains(qset, t)) + per-row tf
        // pairs) to "remove the (doc, term) exchange", and folded the
        // containment into that matched pass; at sf1/32c the kernel
        // measured 1.5-2.2× SLOWER across the whole family (x98
        // 3.4→7.5s, x102 3.9→6.4s, x122 6.1→9.4s, x115 5.1→7.3s —
        // numbers in OPTIMIZATION_r22.md) and the sf0.1 suite bench
        // agreed (x-twins 0.63-0.83×). The exploded tokens are loop
        // iterations inside one codegen stage (generate → broadcast-hash
        // probe → partial agg), the partial aggregation already keeps
        // the corpus token stream OFF the wire (only matched (doc, term)
        // partials shuffle), and the in-row form's per-row array
        // allocations bought nothing structural.
        def restrictTo(qs: DataFrame, contains: Column) =
          Some(toksAll.crossJoin(broadcast(qs)).filter(contains)
            .select("query_id", "doc_id"))
        val (qTerms, eligPairs) = q.matching match {
          case Terms => (spokenTerms(queries), None)
          case Phrase(_) | Sloppy(_, _) =>
            val ph = phrases
            (ph.select(col("query_id"), explode(col("phrase")).as("term"))
              .distinct(), restrictTo(ph, phraseKernel))
          case Window(w) =>
            val qs = queries.select(col("query_id").as("query_id"),
              array_distinct(transform(col("terms"), t => lower(t)))
                .as("qterms"))
            (qs.select(col("query_id"), explode(col("qterms")).as("term"))
              .distinct(),
              restrictTo(qs, windowContains(col("toks"), col("qterms"), w)))
        }
        // doc length rides every exploded token row — exact per-group, so
        // the tf aggregation carries it without a doc-keyed join
        val exploded = toksAll.select(col("doc_id"),
          size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"), col("elig"))
        // prune to query terms BEFORE aggregating: the first shuffle
        // carries only matching tokens, never the corpus token stream
        val tfQ = exploded
          .join(broadcast(qTerms.select("term").distinct()), Seq("term"))
          .groupBy("doc_id", "term")
          .agg(count("*").as("tf"), max("dl").as("dl"), max("elig").as("elig"))
        // corpus stats: exact integers, map-side reduce to one broadcast
        // row — over the FULL corpus regardless of the filter. N counts
        // documents with ≥1 token — the convention the oracle's
        // doc-length CTE implies and the one a persisted index's erase
        // can keep consistent (LexIndex stores the same N)
        val stats = toksAll.filter(size(col("toks")) > 0)
          .agg(count("*").as("n_docs"),
            coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("sum_dl"))
        scoreAndRank(tfQ, qTerms, stats, k, k1, b, eligPairs = eligPairs)

      case fielded: FieldedScoring =>
        val fields = fielded.fields
        // a fielded phrase is a question about ONE token stream: the
        // named field's run, its (query, doc) pairs restricting the tail
        val (termQueries, eligPairs) = q.matching match {
          case Terms => (queries, None)
          case _ => // Phrase or Sloppy: LexQuery rejects a window over fields
            val ph = phrases
            (ph.select(col("query_id"), array_distinct(col("phrase")).as("terms")),
              Some(docs.select(col("doc_id").as("doc_id"),
                  Dedup.tokensNs(col(q.phraseField.get)).as("toks"))
                .crossJoin(broadcast(ph))
                .filter(phraseKernel)
                .select("query_id", "doc_id")))
        }
        val toksAll = docs.select(col("doc_id").as("doc_id") +: elig +:
          fields.zipWithIndex.map { case (c, i) =>
            Dedup.tokensNs(col(c)).as(s"toks_$i") }: _*)
        val anyTok = fields.indices
          .map(i => size(col(s"toks_$i"))).reduce(_ + _) > 0
        val qTerms = spokenTerms(termQueries)
        val qDistinct = qTerms.select("term").distinct()
        // Shape note (round 22, measured): BM25F is the per-field explode
        // -> broadcast-prune -> (doc, term, field) union aggregate form,
        // DELIBERATELY. Round 21 replaced it with an in-row per-field
        // matched-array kernel (one matched pass, field-order fold in
        // row) which measured faster at sf0.1 (x129 1.14x) - but at
        // sf1/32c the kernel is 1.7-3x SLOWER (x129 6.7->11.4s, x139
        // 4.8->15.0s, x143 4.8->5.4s; OPTIMIZATION_r22.md): the sf0.1 win
        // was fixed stage/scheduling overhead, while the per-row
        // size(filter(...)) folds scale with matched-tokens^2 per
        // document and the explode path scales linearly.
        def perField(len: Int => Column, lenName: String) =
          fields.indices.map { i =>
            toksAll.select(col("doc_id"), lit(i).as("fi"),
                col("elig"), len(i).as(lenName),
                explode(col(s"toks_$i")).as("term"))
              .join(broadcast(qDistinct), Seq("term"))
              .groupBy("doc_id", "term", "fi")
              .agg(count("*").as("tf"), max(lenName).as(lenName),
                max("elig").as("elig"))
          }.reduce(_.unionByName(_))
        // corpus stats: exact per-field integer sums reduce map-side to
        // one row — N (any-field docs) + per-field Σdl
        val statCols = count("*").as("n_docs") +:
          fields.indices.map(i =>
            coalesce(sum(size(col(s"toks_$i")).cast("long")), lit(0L))
              .as(s"s_$i"))
        val rawStats = toksAll.filter(anyTok).agg(statCols.head, statCols.tail: _*)
        fielded match {
          case Bm25F(ws, k1, b) =>
            // weighted doc length: a literal field-order fold — exact
            // integer operands, one rounding per field term
            val dlw = ws.zipWithIndex.foldLeft(lit(0.0)) {
              case (acc, ((_, w), i)) =>
                acc + lit(w) * size(col(s"toks_$i")).cast("double") }
            // weighted tf: fold the present (field, tf) pairs in field
            // order — absent fields contribute exactly nothing (0 + x = x
            // in IEEE for the positive products here, so the oracle's
            // coalesce-style two-term sum is bit-identical)
            val weightArr = array(ws.map(f => lit(f._2)): _*)
            val tfQ = perField(_ => dlw, "dlw").groupBy("doc_id", "term")
              .agg(aggregate(
                  array_sort(collect_list(struct(col("fi"), col("tf")))),
                  lit(0.0),
                  (acc, x) => acc + element_at(weightArr, x.getField("fi") + 1) *
                    x.getField("tf").cast("double")).as("tf"),
                max("dlw").as("dl"), max("elig").as("elig"))
            val sumDlW = ws.zipWithIndex.foldLeft(lit(0.0)) {
              case (acc, ((_, w), i)) => acc + lit(w) * col(s"s_$i").cast("double") }
            val stats = rawStats.select(col("n_docs"), sumDlW.as("sum_dl"))
            scoreAndRank(tfQ, qTerms, stats, k, k1, b, eligPairs = eligPairs)
          case Bm25FFull(ps, k1) =>
            val wArr = array(ps.map(f => lit(f._2)): _*)
            val bArr = array(ps.map(f => lit(f._3)): _*)
            val sArr = array(ps.indices.map(i => col(s"s_$i")): _*)
            // tf̃ per (doc, term, field) row: each operand order mirrors
            // the oracle text — (1 − b_f) + (b_f·dl_f) / (Σdl_f / N), the
            // avgdl_f division executor-side on the broadcast stats row
            val bF = element_at(bArr, col("fi") + 1)
            val tfn = col("tf").cast("double") /
              (lit(1.0) - bF + bF * col("dlf").cast("double") /
                (element_at(sArr, col("fi") + 1).cast("double") /
                  col("n_docs").cast("double")))
            val tfQ = perField(i => size(col(s"toks_$i")).cast("long"), "dlf")
              .crossJoin(broadcast(rawStats))
              .select(col("doc_id"), col("term"), col("fi"), col("elig"),
                tfn.as("tfn"))
              .groupBy("doc_id", "term")
              .agg(aggregate(
                  array_sort(collect_list(struct(col("fi"), col("tfn")))),
                  lit(0.0),
                  (acc, x) => acc + element_at(wArr, x.getField("fi") + 1) *
                    x.getField("tfn")).as("tf"),
                max("elig").as("elig"))
              .withColumn("dl", lit(0.0))
            // b = 0 tail: dl/avgdl contributes exactly 0 (sum_dl = N
            // keeps the avgdl division finite); the saturation
            // denominator is tf̄ + k1
            val stats = rawStats.select(col("n_docs"),
              col("n_docs").cast("long").as("sum_dl"))
            scoreAndRank(tfQ, qTerms, stats, k, k1, b = 0.0)
        }
    }
  }

  /** Contiguous-run containment kernel: ∃ i ≤ dl−n+1 with
    * toks[i..i+n) = phrase — array slice equality inside codegen
    * (O(dl·n) per (doc, phrase), the classic naive-substring bound,
    * fine because n is words-in-a-quote small), guarded so the
    * `sequence` never runs descending (sequence(1, 0) would, silently).
    * A document containing every phrase term but never adjacently is
    * NOT a match. */
  private def phraseContains(toks: Column, phrase: Column): Column = {
    val n = size(phrase)
    when(size(toks) >= n,
        exists(sequence(lit(1), size(toks) - n + lit(1)),
          i => slice(toks, i, n) === phrase))
      .otherwise(lit(false))
  }

  /** Ordered-within-slop containment kernel: ∃ positions p₀ < … < pₙ₋₁
    * with toks[pⱼ] = phrase[j] and pₙ₋₁ − p₀ ≤ (n−1) + slop (Lucene
    * `PhraseQuery(slop)`'s common case). A codegen'd GREEDY chain from
    * each anchor (the tokens equal to phrase[0], 1-based): slots 2..n
    * each take the smallest position > acc inside [p0, p0+n−1+slop];
    * null = broken; greedy minimizes the chain end, so an anchor admits
    * a valid chain iff its greedy chain fits. Cost O(dl·n·(n + slop))
    * per (doc, phrase). CaseWhen branches evaluate lazily, so the n = 1
    * short-circuit keeps sequence(2, n) ascending (sequence(2, 1) would
    * silently run DESCENDING). */
  private def sloppyContains(toks: Column, phrase: Column, slop: Int): Column = {
    val n = size(phrase)
    def chainEnd(p0: Column) =
      aggregate(sequence(lit(2), n), p0.cast("int"), (acc, j) =>
        when(acc.isNull, acc).otherwise {
          val hi = least(p0 + n - lit(1) + lit(slop), size(toks))
          when(acc + lit(1) > hi, lit(null).cast("int")).otherwise(
            array_min(filter(sequence(acc + lit(1), hi),
              p => element_at(toks, p) === element_at(phrase, j))))
        })
    val anchors = filter(sequence(lit(1), size(toks)),
      i => element_at(toks, i) === element_at(phrase, lit(1)))
    when(n === 1, array_contains(toks, element_at(phrase, lit(1))))
      .otherwise(when(size(toks) >= n,
        exists(anchors, p0 => chainEnd(p0).isNotNull))
        .otherwise(lit(false)))
  }

  /** Unordered-window containment kernel: ALL query terms inside SOME
    * `window`-token run, any order — a sliding-window check (`exists`
    * start × `forall` term × `array_contains` slice, O(dl·window·terms)
    * per (doc, query)); a window never exceeds the document, so the
    * `sequence` stays ascending and a short document is checked whole. */
  private def windowContains(toks: Column, terms: Column, window: Int): Column = {
    val n = least(lit(window), size(toks))
    when(size(toks) > 0,
        exists(sequence(lit(1), size(toks) - n + lit(1)),
          i => forall(terms, t => array_contains(slice(toks, i, n), t))))
      .otherwise(lit(false))
  }

  /** Shared BM25 scoring tail — the flat scan ([[bm25TopK]]) and the
    * persisted inverted index ([[LexIndex.search]]) meet here, which is
    * what makes the index probe score-identical to the full scan.
    *
    * @param tfQ    matching postings `(doc_id, term, tf, dl)` — tf and
    *               dl EXACT integers; only rows whose term some query
    *               speaks (extra terms would still score correctly but
    *               waste the window)
    * @param qTerms `(query_id, term)`, terms lowercased
    * @param stats  ONE row `(n_docs, sum_dl)` — exact integer corpus
    *               totals (broadcast-cross-joined into the score
    *               expression, so avgdl is one IEEE division on every
    *               row, bit-equal to a driver-side division)
    *               An optional BOOLEAN `elig` column on tfQ is the
    *               attribute-filtered serving hook: evaluated upstream
    *               on the candidate rows themselves (the predicate
    *               rides the rows — no second scan, no join), it
    *               filters AFTER the df window so document frequency
    *               stays full-corpus while only matching documents
    *               reach the scoring fold.
    * @param eligPairs optional PER-QUERY candidate restriction
    *               `(query_id, doc_id)` — the phrase-query hook: only
    *               listed pairs rank (left-semi after the per-document
    *               stages), while df and corpus stats stay full-corpus.
    *               Unlike the `elig` column (one bit per document),
    *               eligibility here differs per query — "docs containing
    *               THIS query's phrase". Both hooks compose.
    */
  private[operators] def scoreAndRank(tfQ: DataFrame, qTerms: DataFrame,
                                      stats: DataFrame, k: Int,
                                      k1: Double, b: Double,
                                      eligPairs: Option[DataFrame] = None,
                                      mergeableDf: Boolean = false,
                                      dft: Option[DataFrame] = None): DataFrame = {
    // document frequency, two regimes (measured head-to-head on a
    // stop-word skew fixture — DfSkewProbe, numbers in SCALE_NOTES):
    //  - FLAT scans (mergeableDf = false): a window count over the
    //    aggregated matching set. A separate groupBy(term) branch
    //    would RE-RUN the whole scan→tokenize→explode→shuffle subtree
    //    (column pruning gives the df branch a narrower exchange, so
    //    ReuseExchange cannot dedup it — verified in the executed
    //    plan), and doubling the dominant corpus stage costs more
    //    than the hot term's single-partition sort at any scale where
    //    a flat scan is the right tool at all (8M docs: 4.5s window
    //    vs 9.9s recompute).
    //  - INDEX probes (mergeableDf = true): groupBy(term).count + a
    //    broadcast join back. Here tfQ is a bucket-pruned posting
    //    read — re-reading it is bounded parallel I/O — while a
    //    stop-word term's window partition at corpus scale is ~df_hot
    //    rows sorting in ONE task (the straggler cliff). Map-side
    //    partials keep the df shuffle at one row per term per
    //    partition; the df frame is query-term-bounded, always
    //    broadcastable.
    // Either way df counts BEFORE any eligibility filter —
    // full-corpus document frequency, filtered or not. A caller with
    // AT-REST statistics (`dft` — the index's df sidecars, the same
    // exact integers) skips computing df entirely: the posting bytes
    // are read once, period.
    val withDfAll = dft match {
      case Some(d) =>
        tfQ.join(broadcast(d.select(col("term"), col("df"))), Seq("term"))
      case None if mergeableDf =>
        tfQ.join(broadcast(tfQ.groupBy("term").agg(count(lit(1)).as("df"))),
          Seq("term"))
      case None =>
        tfQ.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("term")))
    }
    val withDf =
      if (tfQ.columns.contains("elig")) withDfAll.filter(col("elig"))
      else withDfAll
    val perQuery = withDf.join(broadcast(qTerms), Seq("term"))
    // the phrase restriction (eligPairs) lands AFTER the df window
    // (document frequency stays full-corpus) and after the query join
    // (it is a per-(query, doc) bit): candidate-row-bounded — the
    // containment pass's matches or the spoken terms' postings — never
    // corpus-sized, left-semi joined here
    val restricted = eligPairs.fold(perQuery)(p =>
      perQuery.join(p.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_semi"))
    val contrib = restricted
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"),
        (log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
             (col("df") + lit(0.5)) + lit(1.0)) *
         (col("tf") * lit(k1 + 1.0)) /
         (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
            (col("sum_dl").cast("double") / col("n_docs").cast("double")))))
          .as("contrib"))
    // left-assoc fold in term order: the one double sum whose order a
    // distributed agg would not pin — fixed here and in the oracle alike
    val scored = contrib
      .groupBy("query_id", "doc_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
    Similarity.topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"), col("score"))
  }

  /** Reciprocal-rank fusion of two rankings (lexical ∪ vector, or any
    * two `(query_id, id, rank)` frames): fused score
    * Σ 1/(c + rank), a list absent from one ranking contributing
    * nothing. Rank-space fusion is the point — BM25 scores and cosine
    * scores are not calibrated against each other, their RANKS are.
    * One outer join on (query_id, id) + the partial top-k; both sides
    * arrive already k-bounded (q×k rows), so fusion cost is
    * query-batch-sized regardless of corpus size.
    *
    * @return (query_id, doc_id, rank, score) with rank 1..k by
    *         (fused score desc, doc_id asc); fused scores are
    *         bit-deterministic (integer-rank divisions + one exact
    *         addition), no rounding needed
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col("query_id"), col(idCol).as("id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank"))).as(s"rrf_$tag"))
    val fused = side(a, "a")
      .join(side(b, "b"), Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id").as("neighbor_id"),
        (coalesce(col("rrf_a"), lit(0.0)) +
         coalesce(col("rrf_b"), lit(0.0))).as("score"))
    Similarity.topKPerQuery(fused, k)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("rank"), col("score"))
  }

  /** The one AT-REST serve over both stores: the lexical arm from the
    * persisted inverted index ([[LexIndex.search]] of `q` — query-term
    * bucket pruning), an optional vector arm from the persisted IVF
    * index ([[IvfIndex.search]]'s probe — cell partition pruning),
    * RRF-fused, and an optional MMR re-selection of that ranking. Zero
    * corpus scans: every byte read is posting lists of the spoken
    * terms, vectors of the probed cells, or id-pushed vector rows.
    *
    * The ranking is the lexical top-`depth`, RRF-fused with the vector
    * arm's top-`depth` when there is one; the fuse cuts to `k`, or to
    * `depth` when an MMR pass follows. The vector arm ([[ServeVector]]):
    *  - `Stored(nprobe)`: `query_id` is a stored `vec_id`. The serving
    *    batch's query IDS are collected (8 bytes each — never the
    *    vectors) and the vectors fetched as ONE id-pushed pruned read
    *    kept as a FRAME flowing straight into the probe, so the query
    *    embeddings never materialize on the driver at any batch size.
    *    Fail-loud: a query id with no stored vector throws rather than
    *    vanish from the fused ranking. The arm self-EXCLUDES the
    *    query's own document — fetched-by-id serving means "more like
    *    stored doc q", where q itself is not news;
    *  - `Literal(nprobe)`: the production sentence — a FRESH embedding
    *    plus keywords, neither stored anywhere. Queries carry
    *    `(query_id, terms, embedding)`; nothing is fetched and nothing
    *    is self-excluded (the [[hybridTopK]] semantics: an external
    *    query has no "self").
    * With `mmr = Some(λ)` the depth-bounded ranking is materialized
    * once ([[localBounded]] — it has two consumers, the candidate-id
    * fetch and the greedy's relevance input) and [[mmrTopK]] re-selects
    * k over the candidates' id-fetched vectors ([[candidateVecsLoud]]).
    * Over the plain lexical ranking the result is hash-identical to the
    * flat `mmrTopK(bm25TopK(docs, …), embeddings, …)` over the indexed
    * corpus; over a fused ranking relevance is the RRF score.
    *
    * ONE IVF manifest snapshot serves the query-vector fetch, the probe
    * and the MMR candidate fetch. The Spark job count is constant in
    * |queries| (spec-pinned).
    *
    * @param queries `(query_id, terms | phrase)` per [[LexQuery]]'s
    *                column contract, plus `embedding` for a `Literal` arm
    * @param q       the lexical arm's query — plain BM25 by default, or
    *                BM25F at probe-time weights over a fielded index
    * @param pred    optional document filter over attribute columns
    *                BOTH indexes store under the same names (doc_id ≡
    *                vec_id, so the metadata is one attribute set viewed
    *                from two layouts): each arm pre-filters its
    *                candidates inside its pruned scan, so the ranking
    *                holds only matching documents. Stored query vectors
    *                are fetched unfiltered — the query document is the
    *                probe, not a candidate
    */
  def serve(spark: org.apache.spark.sql.SparkSession,
            lexPath: String, ivfPath: String, queries: DataFrame,
            k: Int, depth: Int, q: LexQuery = LexQuery(),
            vector: Option[ServeVector] = None,
            mmr: Option[Double] = None, c: Int = 60,
            pred: Option[Column] = None): DataFrame = {
    require(vector.isDefined || mmr.isDefined,
      "a serve with neither a vector arm nor an MMR pass is LexIndex.search")
    require(depth >= k, s"depth=$depth must be >= k=$k")
    val m = IvfIndex.readManifest(spark, ivfPath)
    val ranking = vector.fold(LexIndex.search(spark, lexPath, queries, depth, q, pred)) { v =>
      val qVecs = v match {
        case ServeVector.Literal(_) =>
          queries.select(col("query_id").as("vec_id"), col("embedding"))
        case ServeVector.Stored(_) =>
          val ids = queries.select("query_id").collect().map(_.getLong(0))
          val fetched = IvfIndex.lookupVectorsFrame(spark, ivfPath, m, ids)
            .select(col("vec_id"), col("embedding"))
          // the presence check collects the fetched frame's IDS ONLY (a
          // projected read of the already-id-pushed files): one bounded
          // job, no join
          val present = fetched.select("vec_id").collect().map(_.getLong(0)).toSet
          val missing = ids.filterNot(present).take(8)
          require(missing.isEmpty,
            s"vec_ids ${missing.mkString(", ")} are not stored in the index " +
              s"at $ivfPath")
          fetched
      }
      val lex = LexIndex.search(spark, lexPath, queries, depth, q, pred)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vec = IvfIndex.searchWith(spark, ivfPath, m, qVecs, depth, v.nprobe,
          IvfScoring.Exact, pred, excludeSelf = v.isInstanceOf[ServeVector.Stored])
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      rrfFuse(lex, vec, if (mmr.isDefined) depth else k, c)
    }
    mmr.fold(ranking) { lambda =>
      val (candRows, cand) = localBounded(ranking)
      mmrTopK(cand, candidateVecsLoud(spark, ivfPath, m,
        candRows.map(_.getAs[Long]("doc_id")).distinct), k, lambda)
    }
  }

  /** Offline retrieval evaluation — per-query recall@k of a candidate
    * ranking against a reference ranking (typically: an index probe
    * against the exact brute-force top-k). Both inputs are
    * `(query_id, idCol, rank, …)` frames; only rank ≤ k rows count on
    * either side. Recall is EXACT (two integer counts and one IEEE
    * division), so the result hashes without rounding.
    *
    * Scale shape: both sides arrive k-bounded per query (q×k rows), so
    * the whole evaluation is query-batch-sized regardless of corpus
    * size — the heavy work is producing the rankings, which is the
    * job under evaluation, not the evaluator. A query with NO
    * reference rows is dropped (recall against an empty truth is
    * undefined, not 1.0). */
  def recallAtK(result: DataFrame, truth: DataFrame, k: Int,
                idCol: String = "neighbor_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // ONE join + ONE aggregate: the old denominator + hits branches
    // consumed the truth twice (only a cheap plan tail actually re-ran
    // — ReuseExchange shares the identical exchanges inside the truth
    // pipeline — but the extra semi-join + second aggregate + final
    // join cost real exchanges). A left join against the deduplicated
    // result pairs marks each truth row hit/missed, and one aggregate
    // counts both — measured at sf0.1/32c: x118 exec 1.8-3.2 →
    // 1.45-1.66s, x110/x141 flat-to-better. Semantics identical row
    // for row: n_truth counts truth rows (duplicates and all — the
    // distinct keeps the join from fanning them out), n_hit counts
    // truth rows with a match (the old left_semi), queries absent from
    // the truth emit nothing, and the recall division sees the same
    // two exact integers. (ndcgAtK keeps the two-branch form — its
    // one-join rewrite measured SLOWER, see there.)
    val r = result.filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("id"))
    val t = truth.filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("id"))
    t.join(r.distinct().withColumn("hit", lit(1)),
        Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
      .select(col("query_id"),
        (col("n_hit").cast("double") /
          col("n_truth").cast("double")).as("recall"))
  }

  /** Per-query nDCG@k with BINARY relevance against the reference
    * top-k (the labeled-judgment-free form: an item is relevant iff
    * the reference ranks it in ITS top-k — the standard way to score
    * an ANN index against exact search). DCG sums 1/log2(rank+1) over
    * the relevant result rows IN RANK ORDER (the fold order is pinned
    * by `aggregate ∘ array_sort`, the BM25 technique — a distributed
    * sum would not pin double addition order); IDCG is the same sum
    * over ranks 1..|truth| (ascending `sequence` fold — also pinned).
    * Scores round to 1e-6 before publishing, absorbing the engines'
    * ±1 ulp on log2. Query-batch-sized, like [[recallAtK]]. */
  def ndcgAtK(result: DataFrame, truth: DataFrame, k: Int,
              idCol: String = "neighbor_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // two lazy branches over the truth, deliberately: the dcg semi-join
    // and the idcg count consume the truth through DIFFERENT top
    // partitionings, but every exchange INSIDE the truth pipeline is an
    // identical subtree shared by ReuseExchange, so only a cheap plan
    // tail runs twice — measured round 22: rewriting this as one
    // full-outer join over a (query_id, id)-pre-aggregated truth (truth
    // consumed once, one join) ran 1.5-4× SLOWER at sf0.1/32c (x111
    // exec 0.2→1.0s, x142 1.6→3.4s: the forced two-sided sort-merge
    // exchange costs more than the shared tail it removes), and round
    // 21 measured driver-materializing a side ~1.5× slower again
    val r = result.filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("id"), col("rank"))
    val t = truth.filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("id"))
    val dcg = r.join(t, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id")
      .agg(aggregate(array_sort(collect_list(col("rank"))), lit(0.0),
        (acc, rk) => acc + lit(1.0) / log2(rk.cast("double") + lit(1.0)))
        .as("dcg"))
    val idcg = t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .select(col("query_id"),
        aggregate(sequence(lit(1L), col("n_truth")), lit(0.0),
          (acc, i) => acc + lit(1.0) / log2(i.cast("double") + lit(1.0)))
          .as("idcg"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** Maximal-marginal-relevance diversified top-k — the standard RAG
    * result-diversification pass: from a per-query candidate ranking
    * (relevance-scored; BM25, cosine, or fused), greedily select k
    * documents maximizing `λ·rel(c) − (1−λ)·max_{s∈selected}
    * cos(c, s)` — relevance traded against redundancy with what's
    * already picked (λ=1 degenerates to the input ranking). First pick
    * maximizes λ·rel (the empty-set redundancy term is 0); ties break
    * on id ascending at every step.
    *
    * Scale shape: candidates arrive k-bounded per query (the depth of
    * the upstream ranking — tens), so after one join to fetch the
    * candidate embeddings the greedy runs per query over a collected
    * bounded array inside a UDF — at most depth² cosine kernels per
    * query, never corpus work. The greedy is inherently sequential
    * (each pick changes the next objective), so a per-query bounded
    * fold is the honest distributed form: queries parallelize,
    * the ≤depth selection steps do not.
    *
    * Determinism: `rel` should arrive rounded (the upstream rankings
    * round to 1e-6); similarities run the SAME double accumulation as
    * the codegen'd cosine kernel (the calibrators' driver mirror), so
    * every objective is bit-identical to the oracle's unrolled-greedy
    * replay; the published mmr score rounds to 1e-6.
    *
    * @param candidates `(query_id, doc_id, score, …)` — one row per
    *                   candidate (ranks/extra columns ignored)
    * @param embeddings `(vec_id, embedding)` with doc_id ≡ vec_id
    * @return (query_id, doc_id, rank, mmr) with rank 1..min(k, |cand|)
    *         in selection order
    */
  def mmrTopK(candidates: DataFrame, embeddings: DataFrame, k: Int,
              lambda: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val cand = candidates
      .select(col("query_id"), col("doc_id").as("id"), col("score").as("rel"))
      .join(embeddings.select(col("vec_id").as("id"), col("embedding").as("vec")),
        Seq("id"))
    val greedy = udf((items: Seq[org.apache.spark.sql.Row]) =>
      mmrGreedy(items.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Float](2).toArray)), k, lambda))
    cand.groupBy("query_id")
      .agg(greedy(collect_list(struct(col("id"), col("rel"), col("vec"))))
        .as("picked"))
      .select(col("query_id"), posexplode(col("picked")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s._1").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("s._2"), 6).as("mmr"))
  }

  /** The bounded per-query greedy: candidates iterate in ascending-id
    * order with strict improvement, so argmax ties land on the
    * smallest id — the same tie the oracle's `ORDER BY obj DESC, id
    * ASC` picks. The redundancy term is the TRUE max similarity to the
    * selected set — which can be NEGATIVE (anti-correlated embeddings
    * make a candidate's objective exceed λ·rel; flooring at 0 would
    * silently under-diversify) — and 0 only for the empty first-pick
    * set. Each pick folds its similarities in with exact `max`. */
  private def mmrGreedy(items: Seq[(Long, Double, Array[Float])], k: Int,
                        lambda: Double): Seq[(Long, Double)] = {
    val arr = items.sortBy(_._1).toArray
    val n = arr.length
    val picked = new Array[Boolean](n)
    val maxSim = Array.fill(n)(Double.NegativeInfinity) // "none yet"
    val out = Seq.newBuilder[(Long, Double)]
    var step = 0
    while (step < math.min(k, n)) {
      var best = -1
      var bestObj = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val redundancy = if (step == 0) 0.0 else maxSim(i)
          val obj = lambda * arr(i)._2 - (1.0 - lambda) * redundancy
          if (obj > bestObj) { best = i; bestObj = obj }
        }
        i += 1
      }
      picked(best) = true
      out += ((arr(best)._1, bestObj))
      var j = 0
      while (j < n) {
        if (!picked(j)) {
          val s = Similarity.InProcess.cosine(arr(j)._3, arr(best)._3)
          if (s > maxSim(j)) maxSim(j) = s
        }
        j += 1
      }
      step += 1
    }
    out.result()
  }

  /** Materialize a strictly BOUNDED frame once (a driver collect of
    * the spoken-probe class — callers pass q×k/q×depth-row rankings or
    * id-pushed vector fetches, never corpus data) and hand back both
    * the rows and a local-relation frame carrying the same schema and
    * values. A lazily-reused DataFrame re-runs its whole producer
    * pipeline once PER PLAN CONSUMER (Spark shares no work across
    * action subtrees without an explicit materialization); for the
    * serving paths here the producer is a complete index probe, so the
    * re-run doubles the query. Downstream consumers are joins and
    * aggregations — row order of the local relation is not load-
    * bearing anywhere (the MMR greedy re-sorts by id; the metric tails
    * aggregate). */
  private def localBounded(df: DataFrame): (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    (rows, df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** Candidate vectors for an at-rest MMR pass, fetched BY ID from the
    * IVF index — with the missing-vector drop SURFACED: a candidate id
    * (typically from the lexical arm of a fused ranking, whose corpus
    * need not be id-aligned with the vector index) that has no stored
    * vector cannot be diversified against and drops from [[mmrTopK]]'s
    * inner embedding join, so the output can shrink below k. That drop
    * is the documented contract, but it must never be silent: the count
    * and a bounded id sample warn to stderr. The read is id-pushed
    * (never the vector corpus) and stays a DISTRIBUTED frame: the
    * presence check collects the fetched IDS ONLY (a projected,
    * column-pruned pass over the already-id-pushed files — 8 bytes per
    * candidate), never the vectors, so candidate embeddings (ids × dim
    * floats) never ship through driver memory at any depth, and the
    * greedy's embedding join reads the pruned scan directly. `m` is
    * the serve's own manifest snapshot, so the candidates' vectors come
    * from the same index version the vector arm probed. */
  private def candidateVecsLoud(spark: org.apache.spark.sql.SparkSession,
                                ivfPath: String, m: IvfIndex.IndexManifest,
                                ids: Array[Long]): DataFrame = {
    val vecs = IvfIndex.lookupVectorsFrame(spark, ivfPath, m, ids)
    val present = vecs.select("vec_id").collect().map(_.getLong(0)).toSet
    val missing = ids.filterNot(present)
    if (missing.nonEmpty)
      System.err.println(
        s"MMR WARNING: ${missing.length} of ${ids.length} candidates have " +
        s"no stored vector in $ivfPath and drop from the diversification " +
        s"(ids: ${missing.take(8).mkString(", ")}${
          if (missing.length > 8) ", …" else ""})")
    vecs
  }

  /** Hybrid search: BM25 over the document texts fused with exact
    * cosine over the aligned embeddings (doc_id ≡ vec_id), RRF-combined
    * to the final top-k. Queries carry BOTH modalities — a term list
    * and a query vector id resolved against the embedding corpus —
    * which is the real serving sentence ("docs about X, near this
    * embedding"). Both arms retrieve `depth` candidates (rank-space
    * fusion needs rankings deeper than k to fuse meaningfully: an arm's
    * k+1-th hit can enter the fused top-k).
    *
    * @param queries    `(query_id, terms: array<string>)`; the query
    *                   vector for each query_id is looked up in
    *                   `embeddings` by `vec_id` ≡ query_id
    * @param embeddings `(vec_id, embedding)`
    */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, queries: DataFrame,
                 k: Int, depth: Int, c: Int = 60): DataFrame = {
    require(depth >= k, s"depth=$depth must be >= k=$k")
    val lex = bm25TopK(docs, queries, depth)
    val qVecs = embeddings.join(
      broadcast(queries.select(col("query_id").as("vec_id"))), Seq("vec_id"))
    // the query is EXTERNAL (a term list + an embedding), not a corpus
    // member being deduplicated — nothing to self-exclude: the doc whose
    // stored vector IS the query vector is a legitimate (best) hit
    val vec = Similarity.bruteForceTopK(qVecs, embeddings, depth,
        excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(lex.select("query_id", "doc_id", "rank"), vec, k, c)
  }
}

/** The vector arm of a [[Retrieval.serve]]: where its query vectors
  * come from, and how many IVF cells it probes. */
sealed trait ServeVector extends Product with Serializable { def nprobe: Int }
object ServeVector {
  /** `query_id` is a stored `vec_id`: the vectors are fetched by id and
    * the arm self-excludes. */
  final case class Stored(nprobe: Int)  extends ServeVector
  /** The queries carry `embedding`: nothing is fetched, nothing is
    * self-excluded. */
  final case class Literal(nprobe: Int) extends ServeVector
}
