package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 + RRF hybrid retrieval (Retrieval.scala): scores against a
  * driver-side reference implementation, exact-k/no-overlap edges,
  * rank determinism, and the fusion arithmetic. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docsFx = Seq(
    (0L, "spark join fast spark"),
    (1L, "join slow table join join"),
    (2L, "spark spark spark"),
    (3L, "hash merge batch"),
    (4L, "fast fast join spark table"))

  private def docsDf = docsFx.toDF("doc_id", "text")

  /** Driver-side BM25 reference: same tokenization, same formula,
    * contributions summed in term order. */
  private def refBm25(terms: Seq[String], k1: Double = 1.2,
                      b: Double = 0.75): Map[Long, Double] = {
    val toks = docsFx.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val n = toks.size.toDouble
    val dl = toks.map { case (id, ts) => id -> ts.size.toDouble }.toMap
    val avgdl = dl.values.sum / n
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ts) =>
      val score = terms.sorted.map { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0 || df(t) == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) *
          (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * dl(id) / avgdl))
      }.sum
      if (score > 0) Some(id -> math.rint(score * 1e6) / 1e6) else None
    }.toMap
  }

  private def queriesDf(qs: (Long, Seq[String])*) =
    spark.createDataFrame(qs).toDF("query_id", "terms")

  test("bm25TopK matches the driver-side reference") {
    val out = Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("spark", "join")), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val ref = refBm25(Seq("spark", "join"))
    assert(out.keySet == ref.keySet)
    out.foreach { case (id, s) => assert(math.abs(s - ref(id)) < 1e-9, s"doc $id") }
  }

  test("bm25TopK ranks by score desc with doc_id tiebreak, capped at k") {
    val rows = Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("spark", "join")), 3)
      .orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25TopK: a query sharing no term with the corpus returns no rows") {
    assert(Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("zebra")), 5).count() == 0)
  }

  test("bm25TopK: a null-text document neither ranks nor shifts the " +
       "corpus statistics (the in-row matched pass drops it exactly " +
       "like the old explode did)") {
    val withNull = (docsFx :+ (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(withNull, queriesDf(7L -> Seq("spark", "join")), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val ref = refBm25(Seq("spark", "join")) // reference over the 5 real docs
    assert(out.keySet == ref.keySet)
    out.foreach { case (id, s) => assert(math.abs(s - ref(id)) < 1e-9, s"doc $id") }
  }

  test("flat bm25TopK prunes to query terms BEFORE the tf aggregation " +
       "shuffle: the broadcast term join sits below every (doc, term) " +
       "exchange, so the corpus token stream never crosses the wire") {
    // assert on the plan TREE, not a rendered-string regex (format- and
    // environment-sensitive — the f1a406f lesson). The explode →
    // broadcast-prune → map-side-partial groupBy shape is deliberate:
    // the round-21 in-row kernel measured 1.5-2× slower at sf1
    // (OPTIMIZATION_r22.md), so the pin is prune-before-shuffle, not
    // exchange absence.
    val df = Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("spark", "join")), 5)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    @scala.annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        unwrap(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        unwrap(r.child)
      case other => other
    }
    def collectAll[A](p: SparkPlan)(f: PartialFunction[SparkPlan, A]): Seq[A] = {
      val u = unwrap(p)
      (if (f.isDefinedAt(u)) Seq(f(u)) else Nil) ++
        u.children.flatMap(collectAll(_)(f))
    }
    val root = df.queryExecution.executedPlan
    val allNodes = collectAll(root) { case p => p.getClass.getSimpleName }
    val docTermExchanges = collectAll(root) {
      case e: ShuffleExchangeExec
          if (e.outputPartitioning match {
            case h: HashPartitioning =>
              h.expressions.flatMap(_.references.map(_.name).toSeq)
                .toSet == Set("doc_id", "term")
            case _ => false
          }) => e
    }
    assert(docTermExchanges.nonEmpty,
      s"expected a (doc, term) tf exchange; nodes: ${allNodes.mkString(",")}")
    docTermExchanges.foreach { e =>
      assert(collectAll[BroadcastHashJoinExec](e) {
          case j: BroadcastHashJoinExec => j
        }.nonEmpty,
        "the (doc, term) exchange is not fed by the broadcast term prune " +
          "— unmatched corpus tokens would cross the wire")
    }
  }

  test("bm25TopK matches terms case-insensitively") {
    val lo = Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("spark")), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSet
    val hi = Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("SPARK")), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSet
    assert(lo == hi && lo.nonEmpty)
  }

  test("rrfFuse: hand-checked fusion, absent side contributes nothing") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(a, b, 3, c = 60)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toList
      .sortBy(_._2)
    // doc 20: 1/62 + 1/61 (both arms); doc 10: 1/61; doc 30: 1/62
    assert(out == List(
      (20L, 1L, 1.0 / 62 + 1.0 / 61),
      (10L, 2L, 1.0 / 61),
      (30L, 3L, 1.0 / 62)))
  }

  test("rrfFuse ties break on doc_id ascending") {
    val a = Seq((1L, 50L, 1L), (1L, 40L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 40L, 1L), (1L, 50L, 2L)).toDF("query_id", "doc_id", "rank")
    // both docs fuse to 1/61 + 1/62 — rank order must be doc_id asc
    val out = Retrieval.rrfFuse(a, b, 2).collect()
      .sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(out == Seq(40L, 50L))
  }

  test("hybridTopK fuses the lexical and vector arms") {
    // embeddings aligned with docs; doc 0's vector is the query (id 0)
    val embs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(1f, 0.1f)),
      (3L, Array(-1f, 0f)), (4L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridTopK(docsDf, embs,
        queriesDf(0L -> Seq("spark", "join")), 3, depth = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 3)
    // the query's own doc (vector rank 1, no self-exclusion) must appear
    val top = out.find(_._1 == 0L)
    assert(top.isDefined)
    // its fused score carries the vector arm's 1/(60+1)
    val lexRanks = Retrieval.bm25TopK(docsDf, queriesDf(0L -> Seq("spark", "join")), 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val expected = 1.0 / 61 + lexRanks.get(0L).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
    assert(math.abs(top.get._3 - expected) < 1e-12)
  }

  test("bm25TopK over an empty corpus returns an empty result") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(empty, queriesDf(1L -> Seq("x")), 3)
    assert(out.columns.toSeq == Seq("query_id", "doc_id", "rank", "score"))
    assert(out.count() == 0)
  }

  test("bm25TopK construction triggers no Spark jobs (stats ride the plan)") {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    Retrieval.bm25TopK(docsDf, queriesDf(7L -> Seq("spark")), 3) // no action
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    // the corpus-stats pass is a broadcast 1-row frame INSIDE the plan,
    // not an eager driver collect at construction time
    assert(after == before)
  }

  private def ranking(rows: (Long, Long, Long)*) =
    rows.toDF("query_id", "neighbor_id", "rank")

  test("bm25fTopK matches a driver-side BM25F reference; single field " +
       "at weight 1 degenerates to bm25TopK; title weight reranks") {
    val fx = Seq(
      (10L, "spark", "a b c d e f g h"), // title hit, long body
      (11L, "x", "spark a b c"),         // body-only hit, short body
      (12L, "spark fast", "spark join fast a"),
      (13L, "y", "b c d"),
      // null title, real body: must contribute dl 0 (NOT size(null) = -1)
      // to the weighted lengths and corpus sums, and no title postings
      (14L, null.asInstanceOf[String], "spark d e"))
    val df = fx.toDF("doc_id", "title", "text")
    def refBm25f(terms: Seq[String], wT: Double, wB: Double,
                 k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
      def toks(s: String) =
        if (s == null) Seq.empty[String]
        else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val fs = fx.map { case (id, t, bd) => id -> Seq(toks(t), toks(bd)) }
      val live = fs.filter(_._2.map(_.size).sum > 0)
      val n = live.size.toDouble
      val sumDlw = 0.0 + wT * live.map(_._2(0).size.toLong).sum.toDouble +
        wB * live.map(_._2(1).size.toLong).sum.toDouble
      val avg = sumDlw / n
      val dlw = fs.map { case (id, f) =>
        id -> (0.0 + wT * f(0).size + wB * f(1).size) }.toMap
      val df_ = terms.map(t =>
        t -> fs.count(_._2.exists(_.contains(t))).toDouble).toMap
      fs.flatMap { case (id, f) =>
        val score = terms.sorted.map { t =>
          var tfw = 0.0
          if (f(0).count(_ == t) > 0) tfw += wT * f(0).count(_ == t)
          if (f(1).count(_ == t) > 0) tfw += wB * f(1).count(_ == t)
          if (tfw == 0.0 || df_(t) == 0) 0.0
          else math.log((n - df_(t) + 0.5) / (df_(t) + 0.5) + 1.0) *
            (tfw * (k1 + 1.0)) / (tfw + k1 * ((1.0 - b) + b * dlw(id) / avg))
        }.sum
        if (score > 0) Some(id -> math.rint(score * 1e6) / 1e6) else None
      }.toMap
    }
    val q = queriesDf(1L -> Seq("spark", "join"))
    for ((wT, wB) <- Seq((4.0, 1.0), (1.0, 1.0), (2.0, 0.5))) {
      val out = Retrieval.bm25TopK(df, q, 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("title" -> wT, "text" -> wB))))
        .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
      val ref = refBm25f(Seq("spark", "join"), wT, wB)
      assert(out.keySet == ref.keySet, s"weights ($wT, $wB)")
      out.foreach { case (id, s) =>
        assert(math.abs(s - ref(id)) < 1e-9, s"doc $id weights ($wT, $wB)") }
    }
    // single field at weight 1 ≡ plain BM25 over that field, row for row
    val one = Retrieval.bm25TopK(df, q, 5,
      LexQuery(scoring = LexQuery.Bm25F(Seq("text" -> 1.0))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val plain = Retrieval.bm25TopK(df, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(one == plain && one.nonEmpty)
    // the weighting genuinely reranks: title-heavy puts the title-hit
    // doc 10 above the body-hit doc 11, flat weights favor 11 (equal
    // tf, shorter weighted length)
    def rankOf(wT: Double, wB: Double, id: Long) =
      Retrieval.bm25TopK(df, queriesDf(1L -> Seq("spark")), 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("title" -> wT, "text" -> wB))))
        .filter(col("doc_id") === id).collect().head.getLong(2)
    assert(rankOf(4.0, 1.0, 10L) < rankOf(4.0, 1.0, 11L))
    assert(rankOf(1.0, 1.0, 10L) > rankOf(1.0, 1.0, 11L))
  }

  test("bm25fFullTopK (Robertson–Zaragoza): per-field length " +
       "normalization matches a driver reference at every tuning; " +
       "per-field b genuinely reranks against the simplified form") {
    val fx = Seq(
      (10L, "spark", "a b c d e f g h"),
      (11L, "x", "spark a b c"),
      (12L, "spark fast join", "spark join fast a"),
      (13L, "y", "b c d"),
      (14L, null.asInstanceOf[String], "spark d e"))
    val df = fx.toDF("doc_id", "title", "text")
    def refFull(terms: Seq[String], params: Seq[(Double, Double)],
                k1: Double = 1.2): Map[Long, Double] = {
      def toks(s: String) =
        if (s == null) Seq.empty[String]
        else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val fs = fx.map { case (id, t, bd) => id -> Seq(toks(t), toks(bd)) }
      val live = fs.filter(_._2.map(_.size).sum > 0)
      val n = live.size
      val avgF = params.indices.map(i =>
        live.map(_._2(i).size.toLong).sum.toDouble / n.toDouble)
      val df_ = terms.map(t =>
        t -> fs.count(_._2.exists(_.contains(t))).toDouble).toMap
      fs.flatMap { case (id, f) =>
        val score = terms.sorted.foldLeft(0.0) { (acc, t) =>
          val tfw = params.indices.foldLeft(0.0) { (a, i) =>
            val tf = f(i).count(_ == t)
            if (tf == 0) a
            else {
              val (_, b) = params(i)
              a + params(i)._1 * (tf.toDouble /
                (1.0 - b + b * f(i).size.toDouble / avgF(i)))
            }
          }
          if (tfw == 0.0) acc
          else acc + math.log((n - df_(t) + 0.5) / (df_(t) + 0.5) + 1.0) *
            (tfw * (k1 + 1.0)) / (tfw + k1)
        }
        if (score > 0) Some(id -> math.rint(score * 1e6) / 1e6) else None
      }.toMap
    }
    val q = queriesDf(1L -> Seq("spark", "join"))
    for (ps <- Seq(Seq(2.0 -> 0.3, 1.0 -> 0.75),
                   Seq(1.0 -> 0.0, 1.0 -> 1.0),
                   Seq(4.0 -> 0.75, 0.5 -> 0.3))) {
      val fields = Seq(("title", ps(0)._1, ps(0)._2),
        ("text", ps(1)._1, ps(1)._2))
      val out = Retrieval.bm25TopK(df, q, 5,
        LexQuery(scoring = LexQuery.Bm25FFull(fields)))
        .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
      val ref = refFull(Seq("spark", "join"), ps)
      assert(out.keySet == ref.keySet, s"params $ps")
      out.foreach { case (id, s) =>
        assert(math.abs(s - ref(id)) < 1e-9, s"doc $id params $ps") }
    }
    // per-field b is the point: with title b = 0 (no length penalty in
    // the title) the LONG-titled doc 12 closes on the short-titled doc
    // 10 relative to title b = 1 — their score GAP must shrink, which
    // the simplified single-b form cannot express per field
    def scoreOf(ps: Seq[(String, Double, Double)], id: Long) =
      Retrieval.bm25TopK(df, queriesDf(1L -> Seq("spark")), 5,
        LexQuery(scoring = LexQuery.Bm25FFull(ps)))
        .filter(col("doc_id") === id).collect().head.getDouble(3)
    val gapB1 = scoreOf(Seq(("title", 2.0, 1.0), ("text", 1.0, 0.75)), 10L) -
      scoreOf(Seq(("title", 2.0, 1.0), ("text", 1.0, 0.75)), 12L)
    val gapB0 = scoreOf(Seq(("title", 2.0, 0.0), ("text", 1.0, 0.75)), 10L) -
      scoreOf(Seq(("title", 2.0, 0.0), ("text", 1.0, 0.75)), 12L)
    assert(gapB0 < gapB1)
  }

  test("bm25fPhraseTopK / bm25fSloppyPhraseTopK: the run must sit in the " +
       "NAMED field's own stream; scoring is the BM25F ranking of the " +
       "eligible docs; slop composes; cross-field runs don't exist") {
    val fx = Seq(
      (0L, "spark fast", "join table"),
      (1L, "merge", "spark join fast a"),   // body: spark-join adjacent
      (2L, "spark", "fast join spark b"),   // body: fast..spark reversed
      (3L, null.asInstanceOf[String], "spark fast c"))
    val df = fx.toDF("doc_id", "title", "text")
    val fw = Seq("title" -> 2.0, "text" -> 1.0)
    def phrasesDf(qs: (Long, Seq[String])*) =
      spark.createDataFrame(qs).toDF("query_id", "phrase")
    def ids(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.getLong(1)).toSet
    val phSF = phrasesDf(1L -> Seq("spark", "fast"))
    // exact in TITLE: only doc 0 ("spark fast" is its title stream);
    // doc 3's BODY has the run but its title is null — not eligible
    assert(ids(Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Phrase(Some("title")), LexQuery.Bm25F(fw)))) ==
      Set(0L))
    // exact in TEXT: only doc 3
    assert(ids(Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw)))) ==
      Set(3L))
    // a run split ACROSS fields never matches: doc 0's title ends with
    // "fast" and its text starts with "join" — "fast join" is in no
    // single stream of doc 0 (only doc 2's body holds it)
    assert(ids(Retrieval.bm25TopK(df,
      phrasesDf(1L -> Seq("fast", "join")), 5,
        LexQuery(LexQuery.Phrase(Some("title")), LexQuery.Bm25F(fw)))).isEmpty)
    assert(ids(Retrieval.bm25TopK(df,
      phrasesDf(1L -> Seq("fast", "join")), 5,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw)))) == Set(2L))
    // sloppy in TEXT: slop 1 admits doc 1 (spark _ fast) but not the
    // reversed doc 2; slop 0 ≡ the exact phrase, row for row
    assert(ids(Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Sloppy(1, Some("text")),
        LexQuery.Bm25F(fw)))) == Set(1L, 3L))
    val sl0 = Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Sloppy(0, Some("text")),
        LexQuery.Bm25F(fw))).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    val exact = Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(sl0 == exact && sl0.nonEmpty)
    // scoring: each eligible doc's score equals its bm25fTopK score
    // over the phrase's distinct terms (the phrase restricts
    // CANDIDATES, never scoring — the phrase contract, fielded form)
    val full = Retrieval.bm25TopK(df,
        spark.createDataFrame(Seq((1L, Seq("spark", "fast")))).toDF(
          "query_id", "terms"), 5, LexQuery(scoring = LexQuery.Bm25F(fw)))
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    Retrieval.bm25TopK(df, phSF, 5,
      LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw))).collect()
      .foreach(r => assert(r.getDouble(3) == full(r.getLong(1))))
    // an unknown phrase field fails loudly
    assert(intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(df, phSF, 5,
        LexQuery(LexQuery.Phrase(Some("nope")), LexQuery.Bm25F(fw)))
    }.getMessage.contains("phrase field"))
  }

  test("bm25SloppyPhraseTopK: in-order within slop — order matters, " +
       "slop 0 is the exact phrase, duplicate terms chain strictly") {
    def phrasesDf(qs: (Long, Seq[String])*) =
      spark.createDataFrame(qs).toDF("query_id", "phrase")
    def hits(ph: Seq[String], slop: Int) =
      Retrieval.bm25TopK(docsDf, phrasesDf(1L -> ph), 5,
        LexQuery(LexQuery.Sloppy(slop)))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 0 "spark join fast spark": spark@1 → fast@3 (span 2 ≤ 1+1);
    // doc 4 "fast fast join spark table" has no fast AFTER spark —
    // the unordered window would admit it, ordered slop must not
    assert(hits(Seq("spark", "fast"), 1) == Set(0L))
    // reversed order: doc 0 fast@3 → spark@4, doc 4 fast@2 → spark@4
    assert(hits(Seq("fast", "spark"), 1) == Set(0L, 4L))
    // slop 0 ≡ the exact phrase, full-row hash equality
    val ph0 = phrasesDf(1L -> Seq("spark", "join"), 2L -> Seq("join", "join"))
    val sloppy0 = Retrieval.bm25TopK(docsDf, ph0, 5, LexQuery(LexQuery.Sloppy(0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val exact = Retrieval.bm25TopK(docsDf, ph0, 5, LexQuery(LexQuery.Phrase()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(sloppy0 == exact && sloppy0.nonEmpty)
    // duplicate-term phrase: chains need STRICTLY increasing positions.
    // doc 1 "join slow table join join": join@4 → join@5 fits slop 1;
    // join@1 → join@4 (span 3) does not
    assert(hits(Seq("join", "join"), 1) == Set(1L))
    // a single-term "phrase" is presence, slop irrelevant
    assert(hits(Seq("table"), 2) ==
      docsFx.filter(_._2.split(" ").contains("table")).map(_._1).toSet)
    // wide slop admits any in-order pair: doc 4 fast@1 → table@5
    assert(hits(Seq("fast", "table"), 3).contains(4L))
    assert(hits(Seq("fast", "table"), 0) == Set.empty)
  }

  test("recallAtK: hand-checked overlap; empty-truth queries are dropped; " +
       "a query absent from the result scores 0") {
    // truth: q0 -> {10, 11, 12}; q1 -> {20, 21}; q2 -> {30}
    val truth = ranking((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 20L, 1L), (1L, 21L, 2L), (2L, 30L, 1L))
    // result: q0 hits 2 of 3; q1 hits 0 of 2 (and one hit OUTSIDE k
    // that must not count); q2 missing entirely
    val result = ranking((0L, 10L, 1L), (0L, 99L, 2L), (0L, 12L, 3L),
      (1L, 98L, 1L), (1L, 97L, 2L), (1L, 20L, 4L))
    val got = Retrieval.recallAtK(result, truth, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 2.0 / 3.0, 1L -> 0.0, 2L -> 0.0))
    // k restricts BOTH sides: at k=1 only rank-1 rows count
    val at1 = Retrieval.recallAtK(result, truth, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(at1 == Map(0L -> 1.0, 1L -> 0.0, 2L -> 0.0))
  }

  test("mmrTopK: λ=1 degenerates to the input ranking; λ<1 demotes a " +
       "redundant runner-up; NEGATIVE max-similarity raises an objective " +
       "above λ·rel (no zero floor)") {
    // candidates for one query: 0 and 1 nearly identical vectors, 2
    // anti-correlated with both
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.04f, 0.0f)),
      (2L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val cand = Seq((9L, 0L, 1L, 1.0), (9L, 1L, 2L, 0.9), (9L, 2L, 3L, 0.5))
      .toDF("query_id", "doc_id", "rank", "score")
    def picks(lambda: Double) =
      Retrieval.mmrTopK(cand, vecs, 3, lambda)
        .orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
    // λ=1: redundancy ignored → input relevance order
    assert(picks(1.0).map(_._1) == Seq(0L, 1L, 2L))
    // λ=0.5: doc 1 is ~identical to the picked doc 0, so the
    // anti-correlated doc 2 jumps ahead — and its objective
    // 0.5·0.5 − 0.5·(−1.0) = 0.75 EXCEEDS its λ·rel (0.25): the
    // negative max-similarity must not floor at zero
    val p = picks(0.5)
    assert(p.map(_._1) == Seq(0L, 2L, 1L))
    assert(math.abs(p(1)._2 - 0.75) < 1e-6, s"negative redundancy floored: $p")
    // fewer candidates than k: min(k, |cand|) rows, selection order
    assert(Retrieval.mmrTopK(cand.filter(col("doc_id") < 1L), vecs, 3, 0.5)
      .count() == 1L)
  }

  test("ndcgAtK: hand-checked gains in rank order; perfect ranking " +
       "scores 1; misses score 0") {
    val truth = ranking((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L))
    // q0: relevant at result ranks 1 and 3 → dcg = 1/log2(2) + 1/log2(4),
    // idcg = 1/log2(2) + 1/log2(3); q1: perfect
    val result = ranking((0L, 10L, 1L), (0L, 99L, 2L), (0L, 11L, 3L),
      (1L, 20L, 1L))
    val got = Retrieval.ndcgAtK(result, truth, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect0 = (1.0 / (math.log(2.0) / math.log(2.0)) +
                   1.0 / (math.log(4.0) / math.log(2.0))) /
                  (1.0 / (math.log(2.0) / math.log(2.0)) +
                   1.0 / (math.log(3.0) / math.log(2.0)))
    assert(math.abs(got(0L) - expect0) < 1e-6)
    assert(got(1L) == 1.0)
    // a query with zero relevant results scores exactly 0
    val none = ranking((0L, 99L, 1L))
    val z = Retrieval.ndcgAtK(none, truth, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(z(0L) == 0.0 && z(1L) == 0.0)
  }
}
