package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfScoring, LexQuery}
import graft.plans.{Op => O, Pred => P}

/** Parser unit tests: every description shape from the reference's corpus
  * (agentic_workflow_transformation.py:339-362) maps to the expected IR. */
class NLParserSpec extends AnyFunSuite {

  private val FlatRoute = "Find top 5 documents matching"
  private val ProbeRoute = "Search the lexical index for top 5 matching"
  private val Weights = Seq("title" -> 2.0, "text" -> 1.0)

  /** Every spoken lexical form — one per (match × scoring) pair — on
    * both routes: (route, form, tokens, query). */
  private val lexicalForms: Seq[(String, String, Seq[String], LexQuery)] = {
    import LexQuery._
    val forms = Seq(
      ("spark, join, fast", Seq("spark", "join", "fast"), LexQuery()),
      ("\"spark join\"", Seq("spark", "join"), LexQuery(Phrase())),
      ("'spark join'", Seq("spark", "join"), LexQuery(Phrase())),
      ("\"spark fast\" with slop 3", Seq("spark", "fast"), LexQuery(Sloppy(3))),
      ("spark, join within 5 tokens", Seq("spark", "join"), LexQuery(Window(5))),
      ("spark, join weighting title 2, text 1", Seq("spark", "join"),
        LexQuery(scoring = Bm25F(Weights))),
      ("spark, join weighting title 2, text 1 normalizing title 0.3, " +
        "text 0.75", Seq("spark", "join"),
        LexQuery(scoring = Bm25FFull(Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75))))),
      ("\"the fast\" in title weighting title 2, text 1", Seq("the", "fast"),
        LexQuery(Phrase(Some("title")), Bm25F(Weights))),
      ("\"spark fast\" in text with slop 3 weighting title 2, text 1",
        Seq("spark", "fast"), LexQuery(Sloppy(3, Some("text")), Bm25F(Weights))))
    for (route <- Seq(FlatRoute, ProbeRoute); (form, tokens, q) <- forms)
      yield (route, form, tokens, q)
  }

  private def lexicalOp(route: String, tokens: Seq[String], q: LexQuery,
                        where: Option[Pred]): Op =
    if (route == FlatRoute) O.LexTopK(tokens, 5, q, where)
    else O.LexProbe(tokens, 5, q, where)

  test("default description: filter + select") {
    val plan = NLParser.parse("Filter rows where age > 30 and select columns name and age.")
    assert(plan.ops == List(
      O.Filter(P.Cmp(P.Gt, "age", Lit.Num(30))),
      O.Select(Seq("name", "age"))))
  }

  test("string equality + comma select list") {
    val plan = NLParser.parse("Filter rows where city == 'New York' and select name, city.")
    assert(plan.ops == List(
      O.Filter(P.Cmp(P.Eq, "city", Lit.Str("New York"))),
      O.Select(Seq("name", "city"))))
  }

  test("sort desc + top k") {
    val plan = NLParser.parse("Sort by age descending and keep top 3 rows.")
    assert(plan.ops == List(O.Sort(Seq("age" -> false)), O.Limit(3)))
  }

  test("group by + count") {
    val plan = NLParser.parse("Group by city and count names.")
    assert(plan.ops == List(
      O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Count, "names", "count")))))
  }

  test("derive boolean column") {
    val plan = NLParser.parse("Add is_adult column where is_adult = age >= 18.")
    assert(plan.ops == List(O.DeriveBool("is_adult", P.Cmp(P.Ge, "age", Lit.Num(18)))))
  }

  test("rename and drop") {
    assert(NLParser.parse("Rename name to full_name.").ops == List(O.Rename("name", "full_name")))
    assert(NLParser.parse("Drop city column.").ops == List(O.Drop(Seq("city"))))
  }

  test("uppercase AND stays in predicate; lowercase 'and select' splits") {
    val plan = NLParser.parse(
      "Filter rows where age > 30 AND city == 'New York' and select name, age, city.")
    assert(plan.ops == List(
      O.Filter(P.And(P.Cmp(P.Gt, "age", Lit.Num(30)), P.Cmp(P.Eq, "city", Lit.Str("New York")))),
      O.Select(Seq("name", "age", "city"))))
  }

  test("between consumes its own 'and'") {
    val plan = NLParser.parse(
      "Filter rows where age between 30 and 45 and name starts with 'J'.")
    assert(plan.ops == List(
      O.Filter(P.And(
        P.Between("age", Lit.Num(30), Lit.Num(45)),
        P.StartsWith("name", "J")))))
  }

  test("parenthesized compound") {
    val plan = NLParser.parse(
      "Select rows where (age > 30 AND city == 'Chicago') OR (age <= 25 AND city == 'New York').")
    assert(plan.ops == List(O.Filter(P.Or(
      P.And(P.Cmp(P.Gt, "age", Lit.Num(30)), P.Cmp(P.Eq, "city", Lit.Str("Chicago"))),
      P.And(P.Cmp(P.Le, "age", Lit.Num(25)), P.Cmp(P.Eq, "city", Lit.Str("New York")))))))
  }

  test("in-list") {
    val plan = NLParser.parse("Filter rows where age > 30 and city in ('Chicago', 'Boston').")
    assert(plan.ops == List(O.Filter(P.And(
      P.Cmp(P.Gt, "age", Lit.Num(30)),
      P.In("city", Seq(Lit.Str("Chicago"), Lit.Str("Boston")))))))
  }

  test("negation") {
    val plan = NLParser.parse("Filter rows where age > 30 and not city == 'Los Angeles'.")
    assert(plan.ops == List(O.Filter(P.And(
      P.Cmp(P.Gt, "age", Lit.Num(30)),
      P.Not(P.Cmp(P.Eq, "city", Lit.Str("Los Angeles")))))))
  }

  test("sort, then filter, then top-k composition keeps stated order") {
    val plan = NLParser.parse("Sort by age desc and then filter age > 30 and keep top 2.")
    assert(plan.ops == List(
      O.Sort(Seq("age" -> false)),
      O.Filter(P.Cmp(P.Gt, "age", Lit.Num(30))),
      O.Limit(2)))
  }

  test("group + avg + having") {
    val plan = NLParser.parse("Group by city and show average age where average_age > 30.")
    assert(plan.ops == List(
      O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Avg, "age", "average_age"))),
      O.Having(P.Cmp(P.Gt, "average_age", Lit.Num(30)))))
  }

  test("contains + between") {
    val plan = NLParser.parse("Filter where name contains 'an' and age between 30 and 50.")
    assert(plan.ops == List(O.Filter(P.And(
      P.Contains("name", "an"),
      P.Between("age", Lit.Num(30), Lit.Num(50))))))
  }

  test("out-of-grammar input raises ParseException") {
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Pivot the table by month and melt everything.")
    }
  }

  test("all 20 reference descriptions parse") {
    graft.operators.EvalHarness.descriptions.foreach { d =>
      NLParser.parse(d) // must not throw
    }
  }

  // ------------------------------------------- corpus-operator grammar

  test("dedup exactly") {
    assert(NLParser.parse("Dedup documents exactly.").ops == List(O.DedupExact))
    assert(NLParser.parse("Deduplicate the rows exactly.").ops == List(O.DedupExact))
  }

  test("dedup by n-gram jaccard with block — the VERDICT's exact example") {
    assert(NLParser.parse("dedup documents by 3-gram jaccard 0.8").ops ==
      List(O.DedupJaccard(3, 0.8, None)))
    assert(NLParser.parse("Dedup documents by 3-gram jaccard 0.5 blocked by source.").ops ==
      List(O.DedupJaccard(3, 0.5, Some("source"))))
    assert(NLParser.parse("Dedup by 2 gram jaccard 0.7.").ops ==
      List(O.DedupJaccard(2, 0.7, None)))
  }

  test("dedup by minhash / simhash") {
    assert(NLParser.parse("Dedup documents by minhash jaccard 0.5.").ops ==
      List(O.DedupMinHash(0.5)))
    assert(NLParser.parse("Dedup by minhash 0.8.").ops == List(O.DedupMinHash(0.8)))
    assert(NLParser.parse("Dedup documents by simhash hamming 3.").ops ==
      List(O.DedupSimHash(3)))
    assert(NLParser.parse("Dedup by simhash.").ops == List(O.DedupSimHash(3)))
  }

  test("cluster duplicates") {
    assert(NLParser.parse("Cluster duplicates by 3-gram jaccard 0.5 blocked by source.").ops ==
      List(O.DedupCluster(3, 0.5, Some("source"))))
    assert(NLParser.parse("Cluster near-duplicates by 3-gram jaccard 0.9.").ops ==
      List(O.DedupCluster(3, 0.9, None)))
  }

  test("text-analysis clauses") {
    assert(NLParser.parse("Tokenize the documents.").ops == List(O.Tokenize))
    assert(NLParser.parse("Score quality.").ops == List(O.ScoreQuality))
    assert(NLParser.parse("Detect language.").ops == List(O.DetectLanguage))
    assert(NLParser.parse("Fingerprint documents.").ops == List(O.Fingerprint))
    assert(NLParser.parse("Scrub pii.").ops == List(O.ScrubPii))
  }

  test("find top-k similar") {
    assert(NLParser.parse("Find top 5 most similar vectors to 3.").ops ==
      List(O.SimilarTopK(3L, 5)))
    assert(NLParser.parse("Find top 10 similar to 7.").ops ==
      List(O.SimilarTopK(7L, 10)))
  }

  test("search the persisted index") {
    // one sentence per scoring is a row of the sentence-form table test
    assert(NLParser.parse(
      "Search the index for top 5 nearest to 3 probing 4.").ops ==
      List(O.IndexSearch(3L, 5, 4)))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Search the index for top 0 similar to 3 probing 4 cells."))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Search the index for top 5 similar to 3 probing 0 cells."))
  }

  test("attribute-filtered index search and index erasure") {
    assert(NLParser.parse(
      "Search the index for top 5 similar to 3 probing 4 cells " +
      "where label == 3.").ops ==
      List(O.IndexSearch(3L, 5, 4,
        where = Some(Pred.Cmp(Pred.Eq, "label", Lit.Num(3.0))))))
    assert(NLParser.parse(
      "Search the index with int8 codes for top 5 similar to vector " +
      "[1, 0, -1] probing 2 cells where lang == \"en\".").ops ==
      List(O.IndexSearchVec(Seq(1f, 0f, -1f), 5, 2, IvfScoring.Sq8,
        where = Some(Pred.Cmp(Pred.Eq, "lang", Lit.Str("en"))))))
    // compound predicates ride the same grammar as filters
    assert(NLParser.parse(
      "Search the index for top 5 similar to 3 probing 4 cells " +
      "where label > 2 and label < 6.").ops ==
      List(O.IndexSearch(3L, 5, 4, where = Some(Pred.And(
        Pred.Cmp(Pred.Gt, "label", Lit.Num(2.0)),
        Pred.Cmp(Pred.Lt, "label", Lit.Num(6.0)))))))
    // the flat similar route takes the same neighbor filter — exact
    // path only (filtered compressed serving is the index's job)
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 where label == 3.").ops ==
      List(O.SimilarTopK(3L, 5,
        where = Some(Pred.Cmp(Pred.Eq, "label", Lit.Num(3.0))))))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Find top 5 most similar vectors to 3 using int8 codes " +
      "with rerank 50 where label == 3."))
    // erasure: "vector(s)" is the discriminator vs the log's DeleteByKey
    assert(NLParser.parse("Erase vectors 3, 7 from the index.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Erase(Seq(3L, 7L)))))
    assert(NLParser.parse("Delete vector 42 from the index.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Erase(Seq(42L)))))
    assert(NLParser.parse("Delete user_id 42 from the table.").ops ==
      List(O.DeleteByKey("user_id", Seq(42L))))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Erase vectors 3.5 from the index."))
    // the attribute-sweep form: erase by predicate, not id list
    assert(NLParser.parse(
      "Erase vectors where label == 9 from the index.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.EraseWhere(Pred.Cmp(Pred.Eq, "label", Lit.Num(9.0))))))
  }

  test("search the index with a literal query vector") {
    // one sentence per scoring is a row of the sentence-form table test
    assert(NLParser.parse(
      "Search the index for top 5 similar to vector [0.1, -0.2, 0.25] " +
      "probing 4 cells.").ops ==
      List(O.IndexSearchVec(Seq(0.1f, -0.2f, 0.25f), 5, 4)))
    // unterminated / empty brackets fail loudly
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Search the index for top 5 similar to vector [0.1, 0.2 probing 4 cells."))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Search the index for top 5 similar to vector [] probing 4 cells."))
  }

  test("index maintenance verbs") {
    assert(NLParser.parse("Compact the index.").ops == List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Compact)))
    assert(NLParser.parse("Vacuum the index keeping 1 versions.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.VacuumKeep(1))))
    assert(NLParser.parse("Profile the index by cell.").ops ==
      List(O.IndexCellProfile))
    assert(NLParser.parse("Profile events by day.").ops == List(O.DayProfile))
    // the axis can't cross: a day profile of the index is nonsense
    assertThrows[NLParser.ParseException](
      NLParser.parse("Profile the index by day."))
    assertThrows[NLParser.ParseException](
      NLParser.parse("Profile events by cell."))
    assert(NLParser.parse(
      "Compact the index and select columns vec_id and cell.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Compact), O.Select(Seq("vec_id", "cell"))))
    // the table verbs are untouched by the index twins
    assert(NLParser.parse("Vacuum the table keeping 2 versions.").ops ==
      List(O.VacuumKeep(2)))
  }

  test("find top-k similar to a literal query vector") {
    assert(NLParser.parse(
      "Find top 5 most similar vectors to vector [0.1, -0.2, 0.25].").ops ==
      List(O.SimilarTopKVec(Seq(0.1f, -0.2f, 0.25f), 5)))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to vector [1, 0] using quantized " +
      "codes.").ops ==
      List(O.SimilarTopKVec(Seq(1f, 0f), 5, SimilarScoring.Pq())))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to vector [1, 0] using quantized " +
      "codes with rerank 50.").ops ==
      List(O.SimilarTopKVec(Seq(1f, 0f), 5, SimilarScoring.Pq(Some(50)))))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Find top 5 most similar vectors to vector [1, 0] using quantized " +
      "codes with rerank 2."))
  }

  test("find top-k similar through a random projection") {
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using random projection.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Proj())))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using a random projection " +
      "with rerank 50.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Proj(Some(50)))))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to vector [1, 0] using random " +
      "projection with rerank 50.").ops ==
      List(O.SimilarTopKVec(Seq(1f, 0f), 5, SimilarScoring.Proj(Some(50)))))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Find top 5 most similar vectors to 3 using random projection " +
      "with rerank 2."))
  }

  test("project embeddings to fewer dimensions") {
    assert(NLParser.parse("Project the embeddings to 16 dimensions.").ops ==
      List(O.ProjectEmbeddings(16)))
    assert(NLParser.parse("Project vectors to 8 dims.").ops ==
      List(O.ProjectEmbeddings(8)))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Project the embeddings to 0 dimensions."))
  }

  test("find top-k similar through int8 codes") {
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using int8 codes.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Sq8())))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using int8 quantization " +
      "with rerank 50.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Sq8(Some(50)))))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to vector [1, 0] using int8 " +
      "codes with rerank 50.").ops ==
      List(O.SimilarTopKVec(Seq(1f, 0f), 5, SimilarScoring.Sq8(Some(50)))))
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Find top 5 most similar vectors to 3 using int8 codes " +
      "with rerank 2."))
  }

  test("find top-k similar through quantized codes") {
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using quantized codes.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Pq())))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using product quantized codes.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Pq())))
    assert(NLParser.parse(
      "Find top 5 most similar vectors to 3 using quantized codes " +
      "with rerank 50.").ops ==
      List(O.SimilarTopK(3L, 5, SimilarScoring.Pq(Some(50)))))
    // rerank below k is a contradiction, said loudly
    assertThrows[NLParser.ParseException](NLParser.parse(
      "Find top 5 most similar vectors to 3 using quantized codes " +
      "with rerank 2."))
  }

  test("corpus ops compose with relational clauses") {
    assert(NLParser.parse(
      "Filter rows where source == 'src0' and then score quality.").ops ==
      List(O.Filter(P.Cmp(P.Eq, "source", Lit.Str("src0"))), O.ScoreQuality))
    assert(NLParser.parse(
      "Fingerprint documents and drop rolling_fp column.").ops ==
      List(O.Fingerprint, O.Drop(Seq("rolling_fp"))))
    assert(NLParser.parse(
      "Tokenize documents and sort by n_chars desc and keep top 5.").ops ==
      List(O.Tokenize, O.Sort(Seq("n_chars" -> false)), O.Limit(5)))
  }

  test("malformed corpus clauses raise ParseException") {
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup documents by telepathy 0.5.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Cluster duplicates by simhash.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup documents by 3-gram jaccard 0.5 extra junk here.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Find top 5 similar.")
    }
  }

  test("hyphenated words lex without breaking negative numbers") {
    assert(NLParser.parse("Filter rows where delta > -5.").ops ==
      List(O.Filter(P.Cmp(P.Gt, "delta", Lit.Num(-5)))))
  }

  test("hash sample: percent, bare fraction, default seed") {
    assert(NLParser.parse("Sample 1 percent of documents with seed 7.").ops ==
      List(O.SampleHash(0.01, 7L)))
    assert(NLParser.parse("Sample 1% of documents with seed 7.").ops ==
      List(O.SampleHash(0.01, 7L)))
    assert(NLParser.parse("Sample 0.25 of rows.").ops ==
      List(O.SampleHash(0.25, 42L)))
    assert(NLParser.parse("Sample 10% of rows by c_custkey with seed 7.").ops ==
      List(O.SampleHash(0.10, 7L, Some("c_custkey"))))
    assert(NLParser.parse("Sample up to 5 documents per source with seed 7.").ops ==
      List(O.SampleCapPerGroup(5, "source", 7L)))
    assert(NLParser.parse("Sample up to 100 rows per c_mktsegment.").ops ==
      List(O.SampleCapPerGroup(100, "c_mktsegment", 42L)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Sample 120 percent of documents.") // fraction > 1
    }
  }

  test("stratified sample: strata list, seed, duplicate stratum rejected") {
    assert(NLParser.parse(
      "Stratified sample by source src0 at 0.8, src1 at 0.5 with seed 7.").ops ==
      List(O.SampleStratified("source", Seq("src0" -> 0.8, "src1" -> 0.5), 7L)))
    assert(NLParser.parse(
      "Stratified sample by source src0 at 80% and src1 at 50%.").ops ==
      List(O.SampleStratified("source", Seq("src0" -> 0.8, "src1" -> 0.5), 42L)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Stratified sample by source src0 at 0.8, src0 at 0.5.")
    }
  }

  test("dedup by embedding cosine") {
    assert(NLParser.parse("Dedup by embedding cosine above 0.45.").ops ==
      List(O.DedupEmbedding(0.45)))
    assert(NLParser.parse("Dedup by cosine 0.9.").ops ==
      List(O.DedupEmbedding(0.9)))
  }

  test("dedup by embedding cosine using lsh") {
    assert(NLParser.parse("Dedup by embedding cosine above 0.45 using lsh.").ops ==
      List(O.DedupEmbeddingLsh(0.45)))
    assert(NLParser.parse("Dedup by cosine 0.9 with lsh.").ops ==
      List(O.DedupEmbeddingLsh(0.9)))
    assert(NLParser.parse("Dedup by cosine 0.9 lsh.").ops ==
      List(O.DedupEmbeddingLsh(0.9)))
  }

  test("chunk, keywords, and split clauses") {
    assert(NLParser.parse("Chunk documents into 128 token windows with 16 token overlap.").ops ==
      List(O.ChunkDocuments(128, 16)))
    assert(NLParser.parse("Find top 5 keywords per document.").ops ==
      List(O.TfIdfKeywords(5)))
    assert(NLParser.parse(
      "Split documents into 80 percent train, 10 percent validation and " +
        "10 percent test with seed 7.").ops ==
      List(O.AssignSplits(List(("train", 80), ("validation", 10), ("test", 10)), 7L)))
    assert(NLParser.parse("Split into 50% a and 50% b.").ops ==
      List(O.AssignSplits(List(("a", 50), ("b", 50)), 42L)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Split documents into 80 percent train and 30 percent test.")
    }
    assert(NLParser.parse("Curate the best documents up to 10000 tokens.").ops ==
      List(O.BudgetSelect(10000L)))
    assert(NLParser.parse("Repeat documents 2.5 times with seed 11.").ops ==
      List(O.Upsample(2.5, 11L)))
    assert(NLParser.parse("Upsample 3 epochs.").ops == List(O.Upsample(3.0, 42L)))
    assert(NLParser.parse("Sample exactly 100 documents with seed 7.").ops ==
      List(O.SampleExactK(100, 7L)))
    assert(NLParser.parse("Score documents by unigram log probability.").ops ==
      List(O.ScoreUnigramLogProb))
    assert(NLParser.parse("Score the document quality.").ops ==
      List(O.ScoreQuality))
    assert(NLParser.parse("Apply the gopher quality rules.").ops ==
      List(O.GopherRules))
  }

  test("latest-per-key and semantic dedup clauses parse; keep-top unaffected") {
    assert(NLParser.parse("Keep the latest event per user_id.").ops ==
      List(O.LatestPerKey("user_id")))
    assert(NLParser.parse("Keep the last record per device by seen_us.").ops ==
      List(O.LatestPerKey("device", "seen_us")))
    assert(NLParser.parse("Keep top 3 rows.").ops == List(O.Limit(3)))
    assert(NLParser.parse("Dedup by semantic cosine 0.45 with 16 clusters.").ops ==
      List(O.DedupSemantic(0.45, 16)))
    // no cluster clause → 0 = the operator's auto √n cell count
    assert(NLParser.parse("Dedup by semantic cosine 0.6.").ops ==
      List(O.DedupSemantic(0.6, 0)))
    // plain embedding dedup still routes to the all-pairs op
    assert(NLParser.parse("Dedup by embedding cosine 0.45.").ops ==
      List(O.DedupEmbedding(0.45)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by semantic cosine 0.45 with 0 clusters.")
    }
  }

  test("histogram and clip clauses parse with bounds validated") {
    assert(NLParser.parse(
      "Histogram o_totalprice by o_orderpriority from 0 to 600000 in 20 bins.").ops ==
      List(O.Histogram("o_totalprice", "o_orderpriority", 0.0, 600000.0, 20)))
    assert(NLParser.parse("Clip outliers above the 99th percentile of n_chars.").ops ==
      List(O.ClipPercentile("n_chars", 0.99)))
    assert(NLParser.parse("Clip above the 50 percentile of value.").ops ==
      List(O.ClipPercentile("value", 0.5)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Histogram v by g from 10 to 5 in 4 bins.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Clip outliers above the 0th percentile of v.")
    }
  }

  test("review regressions: already-vs-decontaminate precedence, latest tie-break") {
    // share+span wins over a stray "already" — the misroute would die in
    // the ingest-dedup arm on the leftover 'share' token
    assert(NLParser.parse(
      "Drop documents that share 8-token spans already present in the benchmark.").ops ==
      List(O.Decontaminate(8, "benchmark")))
    // explicit tie-break column for frames without event_id
    assert(NLParser.parse(
      "Keep the latest row per device by seen_us tie by row_id.").ops ==
      List(O.LatestPerKey("device", "seen_us", "row_id")))
  }

  test("zorder clause parses and composes with sort/limit") {
    assert(NLParser.parse("Zorder by l_partkey and l_suppkey.").ops ==
      List(O.ZOrderKey("l_partkey", "l_suppkey")))
    assert(NLParser.parse(
      "Zorder by a and b and sort by zvalue, id and keep top 5 rows.").ops ==
      List(O.ZOrderKey("a", "b"),
           O.Sort(Seq("zvalue" -> true, "id" -> true)), O.Limit(5)))
  }

  test("levenshtein, funnel, and cohort clauses parse") {
    assert(NLParser.parse("Dedup by levenshtein 60 blocked by source.").ops ==
      List(O.DedupLevenshtein(60, Some("source"))))
    assert(NLParser.parse("Dedup by edit distance 10.").ops ==
      List(O.DedupLevenshtein(10, None)))
    assert(NLParser.parse("Funnel from signup to purchase.").ops ==
      List(O.Funnel("signup", "purchase")))
    assert(NLParser.parse("Cohort retention by week.").ops ==
      List(O.CohortRetention))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by levenshtein 0.")
    }
  }

  test("normalize clause parses") {
    assert(NLParser.parse("Normalize n_chars per lang.").ops ==
      List(O.ZScore("n_chars", "lang")))
    assert(NLParser.parse("Normalize the column score per each source.").ops ==
      List(O.ZScore("score", "source")))
  }

  test("certify-approx-stats clause parses to the q12 construct") {
    assert(NLParser.parse(
      "Certify approximate stats of distinct l_partkey as parts " +
      "and percentiles of l_extendedprice per l_returnflag.").ops ==
      List(O.CertifyApproxStats("l_partkey", "parts",
                                "l_extendedprice", "l_returnflag")))
    // word variants: 'statistics', singular 'percentile'
    assert(NLParser.parse(
      "Certify the approx statistics of distinct user_id as users " +
      "and percentile of amount per event_type.").ops ==
      List(O.CertifyApproxStats("user_id", "users", "amount", "event_type")))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Certify approximate stats of l_partkey per l_returnflag.")
    }
  }

  test("calibrate-lsh/ivf clauses parse; out-of-range target rejected") {
    assert(NLParser.parse("Calibrate lsh for recall 0.7.").ops ==
      List(O.CalibrateLsh(0.7)))
    assert(NLParser.parse("Calibrate the lsh to target recall 0.9.").ops ==
      List(O.CalibrateLsh(0.9)))
    assert(NLParser.parse("Calibrate ivf for recall 0.7.").ops ==
      List(O.CalibrateIvf(0.7)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Calibrate lsh for recall 1.5.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Calibrate hnsw for recall 0.7.")
    }
  }

  test("embedding dedup accepts a blocked-by tail on the exact form only") {
    assert(NLParser.parse("Dedup by embedding cosine above 0.45 blocked by label.").ops ==
      List(O.DedupEmbedding(0.45, Some("label"))))
    assert(NLParser.parse("Dedup by embedding cosine above 0.45.").ops ==
      List(O.DedupEmbedding(0.45, None)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by cosine 0.45 using lsh blocked by label.")
    }
  }

  test("distinct-sketch clause parses; grouped count still needs group by") {
    assert(NLParser.parse("Count distinct user_id per event_type with a sketch.").ops ==
      List(O.DistinctSketch("user_id", "event_type")))
    // bare grouped count unaffected
    assert(NLParser.parse("Group by city and count names.").ops ==
      List(O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Count, "names", "count")))))
  }

  test("shuffle-shards clause parses; bad shard counts rejected") {
    assert(NLParser.parse("Shuffle documents into 8 shards with seed 13.").ops ==
      List(O.ShuffleShards(8, 13L)))
    assert(NLParser.parse("Shuffle the corpus into 16 shards.").ops ==
      List(O.ShuffleShards(16, 42L)))
    assert(NLParser.parse("Shuffle documents into 8 shards with seed 13 " +
        "and select columns doc_id, shard and shuffle_key.").ops ==
      List(O.ShuffleShards(8, 13L),
        O.Select(Seq("doc_id", "shard", "shuffle_key"))))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Shuffle documents into 0 shards.")
    }
  }

  test("truncate clause parses; non-positive budgets rejected") {
    assert(NLParser.parse("Truncate documents to 128 tokens.").ops ==
      List(O.TruncateTokens(128)))
    assert(NLParser.parse("Truncate the texts to 5 tokens.").ops ==
      List(O.TruncateTokens(5)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Truncate documents to 0 tokens.")
    }
  }

  test("audio decode clause parses; image route unchanged") {
    assert(NLParser.parse("Decode the audio.").ops == List(O.DecodeAudio))
    assert(NLParser.parse("Decode audio metadata.").ops == List(O.DecodeAudio))
    assert(NLParser.parse("Decode the media.").ops == List(O.DecodeMedia))
  }

  test("demux clause parses; missing 'frames' rejected") {
    assert(NLParser.parse("Demux video frames.").ops == List(O.DemuxFrames))
    assert(NLParser.parse("Demux the videos frames.").ops == List(O.DemuxFrames))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Demux video tracks.")
    }
  }

  test("day-profile clause parses; missing 'by day' rejected") {
    assert(NLParser.parse("Profile events by day.").ops == List(O.DayProfile))
    assert(NLParser.parse("Profile the event log by date.").ops ==
      List(O.DayProfile))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Profile events by user.")
    }
  }

  test("temperature sampling clause parses; non-2 temperatures rejected") {
    assert(NLParser.parse("Sample sources at temperature 2 with seed 7.").ops ==
      List(O.SampleTemperature("source", 7L)))
    assert(NLParser.parse("Sample sources at temperature 2 by lang.").ops ==
      List(O.SampleTemperature("lang", 42L)))
    // plain fraction sampling must still route through SampleHash
    assert(NLParser.parse("Sample 1% of documents with seed 7.").ops ==
      List(O.SampleHash(0.01, 7L, None)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Sample sources at temperature 3.")
    }
  }

  test("review regressions: drop-spans column, jaccard bounds, split dup labels") {
    // a column literally named span(s) must stay a column drop — only the
    // share-verb + span combination routes to decontamination
    assert(NLParser.parse("Drop spans column.").ops == List(O.Drop(Seq("spans"))))
    assert(NLParser.parse("Drop span column.").ops == List(O.Drop(Seq("span"))))
    assert(NLParser.parse(
      "Drop documents that share 8-token spans with benchmark.").ops ==
      List(O.Decontaminate(8, "benchmark")))
    // jaccard threshold outside (0, 1] is rejected at parse time
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by 3-gram jaccard 0.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by 3-gram jaccard 1.5.")
    }
    // split labels must be distinct and percents positive
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Split into 50% a and 50% a.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Split into 0% a and 100% b.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Repeat documents 0 times.")
    }
  }

  test("quantize embeddings clause") {
    assert(NLParser.parse("Quantize embeddings to int8.").ops ==
      List(O.QuantizeEmbeddings))
    assert(NLParser.parse("Quantize to int8.").ops ==
      List(O.QuantizeEmbeddings))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Quantize embeddings to int4.")
    }
  }

  test("dedup by wide simhash") {
    assert(NLParser.parse("Dedup by wide simhash hamming 3.").ops ==
      List(O.DedupSimHashWide(3)))
    assert(NLParser.parse("Dedup by wide simhash.").ops ==
      List(O.DedupSimHashWide(3)))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Dedup by wide minhash 0.5.")
    }
  }

  test("sessionize: gap phrasings") {
    assert(NLParser.parse("Sessionize events with 30 minute gap.").ops ==
      List(O.Sessionize(30)))
    assert(NLParser.parse("Sessionize events with a gap of 15 minutes.").ops ==
      List(O.Sessionize(15)))
    assert(NLParser.parse("Sessionize events with a gap of 2 hours.").ops ==
      List(O.Sessionize(120)))
  }

  test("count events per window vs relational count") {
    assert(NLParser.parse("Count events per 1 hour window.").ops ==
      List(O.TumblingCount(1, "hour")))
    assert(NLParser.parse("Count events per 30 minute windows.").ops ==
      List(O.TumblingCount(30, "minute")))
    assert(NLParser.parse("Count events per 1 hour window every 15 minutes.").ops ==
      List(O.SlidingCount(1, "hour", 15, "minute")))
    // "count <col>" after group-by is still the relational aggregate
    assert(NLParser.parse("Group by city and count names.").ops ==
      List(O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Count, "names", "count")))))
  }

  test("'order by' and 'take top' synonyms") {
    assert(NLParser.parse("Order by age desc and take top 5 rows.").ops ==
      List(O.Sort(Seq("age" -> false)), O.Limit(5)))
  }

  test("multi-key sort: comma, 'and', 'and then by' separators") {
    assert(NLParser.parse("Sort by age desc, name asc.").ops ==
      List(O.Sort(Seq("age" -> false, "name" -> true))))
    assert(NLParser.parse("Sort by age desc and name asc.").ops ==
      List(O.Sort(Seq("age" -> false, "name" -> true))))
    assert(NLParser.parse("Sort by age desc and then by name.").ops ==
      List(O.Sort(Seq("age" -> false, "name" -> true))))
    assert(NLParser.parse(
      "Sort by age desc, name asc and keep top 5 rows.").ops ==
      List(O.Sort(Seq("age" -> false, "name" -> true)), O.Limit(5)))
  }

  test("multi-aggregate show clause; trailing garbage rejected") {
    assert(NLParser.parse(
      "Group by city and show average age and sum salary, max bonus.").ops ==
      List(O.GroupAgg(Seq("city"), Seq(
        AggSpec(AggFunc.Avg, "age", "average_age"),
        AggSpec(AggFunc.Sum, "salary", "sum_salary"),
        AggSpec(AggFunc.Max, "bonus", "max_bonus")))))
    assert(NLParser.parse("Group by city and show median age.").ops ==
      List(O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Median, "age", "median_age")))))
    // single-agg + having unchanged (eval19 shape)
    assert(NLParser.parse(
      "Group by city and show average age where average_age > 30.").ops ==
      List(O.GroupAgg(Seq("city"), Seq(AggSpec(AggFunc.Avg, "age", "average_age"))),
           O.Having(P.Cmp(P.Gt, "average_age", Lit.Num(30)))))
    // duplicate aggregate and trailing junk both raise now
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Group by city and show average age and average age.")
    }
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Group by city and show average age nonsense here.")
    }
  }

  test("repeated spans clause, and find top-k stays intact") {
    assert(NLParser.parse("Find repeated spans of 10 tokens.").ops ==
      List(O.RepeatedSpans(10, 2)))
    assert(NLParser.parse("Find repeated spans of 8 tokens in at least 3 documents.").ops ==
      List(O.RepeatedSpans(8, 3)))
    assert(NLParser.parse("Find top 5 most similar vectors to 3.").ops ==
      List(O.SimilarTopK(3L, 5)))
    assert(NLParser.parse("Find top 10 tokens by source.").ops ==
      List(O.TopTokens(10, "source")))
    assert(NLParser.parse("Find top 20 tokens.").ops ==
      List(O.TopTokens(20, "source")))
    assert(NLParser.parse("Find top 10 tokens by source using a sketch.").ops ==
      List(O.TopTokensSketch(10, "source", 256)))
    assert(NLParser.parse("Find top 10 tokens with a sketch of capacity 64.").ops ==
      List(O.TopTokensSketch(10, "source", 64)))
  }

  test("multimodal and corpus-stats clauses") {
    assert(NLParser.parse("Decode the media.").ops == List(O.DecodeMedia))
    assert(NLParser.parse("Decode images metadata.").ops == List(O.DecodeMedia))
    assert(NLParser.parse("Sample frames from the videos.").ops ==
      List(O.SampleFrames))
    assert(NLParser.parse("Resize the images to 256 pixels.").ops ==
      List(O.ResizeMedia(256)))
    assert(NLParser.parse("Decode the media and resize images to 256 pixels.").ops ==
      List(O.DecodeMedia, O.ResizeMedia(256)))
    assert(NLParser.parse("Compute corpus statistics by source.").ops ==
      List(O.CorpusStats("source")))
    assert(NLParser.parse("Compute corpus stats.").ops ==
      List(O.CorpusStats("source")))
    assertThrows[NLParser.ParseException] {
      NLParser.parse("Resize the images to 0 pixels.")
    }
    // "sample frames" must not collide with the fraction grammar
    assert(NLParser.parse("Sample 0.25 of rows.").ops ==
      List(O.SampleHash(0.25, 42L)))
  }

  test("columns named like clause keywords stay predicates") {
    // `score`, `cluster`, `sample`, `count` are clause keywords; followed
    // by a comparison they are column references, not clause starts
    assert(NLParser.parse("Filter rows where quality > 0.3 and score > 0.5.").ops ==
      List(O.Filter(P.And(
        P.Cmp(P.Gt, "quality", Lit.Num(0.3)), P.Cmp(P.Gt, "score", Lit.Num(0.5))))))
    assert(NLParser.parse(
      "Filter rows where n > 1 and cluster between 1 and 5.").ops ==
      List(O.Filter(P.And(
        P.Cmp(P.Gt, "n", Lit.Num(1)), P.Between("cluster", Lit.Num(1), Lit.Num(5))))))
    assert(NLParser.parse("Sort by count desc and score asc.").ops ==
      List(O.Sort(Seq("count" -> false, "score" -> true))))
    // while actual clause uses still split
    assert(NLParser.parse(
      "Filter rows where source == 'src0' and score quality.").ops ==
      List(O.Filter(P.Cmp(P.Eq, "source", Lit.Str("src0"))), O.ScoreQuality))
    // a BARE trailing keyword: column in a column-list clause, operator
    // after a filter
    assert(NLParser.parse("Select columns cluster and score.").ops ==
      List(O.Select(Seq("cluster", "score"))))
    assert(NLParser.parse("Sort by age and count.").ops ==
      List(O.Sort(Seq("age" -> true, "count" -> true))))
    assert(NLParser.parse("Filter rows where n > 1 and tokenize.").ops ==
      List(O.Filter(P.Cmp(P.Gt, "n", Lit.Num(1))), O.Tokenize))
    // "select" in its FILTER form ("select rows where …") is
    // predicate-shaped: a bare trailing operator still splits off
    assert(NLParser.parse("Select rows where quality > 0.3 and tokenize.").ops ==
      List(O.Filter(P.Cmp(P.Gt, "quality", Lit.Num(0.3))), O.Tokenize))
    assert(NLParser.parse("Select rows where n > 1 and fingerprint.").ops ==
      List(O.Filter(P.Cmp(P.Gt, "n", Lit.Num(1))), O.Fingerprint))
    // …while the projection form still reads trailing keywords as columns
    assert(NLParser.parse("Select columns doc_id and fingerprint.").ops ==
      List(O.Select(Seq("doc_id", "fingerprint"))))
  }

  test("rollup/cube grouping clauses with rounded + aliased aggregates") {
    assert(NLParser.parse(
      "Rollup by r_name and n_name, and show sum o_totalprice rounded to 2 " +
      "as revenue and count rows as n_orders.").ops ==
      List(O.RollupAgg(Seq("r_name", "n_name"), Seq(
        AggSpec(AggFunc.Sum, "o_totalprice", "revenue", Some(2)),
        AggSpec(AggFunc.Count, "*", "n_orders")))))
    assert(NLParser.parse(
      "Cube by o_orderstatus and o_orderpriority, and show count rows as " +
      "n_orders and sum o_totalprice rounded to 2 as revenue.").ops ==
      List(O.CubeAgg(Seq("o_orderstatus", "o_orderpriority"), Seq(
        AggSpec(AggFunc.Count, "*", "n_orders"),
        AggSpec(AggFunc.Sum, "o_totalprice", "revenue", Some(2))))))
    // a dangling rollup without its aggregate clause is rejected
    intercept[NLParser.ParseException] {
      NLParser.parse("Rollup by r_name and n_name.")
    }
  }

  test("pivot and unpivot clauses") {
    assert(NLParser.parse(
      "Pivot count of o_orderstatus values 'F', 'O' and 'P' by o_orderpriority.").ops ==
      List(O.PivotCount("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"))))
    assert(NLParser.parse(
      "Pivot count of o_orderstatus values 'F', 'O' and 'P' by o_orderpriority, " +
      "and unpivot F, O and P to o_orderstatus as n_orders.").ops ==
      List(O.PivotCount("o_orderpriority", "o_orderstatus", Seq("F", "O", "P")),
           O.UnpivotCols(Seq("F", "O", "P"), "o_orderstatus", "n_orders")))
    intercept[NLParser.ParseException] {
      NLParser.parse("Pivot count of o_orderstatus values 'F' and 'F' by x.")
    }
  }

  test("rank and ntile window clauses") {
    assert(NLParser.parse(
      "Rank by o_totalprice desc within o_custkey tie by o_orderkey keep top 3.").ops ==
      List(O.WindowTopN("o_totalprice", desc = true, "o_custkey",
                        "o_orderkey", 3, "rn")))
    assert(NLParser.parse(
      "Ntile o_totalprice into 4 within o_orderpriority tie by o_orderkey " +
      "as quartile.").ops ==
      List(O.NtileBucket(4, "o_totalprice", "o_orderpriority",
                         "o_orderkey", "quartile")))
    intercept[NLParser.ParseException] {
      NLParser.parse("Rank by x desc within g tie by t keep top 0.")
    }
  }

  test("union/except set ops and the plain broadcast join") {
    assert(NLParser.parse(
      "Filter rows where c_mktsegment == 'BUILDING' and select columns " +
      "c_custkey and c_name, and union with rich_auto, and except neg_bal.").ops ==
      List(O.Filter(P.Cmp(P.Eq, "c_mktsegment", Lit.Str("BUILDING"))),
           O.Select(Seq("c_custkey", "c_name")),
           O.UnionTable("rich_auto"),
           O.ExceptTable("neg_bal")))
    assert(NLParser.parse(
      "Join orders to customer on o_custkey = c_custkey.").ops ==
      List(O.JoinTable("customer", "o_custkey", "c_custkey")))
    // the salted form still routes to the skew join
    assert(NLParser.parse(
      "Join orders to customer on o_custkey = c_custkey salted 8 ways.").ops ==
      List(O.SaltedJoin("customer", "o_custkey", "c_custkey", 8)))
  }

  test("bucketed-write clause parses with key, count, and table name") {
    assert(NLParser.parse(
      "Write orders bucketed by o_custkey into 16 buckets as my_table.").ops ==
      List(O.WriteBucketed("my_table", "o_custkey", 16)))
    assert(NLParser.parse("Write bucketed by k into 4 buckets.").ops ==
      List(O.WriteBucketed("graft_bucketed", "k", 4)))
    intercept[NLParser.ParseException] {
      NLParser.parse("Write orders bucketed by k into 0 buckets.")
    }
  }

  test("extract, running/trailing window, and count-distinct clauses parse") {
    assert(NLParser.parse("Extract year of o_orderdate as order_year.").ops ==
      List(O.DeriveDatePart("year", "o_orderdate", "order_year")))
    assert(NLParser.parse("Extract epoch millis of o_orderdate as order_ms.").ops ==
      List(O.DeriveDatePart("epoch_ms", "o_orderdate", "order_ms")))
    assert(NLParser.parse(
      "Show running sum of o_totalprice per o_custkey ordered by " +
      "o_orderdate tie by o_orderkey rounded to 2 as running_revenue.").ops ==
      List(O.WindowAgg("o_totalprice", "o_custkey",
        Seq("o_orderdate", "o_orderkey"), "running_revenue", Some(2), None)))
    assert(NLParser.parse(
      "Show trailing 30 day sum of o_totalprice per o_custkey ordered by " +
      "order_ms rounded to 2 as t30.").ops ==
      List(O.WindowAgg("o_totalprice", "o_custkey", Seq("order_ms"),
        "t30", Some(2), Some(30L * 86400000L))))
    assert(NLParser.parse(
      "Group by o_orderstatus and show count distinct o_custkey as " +
      "n_customers and count rows as n_orders.").ops ==
      List(O.GroupAgg(Seq("o_orderstatus"), Seq(
        AggSpec(AggFunc.CountDistinct, "o_custkey", "n_customers"),
        AggSpec(AggFunc.Count, "*", "n_orders")))))
    intercept[NLParser.ParseException] {
      NLParser.parse("Extract century of o_orderdate as c.")
    }
  }

  test("plain semi and anti joins parse; the bloom tail still routes to bloom") {
    assert(NLParser.parse(
      "Keep rows matching lineitem on p_partkey = l_partkey.").ops ==
      List(O.SemiJoinTable("lineitem", "p_partkey", "l_partkey")))
    assert(NLParser.parse(
      "Keep rows matching urgent on l_orderkey = o_orderkey with a bloom filter.").ops ==
      List(O.BloomSemiJoin("urgent", "l_orderkey", "o_orderkey")))
    assert(NLParser.parse(
      "Drop rows matching bigorders on c_custkey = o_custkey.").ops ==
      List(O.AntiJoinTable("bigorders", "c_custkey", "o_custkey")))
    // plain column drops are unaffected
    assert(NLParser.parse("Drop city column.").ops == List(O.Drop(Seq("city"))))
  }

  test("arithmetic expression aggregates parse with precedence and parens") {
    import graft.plans.{NumExpr => N}
    assert(NLParser.parse(
      "Group by g and show sum of l_extendedprice times (1 - l_discount) " +
      "rounded to 2 as revenue.").ops ==
      List(O.GroupAgg(Seq("g"), Seq(AggSpec(AggFunc.Sum, "__expr__", "revenue",
        Some(2), Some(N.Mul(N.ColRef("l_extendedprice"),
                            N.Sub(N.Const(1), N.ColRef("l_discount")))))))))
    // times binds tighter than plus; bare columns stay the plain path
    assert(NLParser.parse("Group by g and show sum of a plus b times c as s.").ops ==
      List(O.GroupAgg(Seq("g"), Seq(AggSpec(AggFunc.Sum, "__expr__", "s", None,
        Some(N.Add(N.ColRef("a"), N.Mul(N.ColRef("b"), N.ColRef("c")))))))))
    assert(NLParser.parse("Group by g and show sum of x as s.").ops ==
      List(O.GroupAgg(Seq("g"), Seq(AggSpec(AggFunc.Sum, "x", "s")))))
    // an expression aggregate without an alias is rejected
    intercept[NLParser.ParseException] {
      NLParser.parse("Group by g and show sum of a times b.")
    }
    // hyphenated words and negative numbers still lex as before
    assert(NLParser.parse("Dedup by 3-gram jaccard 0.5.").ops ==
      List(O.DedupJaccard(3, 0.5, None)))
    assert(NLParser.parse("Filter rows where t > -5.").ops ==
      List(O.Filter(P.Cmp(P.Gt, "t", Lit.Num(-5)))))
  }

  test("join broadcast hint is opt-in; plain joins leave the planner free") {
    assert(NLParser.parse(
      "Join orders to customer on o_custkey = c_custkey broadcast.").ops ==
      List(O.JoinTable("customer", "o_custkey", "c_custkey", broadcastRight = true)))
    assert(NLParser.parse(
      "Join lineitem to orders on l_orderkey = o_orderkey.").ops ==
      List(O.JoinTable("orders", "l_orderkey", "o_orderkey", broadcastRight = false)))
  }

  test("oxford comma before a clause boundary is tolerated") {
    assert(NLParser.parse(
      "Sort by o_totalprice desc and then by o_orderkey, and keep top 10 rows, " +
      "and select columns o_orderkey, o_custkey and o_totalprice.").ops ==
      List(O.Sort(Seq("o_totalprice" -> false, "o_orderkey" -> true)),
           O.Limit(10),
           O.Select(Seq("o_orderkey", "o_custkey", "o_totalprice"))))
  }

  test("bm25 retrieval: comma and 'and' term separators") {
    assert(NLParser.parse(
      "Find top 5 documents matching spark, join and fast.").ops ==
      List(O.LexTopK(Seq("spark", "join", "fast"), 5)))
    assert(NLParser.parse("Find top 3 docs matching table.").ops ==
      List(O.LexTopK(Seq("table"), 3)))
  }

  test("hybrid retrieval: fused with vector, optional depth") {
    assert(NLParser.parse(
      "Find top 5 documents matching spark, join fused with vector 2.").ops ==
      List(O.HybridTopK(Seq("spark", "join"), 5, 2L, 20)))
    assert(NLParser.parse(
      "Find top 5 documents matching spark fused with vector 0 at depth 7.").ops ==
      List(O.HybridTopK(Seq("spark"), 5, 0L, 7)))
  }

  test("hybrid retrieval rejects depth below k") {
    val e = intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching spark fused with vector 0 at depth 3.")
    }
    assert(e.msg.contains("depth"))
  }

  test("'most similar documents to' stays the vector route") {
    assert(NLParser.parse("Find top 5 most similar documents to 3.").ops ==
      List(O.SimilarTopK(3L, 5)))
  }

  test("lexical index probe; plain index search unaffected") {
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark, join, fast.").ops ==
      List(O.LexProbe(Seq("spark", "join", "fast"), 5)))
    assert(NLParser.parse(
      "Search the index for top 5 similar to 3 probing 4 cells.").ops ==
      List(O.IndexSearch(3L, 5, 4)))
  }

  test("sloppy-phrase routes: quoted phrase + 'with slop N' on the flat " +
       "scan and the index probe; bare quoted phrase stays exact") {
    // the phrase and sloppy forms are rows of the sentence-form table
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching \"spark fast\" with slop -1.")
    }.msg.nonEmpty)
  }

  test("hybrid-MMR route: lambda + depth + probing + spoken query id") {
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark, join, fast " +
      "with lambda 0.7 at depth 10 probing 4 cells for query 0.").ops ==
      List(O.LexServe(Seq("spark", "join", "fast"), 5, LexQuery(), 10,
        Some(ServeArm.ById(0L, 4)), Some(0.7))))
    // without the probing tail the plain at-rest MMR route is untouched
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark with lambda " +
      "0.7 at depth 10.").ops ==
      List(O.LexServe(Seq("spark"), 5, LexQuery(), 10, None, Some(0.7))))
    // the literal-hybrid form takes a trailing lambda (diversified
    // production sentence); without it the plain literal hybrid holds
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark, join fused " +
      "with vector [0.1, -0.2] at depth 10 probing 4 cells with " +
      "lambda 0.7.").ops ==
      List(O.LexServe(Seq("spark", "join"), 5, LexQuery(), 10,
        Some(ServeArm.Literal(Seq(0.1f, -0.2f), 4)), Some(0.7))))
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark fused with " +
      "vector [0.1, -0.2] at depth 10 probing 4 cells.").ops ==
      List(O.LexServe(Seq("spark"), 5, LexQuery(), 10,
        Some(ServeArm.Literal(Seq(0.1f, -0.2f), 4)), None)))
  }

  test("bm25f weighting routes: field/weight list on the flat scan and " +
       "the fielded-index probe") {
    // both routes' weighting forms are rows of the sentence-form table;
    // "and" separates weights as commas do
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark weighting " +
      "title 2.5 and text 0.5.").ops ==
      List(O.LexProbe(Seq("spark"), 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("title" -> 2.5, "text" -> 0.5))))))
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching spark weighting title 0.")
    }.msg.contains("weights"))
  }

  test("full-BM25F routes: 'normalizing' per-field b list on the flat " +
       "scan and the fielded probe; field names must repeat in order") {
    // both routes' normalizing forms are rows of the sentence-form
    // table; the b bounds are inclusive
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark weighting " +
      "title 2, text 1 normalizing title 0, text 1.").ops ==
      List(O.LexProbe(Seq("spark"), 5, LexQuery(scoring =
        LexQuery.Bm25FFull(Seq(("title", 2.0, 0.0), ("text", 1.0, 1.0)))))))
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching spark weighting title 2, text 1 " +
        "normalizing text 0.75, title 0.3.")
    }.msg.contains("in order"))
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching spark weighting title 2 " +
        "normalizing title 1.5.")
    }.msg.contains("[0,1]"))
  }

  test("fielded-phrase routes: 'in <field>' scopes the quoted run to one " +
       "field's stream, slop composes, weighting required") {
    // the fielded phrase and sloppy forms are rows of the sentence-form
    // table; "the" before the field name is noise
    assert(NLParser.parse(
      "Find top 5 documents matching \"the fast\" in the title " +
      "weighting title 2, text 1.").ops ==
      List(O.LexTopK(Seq("the", "fast"), 5, LexQuery(
        LexQuery.Phrase(Some("title")), LexQuery.Bm25F(Weights)))))
    // 'in <field>' without a weighting list is out of grammar
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Find top 5 documents matching \"the fast\" in title.")
    }.msg.nonEmpty)
  }

  test("fielded-hybrid route: weighting list + fused + probing + spoken " +
       "query id; depth defaults; the plain fielded probe is untouched") {
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark, join " +
      "weighting title 2, text 1 fused at depth 20 probing 4 cells " +
      "for query 0.").ops ==
      List(O.LexServe(Seq("spark", "join"), 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("title" -> 2.0, "text" -> 1.0))),
        20, Some(ServeArm.ById(0L, 4)), None)))
    // depth defaults to 20; a where tail pre-filters both arms
    assert(NLParser.parse(
      "Search the lexical index for top 5 matching spark weighting " +
      "title 2, text 1 fused probing 4 cells for query 3 where " +
      "lang == 'en'.").ops ==
      List(O.LexServe(Seq("spark"), 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("title" -> 2.0, "text" -> 1.0))),
        20, Some(ServeArm.ById(3L, 4)), None,
        Some(Pred.Cmp(Pred.Eq, "lang", Lit.Str("en"))))))
    assert(intercept[NLParser.ParseException] {
      NLParser.parse(
        "Search the lexical index for top 5 matching spark weighting " +
        "title 2, text 1 fused at depth 2 probing 4 cells for query 0.")
    }.msg.contains("depth"))
  }

  test("every two-store serving form parses to its LexServe (vector arm × " +
       "MMR, defaults included); forms outside the grammar still fail") {
    import ServeArm.{ById, Literal}
    val en = Some(Pred.Cmp(Pred.Eq, "lang", Lit.Str("en")))
    val lit = Literal(Seq(0.1f, -0.2f), 4)
    val fielded = LexQuery(scoring = LexQuery.Bm25F(Weights))
    val st = Seq("spark", "join")
    val forms: Seq[(String, Op)] = Seq(
      "spark, join fused with vector [0.1, -0.2] probing 4 cells" ->
        O.LexServe(st, 5, LexQuery(), 20, Some(lit), None),
      "spark, join fused with vector [0.1, -0.2] at depth 10 probing 4 " +
        "cells where lang == 'en'" ->
        O.LexServe(st, 5, LexQuery(), 10, Some(lit), None, en),
      "spark, join fused with vector [0.1, -0.2] probing 4 cells with " +
        "lambda 0.7" ->
        O.LexServe(st, 5, LexQuery(), 20, Some(lit), Some(0.7)),
      "spark, join fused with vector [0.1, -0.2] at depth 10 probing 4 " +
        "cells with lambda 0.7 where lang == 'en'" ->
        O.LexServe(st, 5, LexQuery(), 10, Some(lit), Some(0.7), en),
      "spark, join with lambda 0.7" ->
        O.LexServe(st, 5, LexQuery(), 10, None, Some(0.7)),
      "spark, join with lambda 0.7 at depth 15" ->
        O.LexServe(st, 5, LexQuery(), 15, None, Some(0.7)),
      "spark, join with lambda 0.7 probing 4 cells for query 3" ->
        O.LexServe(st, 5, LexQuery(), 10, Some(ById(3L, 4)), Some(0.7)),
      "spark, join with lambda 0.7 at depth 15 probing 4 cells for query 3" ->
        O.LexServe(st, 5, LexQuery(), 15, Some(ById(3L, 4)), Some(0.7)),
      "spark, join weighting title 2, text 1 fused probing 4 cells for " +
        "query 3" ->
        O.LexServe(st, 5, fielded, 20, Some(ById(3L, 4)), None),
      "spark, join weighting title 2, text 1 fused at depth 10 probing 4 " +
        "cells for query 3 where lang == 'en'" ->
        O.LexServe(st, 5, fielded, 10, Some(ById(3L, 4)), None, en))
    for ((form, op) <- forms)
      assert(NLParser.parse(s"$ProbeRoute $form.").ops == List(op), form)
    val outside = Seq(
      "\"spark join\" fused with vector [0.1, -0.2] probing 4 cells",
      "spark weighting title 2, text 1 with lambda 0.7",
      "spark fused with vector [0.1, -0.2] probing 4 cells for query 0")
    for (form <- outside)
      intercept[NLParser.ParseException](NLParser.parse(s"$ProbeRoute $form."))
  }

  test("filtered lexical retrieval: 'where' tails on the flat scan and " +
       "the index probe") {
    // every form of the sentence-form table, on both routes, takes the
    // candidate filter as its tail
    val en = Pred.Cmp(Pred.Eq, "lang", Lit.Str("en"))
    for ((route, form, tokens, q) <- lexicalForms) {
      val ops = NLParser.parse(s"$route $form where lang == 'en'.").ops
      assert(ops == List(lexicalOp(route, tokens, q, Some(en))), s"$route $form")
    }
    // a compound predicate rides the same grammar as filters
    assert(NLParser.parse(
      "Find top 5 documents matching spark, join where lang == 'en' or " +
      "lang == 'de'.").ops ==
      List(O.LexTopK(Seq("spark", "join"), 5, where = Some(Pred.Or(en,
        Pred.Cmp(Pred.Eq, "lang", Lit.Str("de")))))))
  }

  test("every lexical sentence form parses to its (tokens, LexQuery, " +
       "where) on both routes, and every IVF scoring to its probe") {
    for ((route, form, tokens, q) <- lexicalForms)
      assert(NLParser.parse(s"$route $form.").ops ==
        List(lexicalOp(route, tokens, q, None)), s"$route $form")
    val ivfForms = Seq(
      "" -> IvfScoring.Exact,
      "with quantized codes " -> IvfScoring.Adc,
      "with product quantized codes " -> IvfScoring.Adc,
      "with int8 codes " -> IvfScoring.Sq8,
      "with int8 quantized codes " -> IvfScoring.Sq8)
    for ((spoken, scoring) <- ivfForms) {
      assert(NLParser.parse(s"Search the index ${spoken}for top 5 similar " +
        "to 3 probing 4 cells.").ops == List(O.IndexSearch(3L, 5, 4, scoring)))
      assert(NLParser.parse(s"Search the index ${spoken}for top 3 similar " +
        "to vector [1, 0, -1] probing 2 cells.").ops ==
        List(O.IndexSearchVec(Seq(1f, 0f, -1f), 3, 2, scoring)))
    }
  }

  test("an unsupported lexical pair fails at parse time on both routes, " +
       "with the query's own message") {
    for (route <- Seq(FlatRoute, ProbeRoute)) {
      val e = intercept[NLParser.ParseException] {
        NLParser.parse(s"$route \"the fast\" in body weighting title 2, text 1.")
      }
      assert(e.msg.startsWith("phrase field 'body' is not one of the scored fields"),
        e.msg)
    }
  }

  test("lexical index maintenance verbs; vector-index verbs unaffected") {
    assert(NLParser.parse("Profile the lexical index by bucket.").ops ==
      List(O.LexBucketProfile))
    assert(NLParser.parse("Profile the index by cell.").ops ==
      List(O.IndexCellProfile))
    assert(NLParser.parse("Profile events by day.").ops == List(O.DayProfile))
    assert(NLParser.parse("Compact the lexical index.").ops ==
      List(O.IndexMaintain(IndexStore.Lexical, IndexVerb.Compact)))
    assert(NLParser.parse("Compact the index.").ops == List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Compact)))
    assert(NLParser.parse("Vacuum the lexical index keeping 2 versions.").ops ==
      List(O.IndexMaintain(IndexStore.Lexical, IndexVerb.VacuumKeep(2))))
    assert(NLParser.parse("Vacuum the index keeping 1 versions.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.VacuumKeep(1))))
  }

  test("mmr diversification route: lambda bounds, default depth, depth >= k") {
    assert(NLParser.parse(
      "Find top 5 documents matching spark, join, fast with lambda 0.7 " +
      "at depth 10.").ops ==
      List(O.MmrTopK(Seq("spark", "join", "fast"), 5, 0.7, 10)))
    assert(NLParser.parse(
      "Find top 3 documents matching spark with lambda 1.").ops ==
      List(O.MmrTopK(Seq("spark"), 3, 1.0, 10)))
    assert(intercept[NLParser.ParseException](NLParser.parse(
      "Find top 5 documents matching spark with lambda 1.5."))
      .msg.contains("lambda"))
    assert(intercept[NLParser.ParseException](NLParser.parse(
      "Find top 5 documents matching spark with lambda 0.7 at depth 3."))
      .msg.contains("depth"))
  }

  test("offline index evaluation route: recall and ndcg, positive bounds") {
    assert(NLParser.parse(
      "Evaluate recall at 5 for queries below 8 probing 4 cells.").ops ==
      List(O.IndexEval(ndcg = false, 5, 8L, 4)))
    assert(NLParser.parse(
      "Evaluate ndcg at 3 for queries below 16 probing 2 cells.").ops ==
      List(O.IndexEval(ndcg = true, 3, 16L, 2)))
    val e = intercept[NLParser.ParseException] {
      NLParser.parse("Evaluate precision at 5 for queries below 8 probing 4 cells.")
    }
    assert(e.msg.contains("recall and ndcg"))
  }

  test("lexical index erasure: by doc ids and by attribute sweep; the " +
       "vector and log erases keep their routes") {
    assert(NLParser.parse("Delete docs 3, 7 from the lexical index.").ops ==
      List(O.IndexMaintain(IndexStore.Lexical, IndexVerb.Erase(Seq(3L, 7L)))))
    assert(NLParser.parse(
      "Erase documents where lang == 'de' from the lexical index.").ops ==
      List(O.IndexMaintain(IndexStore.Lexical, IndexVerb.EraseWhere(Pred.Cmp(Pred.Eq, "lang", Lit.Str("de"))))))
    assert(NLParser.parse("Erase vectors 3, 7 from the index.").ops ==
      List(O.IndexMaintain(IndexStore.Vector, IndexVerb.Erase(Seq(3L, 7L)))))
    assert(NLParser.parse("Delete user_id 42 from the table.").ops ==
      List(O.DeleteByKey("user_id", Seq(42L))))
  }
}
