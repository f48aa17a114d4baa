package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.operators.{IvfIndex, LexIndex, LexQuery, Retrieval, ServeVector}

/** Streaming keyword/hybrid serving ≡ batch probes — the
  * [[VectorStreamsSpec]] contract for the lexical arm: batching
  * boundaries must not show (per-query results are independent), a
  * mid-stream index append is picked up whole at the next boundary,
  * restart replay is idempotent, and the filtered serve matches the
  * filtered batch probe. */
class LexStreamsSpec extends SparkSpec {

  import spark.implicits._

  private val K = 3

  private val docsFx = Seq(
    (0L, "spark join fast spark", "en"),
    (1L, "join slow table join join", "fr"),
    (2L, "spark spark spark", "en"),
    (3L, "hash merge batch", "fr"),
    (4L, "fast fast join spark table", "en"),
    (5L, "merge table scan window", "fr"),
    (6L, "window scan scan batch slow", "en"))
  private def docsDf = docsFx.toDF("doc_id", "text", "lang")

  private val queryFx: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"), 1L -> Seq("table", "scan"),
    2L -> Seq("fast", "batch"), 3L -> Seq("window", "slow"))

  private def queriesDf(qs: Seq[(Long, Seq[String])]) =
    spark.createDataFrame(qs).toDF("query_id", "terms")

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-lstream").toString

  private def stopQuietly(q: StreamingQuery): Unit =
    try q.stop() catch { case _: Exception => () }

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("query_id", "doc_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  test("streamed keyword probes equal one batch search over the union; " +
       "a mid-stream append is picked up at the next batch boundary") {
    val dir = freshDir()
    val index = s"$dir/index"
    val (half, rest) = docsFx.partition(_._1 < 4)
    LexIndex.build(half.toDF("doc_id", "text", "lang"), index, buckets = 16)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
      s"$dir/ckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K)
    }
    try {
      stream.addData(queryFx.take(2))
      q.processAllAvailable()
      LexIndex.append(rest.toDF("doc_id", "text", "lang"), index)
      stream.addData(queryFx.drop(2))
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    // batch 0 probed the half index, batch 1 the appended one
    val halfTwin = s"$dir/half"
    LexIndex.build(half.toDF("doc_id", "text", "lang"), halfTwin, buckets = 16)
    val b0 = ranked(LexIndex.search(spark, halfTwin,
      queriesDf(queryFx.take(2)), K))
    val b1 = ranked(LexIndex.search(spark, index,
      queriesDf(queryFx.drop(2)), K))
    assert(streamed == (b0 ++ b1).sorted && streamed.nonEmpty)
  }

  test("streamed phrase probes equal the batch searchPhrase over the " +
       "positional index, across batch boundaries") {
    val dir = freshDir()
    val index = s"$dir/index"
    LexIndex.build(docsDf, index, buckets = 16, positions = true)
    implicit val sqlCtx = spark.sqlContext
    val phraseFx: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("spark", "join"), 1L -> Seq("join", "fast"),
      2L -> Seq("spark", "spark"), 3L -> Seq("window", "scan", "scan"))
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "phrase"), s"$dir/out",
      s"$dir/ckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K, LexQuery(LexQuery.Phrase()))
    }
    try {
      stream.addData(phraseFx.take(2))
      q.processAllAvailable()
      stream.addData(phraseFx.drop(2))
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    val batch = ranked(LexIndex.search(spark, index,
      spark.createDataFrame(phraseFx).toDF("query_id", "phrase"), K,
        LexQuery(LexQuery.Phrase())))
    assert(streamed == batch && streamed.nonEmpty)
    // and the batch twin equals the flat phrase scan (the full chain)
    assert(batch == ranked(Retrieval.bm25TopK(docsDf,
      spark.createDataFrame(phraseFx).toDF("query_id", "phrase"), K,
        LexQuery(LexQuery.Phrase()))))
  }

  test("restart replay is idempotent; filtered serve equals the filtered " +
       "batch probe") {
    val dir = freshDir()
    val index = s"$dir/index"
    LexIndex.build(docsDf, index, buckets = 16, attrs = Seq("lang"))
    implicit val sqlCtx = spark.sqlContext
    val pred = Some(col("lang") === "en")
    def runOnce(ckpt: String): Seq[(Long, Long, Long, Double)] = {
      val stream = MemoryStream[(Long, Seq[String])]
      val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
        ckpt) { b =>
        LexIndex.search(b.sparkSession, index, b, K, pred = pred)
      }
      try {
        stream.addData(queryFx.take(2))
        q.processAllAvailable()
        stream.addData(queryFx.drop(2))
        q.processAllAvailable()
      } finally stopQuietly(q)
      ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    }
    val once = runOnce(s"$dir/ckpt")
    val batch = ranked(LexIndex.search(spark, index, queriesDf(queryFx), K,
      pred = pred))
    assert(once == batch && once.nonEmpty)
    // only en documents (even ids) serve
    assert(once.forall { case (_, d, _, _) => d % 2 == 0 })
    // a fresh stream re-delivering the same batches onto the same output
    // leaves content unchanged (per-batch-directory overwrite)
    assert(runOnce(s"$dir/ckpt2") == once)
  }

  test("streamed hybrid probes equal the batch hybridServe; empty served() " +
       "has the serving schema") {
    val dir = freshDir()
    val (lexP, ivfP) = (s"$dir/lex", s"$dir/ivf")
    LexIndex.build(docsDf, lexP, buckets = 16)
    val embs = docsFx.map { case (id, _, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
      s"$dir/ckpt") { b =>
      Retrieval.serve(b.sparkSession, lexP, ivfP, b, K, depth = 5,
        vector = Some(ServeVector.Stored(1)))
    }
    try {
      stream.addData(queryFx.take(1))
      q.processAllAvailable()
      stream.addData(queryFx.slice(1, 2))
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    val batch = ranked(Retrieval.serve(spark, lexP, ivfP,
      queriesDf(queryFx.take(2)), K, depth = 5,
      vector = Some(ServeVector.Stored(1))))
    assert(streamed == batch && streamed.nonEmpty)
    assert(Serving.served(spark, s"$dir/none",
      Serving.LexicalSchema).columns.toSeq ==
      Seq("query_id", "doc_id", "rank", "score"))
    assert(Serving.served(spark, s"$dir/none", Serving.LexicalSchema).count() == 0L)
  }

  test("streamed proximity and sloppy probes equal their batch twins " +
       "across batch boundaries") {
    val dir = freshDir()
    val index = s"$dir/index"
    LexIndex.build(docsDf, index, buckets = 16, positions = true)
    implicit val sqlCtx = spark.sqlContext
    // proximity: all terms inside a 3-token run, any order
    val proxFx: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("spark", "fast"), 1L -> Seq("join", "table", "slow"))
    val ps = MemoryStream[(Long, Seq[String])]
    val pq = Serving.serve(ps.toDF().toDF("query_id", "terms"), s"$dir/prox",
      s"$dir/pckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K, LexQuery(LexQuery.Window(3)))
    }
    try {
      ps.addData(proxFx.take(1)); pq.processAllAvailable()
      ps.addData(proxFx.drop(1)); pq.processAllAvailable()
    } finally stopQuietly(pq)
    assert(ranked(Serving.served(spark, s"$dir/prox", Serving.LexicalSchema)) ==
      ranked(LexIndex.search(spark, index,
        spark.createDataFrame(proxFx).toDF("query_id", "terms"), K,
          LexQuery(LexQuery.Window(3)))))
    assert(Serving.served(spark, s"$dir/prox", Serving.LexicalSchema).count() > 0)
    // sloppy: ordered within 2 extra positions
    val slopFx: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("spark", "fast"), 1L -> Seq("window", "batch"))
    val ss = MemoryStream[(Long, Seq[String])]
    val sq = Serving.serve(ss.toDF().toDF("query_id", "phrase"), s"$dir/slop",
      s"$dir/sckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K, LexQuery(LexQuery.Sloppy(2)))
    }
    try {
      ss.addData(slopFx.take(1)); sq.processAllAvailable()
      ss.addData(slopFx.drop(1)); sq.processAllAvailable()
    } finally stopQuietly(sq)
    assert(ranked(Serving.served(spark, s"$dir/slop", Serving.LexicalSchema)) ==
      ranked(LexIndex.search(spark, index,
        spark.createDataFrame(slopFx).toDF("query_id", "phrase"), K,
          LexQuery(LexQuery.Sloppy(2)))))
    assert(Serving.served(spark, s"$dir/slop", Serving.LexicalSchema).count() > 0)
  }

  test("streamed fielded (BM25F) probes equal the batch searchFielded") {
    val dir = freshDir()
    val index = s"$dir/index"
    val fielded = docsFx.map { case (id, text, _) =>
      (id, text.split(" ").take(2).mkString(" "), text) }
      .toDF("doc_id", "title", "text")
    LexIndex.buildFielded(fielded, index, fields = Seq("title", "text"),
      buckets = 16)
    val fw = Seq("title" -> 2.0, "text" -> 1.0)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
      s"$dir/ckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K,
        LexQuery(scoring = LexQuery.Bm25F(fw)))
    }
    try {
      stream.addData(queryFx.take(2)); q.processAllAvailable()
      stream.addData(queryFx.drop(2)); q.processAllAvailable()
    } finally stopQuietly(q)
    assert(ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema)) ==
      ranked(LexIndex.search(spark, index, queriesDf(queryFx), K,
        LexQuery(scoring = LexQuery.Bm25F(fw)))))
    assert(Serving.served(spark, s"$dir/out", Serving.LexicalSchema).count() > 0)
  }

  test("streamed fielded PHRASE probes equal the batch " +
       "searchPhraseFielded / searchPhraseSloppyFielded") {
    val dir = freshDir()
    val index = s"$dir/index"
    val fielded = docsFx.map { case (id, text, _) =>
      (id, text.split(" ").take(2).mkString(" "), text) }
      .toDF("doc_id", "title", "text")
    LexIndex.buildFielded(fielded, index, fields = Seq("title", "text"),
      buckets = 16, positions = true)
    val fw = Seq("title" -> 2.0, "text" -> 1.0)
    implicit val sqlCtx = spark.sqlContext
    val phFx: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("spark", "fast"), 1L -> Seq("window", "batch"))
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "phrase"), s"$dir/out",
      s"$dir/ckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, K,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw)))
    }
    try {
      stream.addData(phFx.take(1)); q.processAllAvailable()
      stream.addData(phFx.drop(1)); q.processAllAvailable()
    } finally stopQuietly(q)
    assert(ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema)) ==
      ranked(LexIndex.search(spark, index,
        spark.createDataFrame(phFx).toDF("query_id", "phrase"), K,
          LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(fw)))))
    // sloppy form through the same twin
    val stream2 = MemoryStream[(Long, Seq[String])]
    val q2 = Serving.serve(stream2.toDF().toDF("query_id", "phrase"), s"$dir/out2",
      s"$dir/ckpt2") { b =>
      LexIndex.search(b.sparkSession, index, b, K,
        LexQuery(LexQuery.Sloppy(2, Some("text")), LexQuery.Bm25F(fw)))
    }
    try {
      stream2.addData(phFx); q2.processAllAvailable()
    } finally stopQuietly(q2)
    assert(ranked(Serving.served(spark, s"$dir/out2", Serving.LexicalSchema)) ==
      ranked(LexIndex.search(spark, index,
        spark.createDataFrame(phFx).toDF("query_id", "phrase"), K,
          LexQuery(LexQuery.Sloppy(2, Some("text")), LexQuery.Bm25F(fw)))))
    assert(Serving.served(spark, s"$dir/out2", Serving.LexicalSchema).count() > 0)
  }

  test("streamed fielded hybrid equals the batch hybridServeFielded") {
    val dir = freshDir()
    val (lexP, ivfP) = (s"$dir/lex", s"$dir/ivf")
    val fielded = docsFx.map { case (id, text, _) =>
      (id, text.split(" ").take(2).mkString(" "), text) }
      .toDF("doc_id", "title", "text")
    LexIndex.buildFielded(fielded, lexP, fields = Seq("title", "text"),
      buckets = 16)
    val embs = docsFx.map { case (id, _, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    val fw = Seq("title" -> 2.0, "text" -> 1.0)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
      s"$dir/ckpt") { b =>
      Retrieval.serve(b.sparkSession, lexP, ivfP, b, K, depth = 5,
        q = LexQuery(scoring = LexQuery.Bm25F(fw)),
        vector = Some(ServeVector.Stored(1)))
    }
    try {
      stream.addData(queryFx.take(1)); q.processAllAvailable()
      stream.addData(queryFx.slice(1, 2)); q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    val batch = ranked(Retrieval.serve(spark, lexP, ivfP,
      queriesDf(queryFx.take(2)), K, depth = 5,
      q = LexQuery(scoring = LexQuery.Bm25F(fw)),
      vector = Some(ServeVector.Stored(1))))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streamed literal-query hybrid equals the batch " +
       "hybridServeLiteral — fresh embeddings, no self-exclusion") {
    val dir = freshDir()
    val (lexP, ivfP) = (s"$dir/lex", s"$dir/ivf")
    LexIndex.build(docsDf, lexP, buckets = 16)
    val embs = docsFx.map { case (id, _, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    // literal queries: out-of-corpus ids, fresh vectors
    val litFx: Seq[(Long, Seq[String], Seq[Float])] = Seq(
      (-1L, Seq("spark", "join"), Seq(0.1f, -0.2f, 0.3f, 0.0f)),
      (-2L, Seq("table", "scan"), Seq(-0.3f, 0.2f, 0.1f, 0.4f)))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String], Seq[Float])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms", "embedding"),
      s"$dir/out", s"$dir/ckpt") { b =>
      Retrieval.serve(b.sparkSession, lexP, ivfP, b, K, depth = 5,
        vector = Some(ServeVector.Literal(1)))
    }
    try {
      stream.addData(litFx.take(1)); q.processAllAvailable()
      stream.addData(litFx.drop(1)); q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    val batch = ranked(Retrieval.serve(spark, lexP, ivfP,
      spark.createDataFrame(litFx).toDF("query_id", "terms", "embedding"),
      K, depth = 5, vector = Some(ServeVector.Literal(1))))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("filtered streaming hybrid: both arms pre-filter on the shared " +
       "stored attribute; stream equals the filtered batch serve") {
    val dir = freshDir()
    val (lexP, ivfP) = (s"$dir/lex", s"$dir/ivf")
    // both indexes store the SAME attribute under the same name
    // (doc_id ≡ vec_id) — the serving metadata lives where each arm's
    // candidates live
    LexIndex.build(docsDf, lexP, buckets = 16, attrs = Seq("lang"))
    val embs = docsFx.map { case (id, _, lang) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f),
        lang) }
      .toDF("vec_id", "embedding", "lang")
    IvfIndex.build(embs, ivfP, cells = 2, attrs = Seq("lang"))
    implicit val sqlCtx = spark.sqlContext
    val pred = Some(col("lang") === "en")
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"), s"$dir/out",
      s"$dir/ckpt") { b =>
      Retrieval.serve(b.sparkSession, lexP, ivfP, b, K, depth = 5,
        vector = Some(ServeVector.Stored(1)), pred = pred)
    }
    try {
      stream.addData(queryFx.take(2))
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.LexicalSchema))
    val batch = ranked(Retrieval.serve(spark, lexP, ivfP,
      queriesDf(queryFx.take(2)), K, depth = 5,
      vector = Some(ServeVector.Stored(1)), pred = pred))
    assert(streamed == batch && streamed.nonEmpty)
    // only en documents (even ids) ever serve
    assert(streamed.forall { case (_, d, _, _) => d % 2 == 0 })
  }
}
