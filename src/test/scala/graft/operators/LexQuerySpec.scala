package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Every [[LexQuery]] no compiler supports fails with its message, and
  * before any Spark job runs: invalid values at construction, and the
  * (query, store) mismatches at the probe's manifest checks. */
class LexQuerySpec extends SparkSpec {
  import spark.implicits._
  import LexQuery._

  private val FW = Seq("title" -> 2.0, "text" -> 1.0)

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-lexq").toString

  private lazy val docs = Seq((0L, "spark join fast", "spark"),
    (1L, "join slow table", "join")).toDF("doc_id", "text", "title")
  private lazy val plain = { val p = freshPath(); LexIndex.build(docs, p); p }
  private lazy val fielded = {
    val p = freshPath()
    LexIndex.buildFielded(docs, p, fields = Seq("title", "text"))
    p
  }
  private lazy val terms = spark.createDataFrame(Seq((1L, Seq("spark"))))
    .toDF("query_id", "terms")
  private lazy val phrases = spark.createDataFrame(Seq((1L, Seq("spark"))))
    .toDF("query_id", "phrase")

  private def flat(q: => LexQuery): () => DataFrame =
    () => Retrieval.bm25TopK(docs, terms, 3, q)
  private def probe(path: => String, qs: => DataFrame,
                    q: => LexQuery): () => DataFrame =
    () => LexIndex.search(spark, path, qs, 3, q)

  private val cases: Seq[(String, () => DataFrame, String)] = Seq(
    ("slop < 0", flat(LexQuery(Sloppy(-1))), "slop must be >= 0"),
    ("window < 1", flat(LexQuery(Window(0))), "window must be >= 1 token"),
    ("a weight <= 0", flat(LexQuery(scoring = Bm25F(Seq("title" -> 0.0)))),
      "field weights must be > 0"),
    ("a full-BM25F weight <= 0",
      flat(LexQuery(scoring = Bm25FFull(Seq(("title", -1.0, 0.5))))),
      "field weights must be > 0"),
    ("b_f above 1", flat(LexQuery(scoring = Bm25FFull(Seq(("title", 1.0, 1.5))))),
      "per-field b must be in [0,1]"),
    ("b_f below 0", flat(LexQuery(scoring = Bm25FFull(Seq(("title", 1.0, -0.1))))),
      "per-field b must be in [0,1]"),
    ("weights not naming the index's fields in order",
      probe(fielded, terms, LexQuery(scoring = Bm25F(FW.reverse))),
      "must name the index's fields in order"),
    ("a phrase field that is not scored",
      flat(LexQuery(Phrase(Some("body")), Bm25F(FW))),
      "phrase field 'body' is not one of the scored fields"),
    ("a phrase field under single-stream scoring",
      flat(LexQuery(Sloppy(1, Some("title")))), "is not one of the scored fields"),
    ("a fielded phrase naming no field", flat(LexQuery(Phrase(), Bm25F(FW))),
      "must name the field it runs inside"),
    ("a window over fields", flat(LexQuery(Window(3), Bm25F(FW))),
      "proximity window over separate field streams is not defined"),
    ("a window probe of a fielded index",
      probe(fielded, terms, LexQuery(Window(3))), "is a FIELDED index"),
    ("full BM25F with a phrase",
      flat(LexQuery(Phrase(Some("title")), Bm25FFull(Seq(("title", 1.0, 0.5))))),
      "full BM25F scores terms only"),
    ("a phrase on a non-positional index",
      probe(plain, phrases, LexQuery(Phrase())), "stores no positional postings"),
    ("a sloppy phrase on a non-positional index",
      probe(plain, phrases, LexQuery(Sloppy(2))), "stores no positional postings"),
    ("a window on a non-positional index",
      probe(plain, terms, LexQuery(Window(3))), "stores no positional postings"),
    ("a fielded phrase on a non-positional index",
      probe(fielded, phrases, LexQuery(Phrase(Some("title")), Bm25F(FW))),
      "stores no positional postings"),
    ("a plain probe of a fielded index", probe(fielded, terms, LexQuery()),
      "is a FIELDED index"),
    ("a fielded probe of a plain index",
      probe(plain, terms, LexQuery(scoring = Bm25F(FW))),
      "stores no fielded postings"))

  for ((what, run, message) <- cases)
    test(s"rejected before any job: $what") {
      // fixtures first, so only the rejected call is counted
      Seq(plain, fielded).foreach(p => assert(new java.io.File(p).isDirectory))
      var error: Option[IllegalArgumentException] = None
      val jobs = countJobs {
        error = Some(intercept[IllegalArgumentException](run()))
      }
      assert(error.exists(_.getMessage.contains(message)),
        s"message: ${error.map(_.getMessage)}")
      assert(jobs == 0, s"$jobs Spark jobs ran before the rejection")
    }

  test("every supported pair compiles on its store") {
    val positional = freshPath()
    LexIndex.build(docs, positional, positions = true)
    val fieldedPos = freshPath()
    LexIndex.buildFielded(docs, fieldedPos, fields = Seq("title", "text"),
      positions = true)
    val supported = Seq(
      LexQuery() -> plain, LexQuery(Phrase()) -> positional,
      LexQuery(Sloppy(1)) -> positional, LexQuery(Window(3)) -> positional,
      LexQuery(scoring = Bm25F(FW)) -> fielded,
      LexQuery(Phrase(Some("title")), Bm25F(FW)) -> fieldedPos,
      LexQuery(Sloppy(1, Some("text")), Bm25F(FW)) -> fieldedPos,
      LexQuery(scoring = Bm25FFull(Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75))))
        -> fielded)
    for ((q, path) <- supported) {
      val qs = if (q.column == "terms") terms else phrases
      val atRest = LexIndex.search(spark, path, qs, 3, q).collect().toSet
      assert(atRest.nonEmpty, s"$q")
      assert(Retrieval.bm25TopK(docs, qs, 3, q).collect().toSet == atRest, s"$q")
    }
  }
}
