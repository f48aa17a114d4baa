package graft.operators

/** One lexical query: HOW a document matches × HOW it is scored. Every
  * lexical surface compiles this value — the flat scan
  * ([[Retrieval.bm25TopK]]), the persisted inverted index
  * ([[LexIndex.search]]), the at-rest hybrid's lexical arm
  * ([[Retrieval.serve]]) and, through those, every streaming
  * probe — so a (match, scoring) pair is validated here once, and each
  * store compiles it in one place.
  *
  * Match axis — which documents are candidates (the match restricts
  * CANDIDATES per (query, doc); df and corpus stats stay full-corpus):
  *  - [[LexQuery.Terms]]: any query term (classic bag-of-words BM25);
  *  - [[LexQuery.Phrase]]: the phrase as a contiguous token run;
  *  - [[LexQuery.Sloppy]]: the phrase's tokens in order within `slop`
  *    extra positions (slop 0 ≡ the exact phrase);
  *  - [[LexQuery.Window]]: every query term inside some `w`-token run,
  *    any order.
  *
  * Scoring axis (Robertson & Zaragoza, "The Probabilistic Relevance
  * Framework: BM25 and Beyond", 2009):
  *  - [[LexQuery.Bm25]]: single-stream BM25;
  *  - [[LexQuery.Bm25F]]: simplified BM25F — weighted tf and doc length
  *    over named fields, one shared saturation;
  *  - [[LexQuery.Bm25FFull]]: full BM25F — per-field length
  *    normalization with its own b_f before the shared saturation.
  *
  * Supported pairs: every match with [[LexQuery.Bm25]] (a phrase there
  * names no field); Terms, Phrase(field) and Sloppy(field) with
  * [[LexQuery.Bm25F]] (the phrase runs inside the NAMED field's own
  * token stream); Terms with [[LexQuery.Bm25FFull]]. A window over
  * separate field streams and a full-BM25F phrase are rejected here.
  *
  * Query-frame column contract: `(query_id, terms: array<string>)` for
  * Terms and Window, `(query_id, phrase: array<string>)` for Phrase and
  * Sloppy; tokens match lowercased, a phrase's adjacency/order is its
  * array order. */
final case class LexQuery(matching: LexQuery.Match = LexQuery.Terms,
                          scoring: LexQuery.Scoring = LexQuery.Bm25()) {
  import LexQuery._

  /** The scored field names, in fold order (empty for single-stream). */
  def fields: Seq[String] = scoring match {
    case f: FieldedScoring => f.fields
    case _                 => Nil
  }

  def fielded: Boolean = fields.nonEmpty

  /** The field a phrase must run inside, if the match names one. */
  def phraseField: Option[String] = matching match {
    case Phrase(f)    => f
    case Sloppy(_, f) => f
    case _            => None
  }

  /** The query frame's token column. */
  def column: String = matching match {
    case Terms | Window(_) => "terms"
    case _                 => "phrase"
  }

  matching match {
    case Window(_) => require(!fielded, "an unordered proximity window " +
      "over separate field streams is not defined; use single-stream Bm25")
    case Phrase(_) | Sloppy(_, _) =>
      require(!scoring.isInstanceOf[Bm25FFull],
        "full BM25F scores terms only — a phrase match needs Bm25 or Bm25F")
      phraseField match {
        case Some(f) => require(fields.contains(f),
          s"phrase field '$f' is not one of the scored fields " +
            s"(${fields.mkString(", ")})")
        case None => require(!fielded, "a phrase over fielded scoring " +
          "must name the field it runs inside")
      }
    case Terms => ()
  }
}

object LexQuery {

  sealed trait Match
  /** Any query term. */
  case object Terms extends Match
  /** The phrase as a contiguous run — inside `field`'s own stream when
    * the scoring is fielded. */
  final case class Phrase(field: Option[String] = None) extends Match
  /** The phrase's tokens in order within `slop` extra positions. */
  final case class Sloppy(slop: Int, field: Option[String] = None) extends Match {
    require(slop >= 0, s"slop must be >= 0, got $slop")
  }
  /** Every query term inside some `w`-token run, any order (a window
    * smaller than the distinct-term count never matches). */
  final case class Window(w: Int) extends Match {
    require(w >= 1, s"window must be >= 1 token, got $w")
  }

  sealed trait Scoring
  final case class Bm25(k1: Double = 1.2, b: Double = 0.75) extends Scoring
  /** A scoring over named fields, in fold order. */
  sealed trait FieldedScoring extends Scoring { def fields: Seq[String] }
  /** @param weights `(field, weight)` in fold order; weights > 0 */
  final case class Bm25F(weights: Seq[(String, Double)], k1: Double = 1.2,
                         b: Double = 0.75) extends FieldedScoring {
    def fields: Seq[String] = weights.map(_._1)
    require(weights.nonEmpty, "Bm25F needs at least one field")
    require(weights.forall(_._2 > 0.0),
      s"field weights must be > 0, got ${weights.map(_._2).mkString(", ")}")
  }
  /** @param params `(field, weight, b_f)` in fold order; weights > 0,
    *               b_f in [0, 1] */
  final case class Bm25FFull(params: Seq[(String, Double, Double)],
                             k1: Double = 1.2) extends FieldedScoring {
    def fields: Seq[String] = params.map(_._1)
    require(params.nonEmpty, "Bm25FFull needs at least one field")
    require(params.forall(_._2 > 0.0),
      s"field weights must be > 0, got ${params.map(_._2).mkString(", ")}")
    require(params.forall(p => p._3 >= 0.0 && p._3 <= 1.0),
      s"per-field b must be in [0,1], got ${params.map(_._3).mkString(", ")}")
  }
}
