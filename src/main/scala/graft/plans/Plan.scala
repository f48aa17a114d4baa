package graft.plans

import graft.operators.{IvfScoring, LexQuery}

/** Typed plan IR — the deterministic replacement for the reference's
  * LLM-produced plan *string* (reference: agentic_workflow_transformation.py:51).
  *
  * The node set is exactly the Layer-B relational contract inventoried in
  * SURVEY.md §2.2 (P1–P4 projections, F1–F11 predicates, O1–O3 sort/limit,
  * A1–A3 aggregations) plus the sink/scan bookends. Each node compiles to one
  * lazy DataFrame transformation ([[Compiler]]); Catalyst then performs all
  * optimization (pushdown, pruning, top-k rewrite) — see SURVEY.md §4.2.
  */
sealed trait Pred extends Product with Serializable

object Pred {
  /** Comparison operators appearing in the reference's eval grammar
    * (`>`, `<=`, `==` — agentic_workflow_transformation.py:341-343) plus the
    * natural completions (`<`, `>=`, `!=`) so the predicate algebra is closed.
    */
  sealed trait CmpOp
  case object Gt  extends CmpOp
  case object Ge  extends CmpOp
  case object Lt  extends CmpOp
  case object Le  extends CmpOp
  case object Eq  extends CmpOp
  case object Ne  extends CmpOp

  final case class Cmp(op: CmpOp, col: String, value: Lit)        extends Pred
  /** Inclusive range — pandas `Series.between` default semantics
    * (reference eval 13/20: "age between 30 and 45"). */
  final case class Between(col: String, lo: Lit, hi: Lit)         extends Pred
  final case class StartsWith(col: String, prefix: String)        extends Pred
  final case class Contains(col: String, substr: String)          extends Pred
  final case class In(col: String, values: Seq[Lit])              extends Pred
  final case class And(left: Pred, right: Pred)                   extends Pred
  final case class Or(left: Pred, right: Pred)                    extends Pred
  final case class Not(child: Pred)                               extends Pred
}

/** How the flat similarity verbs ([[Op.SimilarTopK]],
  * [[Op.SimilarTopKVec]]) rank the corpus, one spoken "using …" form
  * each:
  *  - [[SimilarScoring.Exact]]: exact brute-force cosine
  *    ([[graft.operators.Similarity.bruteForceTopK]]);
  *  - [[SimilarScoring.Pq]] ("using quantized codes"): ADC through
  *    product-quantized code words at the classical m=8/ksub=256
  *    operating point ([[graft.operators.Pq.adcTopK]]); `rerank =
  *    Some(r)` adds the exact rescore of the ADC top-r
  *    ([[graft.operators.Pq.adcTopKRefined]]);
  *  - [[SimilarScoring.Proj]] ("using random projection"): candidates
  *    ranked by cosine in the 4x-compressed JL-projected space, the top
  *    `rerank` (default max(50, k)) exact-rescored
  *    ([[graft.operators.Similarity.projectedTopK]]);
  *  - [[SimilarScoring.Sq8]] ("using int8 codes"): the integer-exact
  *    int8-quantized cosine, the top `rerank` (default max(50, k))
  *    exact-rescored ([[graft.operators.Similarity.sq8TopK]]).
  * "… with rerank 50" sets `rerank` on the compressed forms. */
sealed trait SimilarScoring extends Product with Serializable
object SimilarScoring {
  case object Exact                                  extends SimilarScoring
  final case class Pq(rerank: Option[Int] = None)   extends SimilarScoring
  final case class Proj(rerank: Option[Int] = None) extends SimilarScoring
  final case class Sq8(rerank: Option[Int] = None)  extends SimilarScoring
}

/** The vector arm of an [[Op.LexServe]]: the query vector's source and
  * the IVF cells probed. */
sealed trait ServeArm extends Product with Serializable
object ServeArm {
  /** "probing 4 cells for query 0": the stored embedding of vec_id `qid`. */
  final case class ById(qid: Long, nprobe: Int)           extends ServeArm
  /** "fused with vector [0.1, …] … probing 4 cells": a fresh embedding. */
  final case class Literal(vec: Seq[Float], nprobe: Int)  extends ServeArm
}

/** Which persisted index an [[Op.IndexMaintain]] acts on. */
sealed trait IndexStore extends Product with Serializable
object IndexStore {
  /** The inverted index ([[graft.operators.LexIndex]]). */
  case object Lexical extends IndexStore
  /** The IVF vector index ([[graft.operators.IvfIndex]]). */
  case object Vector  extends IndexStore
}

/** An [[Op.IndexMaintain]] verb. */
sealed trait IndexVerb extends Product with Serializable
object IndexVerb {
  /** Erase the rows whose id (doc_id / vec_id) is in `keys`. */
  final case class Erase(keys: Seq[Long])   extends IndexVerb
  /** Erase the rows `where` holds for, over the stored columns. */
  final case class EraseWhere(where: Pred)  extends IndexVerb
  /** Fold every segment into one. */
  case object Compact                        extends IndexVerb
  /** Keep the newest `keep` manifests (and every pinned one). */
  final case class VacuumKeep(keep: Int)     extends IndexVerb
}

/** Literal values — the reference's grammar only ever compares against
  * numbers and single-quoted strings. */
sealed trait Lit extends Product with Serializable
object Lit {
  final case class Num(value: Double) extends Lit {
    /** Render integral doubles as integers so `age > 30` stays an int
      * comparison (pandas int64 semantics). */
    def asAny: Any = if (value.isValidInt && value == math.floor(value)) value.toLong else value
  }
  final case class Str(value: String) extends Lit
}

/** Aggregate functions in the tested contract: count (A1), avg (A2).
  * sum/min/max round out the algebra for the extension surface. */
sealed trait AggFunc
object AggFunc {
  case object Count extends AggFunc
  case object Avg   extends AggFunc
  case object Sum   extends AggFunc
  case object Min   extends AggFunc
  case object Max   extends AggFunc
  /** Exact interpolated median (percentile 0.5). */
  case object Median extends AggFunc
  /** Exact distinct count ("show count distinct custkey"). */
  case object CountDistinct extends AggFunc
}

/** Numeric scalar expression inside an aggregate argument — the TPC-H
  * `sum(price · (1 − discount))` shape ("show sum of l_extendedprice
  * times (1 - l_discount)"). Two precedence levels (mul over add/sub),
  * parenthesized sub-expressions; every node compiles to one codegen'd
  * `Column` op, so a rounding oracle replays it exactly. */
sealed trait NumExpr extends Product with Serializable
object NumExpr {
  final case class ColRef(name: String)           extends NumExpr
  final case class Const(value: Double)           extends NumExpr
  final case class Mul(l: NumExpr, r: NumExpr)    extends NumExpr
  final case class Add(l: NumExpr, r: NumExpr)    extends NumExpr
  final case class Sub(l: NumExpr, r: NumExpr)    extends NumExpr
}

/** One aggregate column. `col = "*"` with [[AggFunc.Count]] is the
  * count-star form ("count rows"); `arg`, when set, aggregates a scalar
  * [[NumExpr]] instead of the bare column; `roundTo` applies Spark's
  * HALF_UP `round(expr, n)` so float sums can match a rounding oracle
  * exactly. */
final case class AggSpec(func: AggFunc, col: String, alias: String,
                         roundTo: Option[Int] = None,
                         arg: Option[NumExpr] = None)

/** One relational step. A full plan is `Plan(ops: List[Op])` applied in
  * order — mirroring how each reference eval description composes
  * `Filter* → (Sort → Limit)? → Select?` or `GroupBy → Agg → Having?`. */
sealed trait Op extends Product with Serializable
object Op {
  final case class Filter(pred: Pred)                              extends Op
  /** Select columns in the *requested* order (AGENTIC_WORKFLOW.md:108
    * requires order exactness). */
  final case class Select(cols: Seq[String])                       extends Op
  /** Derived column from a boolean predicate — `is_adult = age >= 18`
    * (reference eval 6). */
  final case class DeriveBool(name: String, pred: Pred)            extends Op
  final case class Rename(from: String, to: String)                extends Op
  final case class Drop(cols: Seq[String])                         extends Op
  /** keys paired with ascending flag; stable multi-key sort. */
  final case class Sort(keys: Seq[(String, Boolean)])              extends Op
  final case class Limit(k: Int)                                   extends Op
  final case class GroupAgg(keys: Seq[String], aggs: Seq[AggSpec]) extends Op
  /** Post-aggregation filter referencing an agg alias (A3 / HAVING). */
  final case class Having(pred: Pred)                              extends Op
  /** Derived date-part column: year/month/day/epoch_ms of a date column
    * ("extract year of o_orderdate as order_year"). Row-preserving. */
  final case class DeriveDatePart(part: String, col: String,
                                  alias: String)                   extends Op
  /** Running (rows unbounded→current) or trailing (range [-ms, 0] on the
    * single numeric order column) window sum per partition — the q14/q16
    * frame shapes. Ordering ends in the caller-supplied keys, which must
    * make the frame deterministic (include a unique tie-break for the
    * running form). Row-preserving. */
  final case class WindowAgg(valueCol: String, partCol: String,
                             orderCols: Seq[String], alias: String,
                             roundTo: Option[Int] = None,
                             rangeBackMs: Option[Long] = None)     extends Op

  /** Corpus-level operators — the extension surface (SURVEY.md §2.2 X1–X3)
    * reachable from natural language, closing the capability delta vs the
    * reference's open-ended `exec()` boundary
    * (agentic_workflow_transformation.py:129): where the reference would
    * accept any description an LLM can turn into pandas, this grammar
    * reaches every implemented corpus operator deterministically.
    * All are schema-replacing (the result is a derived table, not a
    * row-wise transform of the input). */
  sealed trait CorpusOp extends Op

  /** Exact dedup — one representative (min id) per identical text. */
  case object DedupExact extends CorpusOp
  /** Near-dup pairs via exact word n-gram Jaccard within a blocking key. */
  final case class DedupJaccard(n: Int, threshold: Double,
                                blockCol: Option[String])          extends CorpusOp
  /** Near-dup pairs via MinHash banding, verified at `threshold`. */
  final case class DedupMinHash(threshold: Double)                 extends CorpusOp
  /** Near-dup pairs via SimHash chunk banding, Hamming ≤ maxHamming. */
  final case class DedupSimHash(maxHamming: Int)                   extends CorpusOp
  /** Connected-component clusters over n-gram Jaccard near-dup pairs. */
  final case class DedupCluster(n: Int, threshold: Double,
                                blockCol: Option[String])          extends CorpusOp
  /** Per-document token statistics. */
  case object Tokenize extends CorpusOp
  /** Per-document quality heuristic. */
  case object ScoreQuality extends CorpusOp
  /** Per-document language identification. */
  case object DetectLanguage extends CorpusOp
  /** Per-document content fingerprints (md5 + rolling hash). */
  case object Fingerprint extends CorpusOp
  /** PII scrubbing (emails, phone-like digit runs). */
  case object ScrubPii extends CorpusOp
  /** Top-k neighbors of one query vector, ranked by `scoring`
    * ([[SimilarScoring]]: exact brute-force cosine by default, or one of
    * the flat compressed paths). `where` restricts NEIGHBORS by a
    * metadata predicate (pre-filter: exactly k matching neighbors; the
    * query row itself is fetched from the UNFILTERED corpus) — exact
    * path only: filtered compressed serving is the persisted index's
    * job ([[IndexSearch]]'s `where`), since the flat compressed paths
    * train/rank per query and a filtered training corpus would change
    * the quantizer itself. */
  final case class SimilarTopK(queryId: Long, k: Int,
                               scoring: SimilarScoring = SimilarScoring.Exact,
                               where: Option[Pred] = None)         extends CorpusOp
  /** [[SimilarTopK]] with an UNSEEN literal query vector (spoken as a
    * bracketed float list) instead of a stored id — the serving shape
    * where a fresh embedding ranks against the corpus; query_id -1 is
    * outside the stored id space, so no candidate is self-excluded. */
  final case class SimilarTopKVec(vec: Seq[Float], k: Int,
                                  scoring: SimilarScoring = SimilarScoring.Exact,
                                  where: Option[Pred] = None)      extends CorpusOp

  /** Lexical top-k over the input documents: the flat scan
    * ([[graft.operators.Retrieval.bm25TopK]]) of one spoken
    * [[LexQuery]]. `tokens` are the spoken terms, or
    * the quoted phrase's tokens in order; query_id -1, outside the
    * stored id space. `where` is the candidate pre-filter ("… where
    * lang == 'en'"): only matching documents rank (exactly k matching
    * results) while document frequency and corpus stats stay
    * full-corpus. Fielded scorings read the input frame's named field
    * columns.
    *
    * Spoken forms ("Find top 5 documents matching …") by (match ×
    * scoring):
    *  - Terms × Bm25 — "spark, join, fast": bag-of-words BM25;
    *  - Phrase × Bm25 — "\"spark join\"" (single quotes too): only
    *    documents containing the phrase as a CONTIGUOUS token run rank,
    *    scored by BM25 over the phrase's distinct terms;
    *  - Sloppy(slop) × Bm25 — "\"spark fast\" with slop 3": the phrase
    *    tokens IN ORDER within `slop` extra positions (∃ p₀ < … < pₙ₋₁
    *    matching the slots, pₙ₋₁ − p₀ ≤ (n−1)+slop; slop 0 = the exact
    *    phrase);
    *  - Window(w) × Bm25 — "spark, join within 5 tokens": PROXIMITY,
    *    every term inside some w-token run, any order;
    *  - Terms × Bm25F — "spark, join weighting title 2, text 1":
    *    weighted-aggregate scoring over named fields;
    *  - Terms × Bm25FFull — "spark, join weighting title 2, text 1
    *    normalizing title 0.3, text 0.75": FULL Robertson–Zaragoza
    *    BM25F, per-field length normalization INSIDE each field before
    *    the shared saturation;
    *  - Phrase(field) × Bm25F — "\"the fast\" in title weighting title
    *    2, text 1": the run must sit in the NAMED field's OWN token
    *    stream; the eligible docs rank by BM25F at the spoken weights;
    *  - Sloppy(slop, field) × Bm25F — "\"spark fast\" in text with slop
    *    3 weighting title 2, text 1": ordered within slop inside one
    *    field's stream.
    * Each form takes the trailing "where …". */
  final case class LexTopK(tokens: Seq[String], k: Int,
                           q: LexQuery = LexQuery(),
                           where: Option[Pred] = None)             extends CorpusOp
  /** MMR-diversified retrieval: BM25 depth-candidates over the input
    * documents, greedily re-selected for λ·relevance −
    * (1−λ)·redundancy (embedding cosine to the already-picked set,
    * vectors from the catalog-bound `embeddings` table, doc_id ≡
    * vec_id) — [[graft.operators.Retrieval.mmrTopK]]. */
  final case class MmrTopK(terms: Seq[String], k: Int, lambda: Double,
                           depth: Int)                             extends CorpusOp
  /** Hybrid retrieval: the BM25 arm over the input documents RRF-fused
    * with exact cosine over the catalog-bound `embeddings` table, the
    * spoken vector id naming the query embedding (doc_id ≡ vec_id
    * alignment); both arms retrieve `depth` before fusing
    * ([[graft.operators.Retrieval.hybridTopK]]). */
  final case class HybridTopK(terms: Seq[String], k: Int,
                              vecId: Long, depth: Int)             extends CorpusOp

  /** Deterministic hash sample: keep `fraction` of rows keyed on the id
    * column ([[graft.operators.Sampling.hashSample]]); `idCol` defaults
    * to the documents schema's `doc_id` when not spoken. */
  final case class SampleHash(fraction: Double, seed: Long,
                              idCol: Option[String] = None)        extends CorpusOp
  /** Deterministic per-stratum hash sample; strata absent from
    * `fractions` keep nothing. Pairs kept ordered for plan printing;
    * stratum keys must be unique — the parser rejects duplicates and the
    * compiler re-validates before the Map conversion, so a duplicate can
    * never silently collapse last-wins. */
  final case class SampleStratified(stratumCol: String,
                                    fractions: Seq[(String, Double)],
                                    seed: Long)                    extends CorpusOp
  /** Gap-based sessionization of the events table. */
  final case class Sessionize(gapMinutes: Int)                     extends CorpusOp
  /** Tumbling event-time window counts, e.g. (1, "hour"). */
  final case class TumblingCount(amount: Int, unit: String)        extends CorpusOp
  /** Sliding event-time window counts: width every slide. */
  final case class SlidingCount(widthAmount: Int, widthUnit: String,
                                slideAmount: Int, slideUnit: String) extends CorpusOp

  /** Media metadata decode over the documents-derived media frame
    * ([[graft.operators.Multimodal.decodeImageMeta]]). */
  case object DecodeMedia                                          extends CorpusOp
  /** Per-video frame sampling ([[graft.operators.Multimodal.sampleFrames]]). */
  case object SampleFrames                                         extends CorpusOp
  /** Bounded-box resize plan for decoded media; input is decoded
    * metadata (or raw documents, which the compiler decodes first). */
  final case class ResizeMedia(maxDim: Int)                        extends CorpusOp
  /** Corpus-level stats grouped by a column (default `source`). */
  final case class CorpusStats(groupCol: String)                   extends CorpusOp
  /** n-token spans repeated across ≥ minDocs distinct documents
    * ([[graft.operators.Dedup.repeatedSpans]]). */
  final case class RepeatedSpans(n: Int, minDocs: Int)             extends CorpusOp
  /** Top-k most frequent tokens per group
    * ([[graft.operators.TextAnalysis.topTokens]]). */
  final case class TopTokens(k: Int, groupCol: String)             extends CorpusOp
  /** Bounded-memory top-k tokens via the Misra-Gries sketch with exact
    * candidate recount ([[graft.operators.TextAnalysis.topTokensSketch]]). */
  final case class TopTokensSketch(k: Int, groupCol: String,
                                   capacity: Int)                  extends CorpusOp
  /** Embedding-cosine near-dup pairs at/above a threshold
    * ([[graft.operators.Dedup.embeddingPairs]]). `block` scopes the
    * exact self-join to equal values of a column — the operating-regime
    * guard's escape hatch for corpora past the all-pairs bound. */
  final case class DedupEmbedding(threshold: Double,
                                  block: Option[String] = None)    extends CorpusOp
  /** Banded (sign-LSH bucketed) embedding near-dup pairs — the scale
    * sibling of [[DedupEmbedding]]; recall < 1 by design
    * ([[graft.operators.Dedup.embeddingPairsLsh]]). */
  final case class DedupEmbeddingLsh(threshold: Double)            extends CorpusOp
  /** SemDeDup: cosine pairs within deterministic k-means cells
    * ([[graft.operators.Dedup.semanticDedupPairs]]); `centroids ≤ 0`
    * means the operator's auto max(16, ⌊√n⌋) cell count. */
  final case class DedupSemantic(threshold: Double, centroids: Int)  extends CorpusOp
  /** Edit-distance near-dup pairs
    * ([[graft.operators.Dedup.levenshteinPairs]]). */
  final case class DedupLevenshtein(maxDist: Int,
                                    block: Option[String] = None)    extends CorpusOp
  /** Latest-wins snapshot compaction per key
    * ([[graft.operators.Events.latestSnapshot]]). */
  final case class LatestPerKey(keyCol: String,
                                tsCol: String = "ts_us",
                                idCol: String = "event_id")          extends CorpusOp
  /** Event-time range scan `[fromUs, toUs)`: the predicate is applied in
    * the `ts` column's native type so it reaches the parquet scan as a
    * pushed filter ([[graft.operators.Events.timeRange]]). */
  final case class EventTimeRange(fromUs: Long, toUs: Long)        extends CorpusOp
  /** Per-UTC-day profile of an event table: row count and ts bounds
    * (`dt, n_rows, min_ts_us, max_ts_us`) — the scan-side twin of
    * [[graft.operators.ManifestedLog.dayStats]]'s metadata-only read. */
  case object DayProfile                                           extends CorpusOp
  /** Real ISO-BMFF demux of a video media table: one row per frame with
    * its container-derived size, pts, and sync flag
    * ([[graft.operators.Multimodal.demuxFrameMeta]]). */
  case object DemuxFrames                                          extends CorpusOp
  /** Real WAV decode of an audio media table: format facts from the
    * parsed RIFF header, amplitude stats from the decoded PCM
    * ([[graft.operators.Multimodal.decodeAudioMeta]]). */
  case object DecodeAudio                                          extends CorpusOp
  /** Context-length capping: first-`maxTokens` whitespace-token cut
    * ([[graft.operators.TextAnalysis.truncateTokens]]). */
  final case class TruncateTokens(maxTokens: Int)                  extends CorpusOp
  /** CDC changelog apply: latest-wins per key, then drop keys whose
    * latest op is the tombstone ([[graft.operators.Cdc.applyChangelog]]). */
  final case class CdcApply(keyCol: String,
                            tsCol: String = "ts_us",
                            idCol: String = "event_id",
                            opCol: String = "event_type",
                            tombstone: String = "error")             extends CorpusOp
  /** 128-bit wide-fingerprint SimHash pairs, Hamming ≤ maxHamming over
    * both lanes ([[graft.operators.Dedup.simHash128Pairs]]). */
  final case class DedupSimHashWide(maxHamming: Int)               extends CorpusOp
  /** Greedy first-fit sequence packing into `buckets` streams of
    * ≤ `budget`-token bins ([[graft.operators.Packing.packSequences]]). */
  final case class PackSequences(budget: Int, buckets: Int)        extends CorpusOp
  /** Sliding-window chunking into ≤`window`-token chunks overlapping by
    * `overlap` tokens ([[graft.operators.Packing.chunkDocuments]]). */
  final case class ChunkDocuments(window: Int, overlap: Int)       extends CorpusOp
  /** Top-k TF-IDF keywords per document
    * ([[graft.operators.TextAnalysis.tfIdf]]). */
  final case class TfIdfKeywords(k: Int)                           extends CorpusOp
  /** Deterministic labeled split by cumulative hash-bucket thresholds;
    * percents must sum to 100
    * ([[graft.operators.Sampling.assignSplits]]). */
  final case class AssignSplits(splits: List[(String, Int)], seed: Long)
                                                                   extends CorpusOp
  /** Deterministic fractional-epoch replication
    * ([[graft.operators.Sampling.upsample]]). */
  final case class Upsample(times: Double, seed: Long)             extends CorpusOp
  /** Token-budget selection by descending quality
    * ([[graft.operators.Sampling.budgetSelect]]). */
  final case class BudgetSelect(tokenBudget: Long)                 extends CorpusOp
  /** Deterministic exactly-k draw by ascending (sample bucket, id)
    * ([[graft.operators.Sampling.sampleExactK]]). */
  final case class SampleExactK(k: Int, seed: Long)                extends CorpusOp
  /** Temperature-2 source rebalance
    * ([[graft.operators.Sampling.temperatureSample]]). */
  final case class SampleTemperature(sourceCol: String, seed: Long) extends CorpusOp
  /** HLL distinct-count estimate per group, certified against the exact
    * count ([[graft.operators.Cardinality]]). */
  final case class DistinctSketch(keyCol: String, groupCol: String)  extends CorpusOp
  /** Equi-width histogram profile
    * ([[graft.operators.Profiling.histogram]]). */
  final case class Histogram(valueCol: String, groupCol: String,
                             lo: Double, hi: Double, bins: Int)     extends CorpusOp
  /** Exact percentile outlier clip
    * ([[graft.operators.Profiling.clipAbovePercentile]]). */
  final case class ClipPercentile(valueCol: String, p: Double)      extends CorpusOp
  /** Per-group z-score normalization
    * ([[graft.operators.Profiling.zscore]]). */
  final case class ZScore(valueCol: String, groupCol: String)       extends CorpusOp
  /** Event conversion funnel ([[graft.operators.Events.funnel]]). */
  final case class Funnel(fromType: String, toType: String)         extends CorpusOp
  /** Weekly cohort retention matrix
    * ([[graft.operators.Events.cohortRetention]]). */
  case object CohortRetention                                       extends CorpusOp
  /** Morton curve key column ([[graft.functions.ZOrderFunctions]]);
    * composes with sort/limit clauses for layout queries. */
  final case class ZOrderKey(aCol: String, bCol: String)            extends CorpusOp
  /** Corpus-unigram average log-probability per document
    * ([[graft.operators.TextAnalysis.unigramLogProb]]). */
  case object ScoreUnigramLogProb                                  extends CorpusOp
  /** Gopher-style quality-rule signals + pass verdict
    * ([[graft.operators.TextAnalysis.gopherRules]]). */
  case object GopherRules                                          extends CorpusOp
  /** Symmetric per-vector int8 embedding quantization
    * ([[graft.operators.Similarity.quantizeInt8]]). */
  case object QuantizeEmbeddings                                   extends CorpusOp
  /** JL random projection of the embedding column to `outDim`
    * dimensions, dumped as (vec_id, pos, rounded value) rows
    * ([[graft.operators.Similarity.randomProject]]). */
  final case class ProjectEmbeddings(outDim: Int)                  extends CorpusOp
  /** Deterministic ≤k rows per group by ascending sample hash
    * ([[graft.operators.Sampling.capPerGroup]]). */
  final case class SampleCapPerGroup(k: Int, groupCol: String,
                                     seed: Long)                   extends CorpusOp
  /** Deterministic epoch shuffle: shard and shuffle position as pure
    * functions of (id, seed)
    * ([[graft.operators.Sampling.shuffleAssign]]). */
  final case class ShuffleShards(numShards: Int, seed: Long)       extends CorpusOp

  /** Relational analytics extensions — the NL-reachable twins of the
    * q-family driver queries (rollup/cube grouping sets, pivot/unpivot
    * reshape, window rank, ntile, set ops, generic equi-join). Grouped
    * under one trait so the Validator can treat them uniformly as
    * row-count-changing derived tables. */
  sealed trait RelationalExtOp extends Op

  /** Hierarchical rollup grouping sets ([[org.apache.spark.sql.Dataset]]
    * `.rollup`): (k1..kn), (k1..kn-1), …, grand total, in one pass. */
  final case class RollupAgg(keys: Seq[String], aggs: Seq[AggSpec]) extends RelationalExtOp
  /** Full cube over the keys (all 2^n grouping sets). */
  final case class CubeAgg(keys: Seq[String], aggs: Seq[AggSpec])   extends RelationalExtOp
  /** Pivot: one row per `groupCol`, one count column per pivot value —
    * values are EXPLICIT (at scale never let pivot scan for distincts);
    * absent combinations fill 0. */
  final case class PivotCount(groupCol: String, pivotCol: String,
                              values: Seq[String])                  extends RelationalExtOp
  /** Unpivot (melt): fold `valueCols` into (varCol, valueName) long form;
    * all other columns are carried as ids. */
  final case class UnpivotCols(valueCols: Seq[String], varCol: String,
                               valueName: String)                   extends RelationalExtOp
  /** Per-partition top-N by row_number (rank alias kept in the output);
    * ordering ends in the unique `tieCol` so ranks are deterministic. */
  final case class WindowTopN(orderCol: String, desc: Boolean,
                              partCol: String, tieCol: String, k: Int,
                              alias: String = "rn")                 extends RelationalExtOp
  /** ntile(n) quantile bucket per partition, ascending by
    * (orderCol, tieCol) — deterministic tile boundaries. */
  final case class NtileBucket(n: Int, orderCol: String, partCol: String,
                               tieCol: String, alias: String)       extends RelationalExtOp
  /** UNION ALL with the named catalog table (by column name). */
  final case class UnionTable(table: String)                        extends RelationalExtOp
  /** EXCEPT (distinct) the named catalog table. */
  final case class ExceptTable(table: String)                       extends RelationalExtOp
  /** Generic equi-join to the named catalog table. `broadcastRight`
    * (the spoken "broadcast" hint) forces a broadcast of the right side
    * — the dimension-enrichment shape; without it the planner decides
    * (AQE auto-broadcasts small sides, fact⋈fact shuffles — the correct
    * default at scale). */
  final case class JoinTable(rightTable: String, leftKey: String,
                             rightKey: String,
                             broadcastRight: Boolean = false)       extends RelationalExtOp
  /** Plain left-semi join to the named catalog table ("keep rows
    * matching T on l = r" without a bloom tail). */
  final case class SemiJoinTable(rightTable: String, leftKey: String,
                                 rightKey: String)                  extends RelationalExtOp
  /** Left-anti join to the named catalog table ("drop rows matching T
    * on l = r") — the NOT-EXISTS shape without the NOT-IN null hazard. */
  final case class AntiJoinTable(rightTable: String, leftKey: String,
                                 rightKey: String)                  extends RelationalExtOp
  /** Bucketed+sorted managed-table write
    * ([[graft.sources.Bucketing.writeBucketed]]) — the pay-the-shuffle-
    * once layout step. The ONE eager op in the IR (a write is an
    * action); the compiled result is the read-back table, so the route
    * carries a round-trip content-fidelity oracle. */
  final case class WriteBucketed(table: String, key: String,
                                 buckets: Int)                      extends RelationalExtOp
  /** Sketch-error certification per group (the q12 construct): exact
    * count / distinct count alongside within-5% booleans over
    * approx_count_distinct and percentile_approx(0.5/0.95) of
    * `valueCol` — the oracle emits TRUE literals, so a hash match
    * PROVES each approximation landed inside its error bound. `alias`
    * names the distinct-count columns (n_<alias>,
    * <alias>_within_5pct). */
  final case class CertifyApproxStats(distinctCol: String, alias: String,
                                      valueCol: String,
                                      groupCol: String)             extends RelationalExtOp

  /** Two-table operators: the right side is a *named* table resolved from
    * the catalog passed to [[Compiler.compile]] / `Engine.run` — the
    * reference's single-`sample_data` state
    * (agentic_workflow_transformation.py:17) holds exactly one frame, so
    * these are the first ops whose description can reach a second one. */

  /** Drop every input document sharing at least one n-token span with the
    * named benchmark table ([[graft.operators.Dedup.decontaminate]]). */
  final case class Decontaminate(n: Int, benchTable: String)       extends CorpusOp
  /** Per-document contamination fraction vs the named benchmark table
    * ([[graft.operators.Dedup.contaminationScore]]). */
  final case class ContaminationScore(n: Int, benchTable: String)  extends CorpusOp
  /** As-of enrichment: per input row, the latest `tsCol` of the named
    * table at-or-before the row's own `tsCol`, within `keyCol`
    * ([[graft.operators.Events.asOfJoin]]). */
  final case class AsOfJoin(rightTable: String,
                            keyCol: String = "user_id",
                            tsCol: String = "ts_us",
                            outCol: String = "last_signup_us")     extends CorpusOp
  /** Incremental ingest dedup vs the named historical corpus
    * ([[graft.operators.Dedup.dedupAgainst]]). */
  final case class DedupAgainst(seenTable: String)                 extends CorpusOp
  /** Near-dup incremental ingest dedup vs the named historical corpus:
    * banded-MinHash candidates, exact Jaccard ≥ threshold verify
    * ([[graft.operators.Dedup.minHashLshAgainst]]). */
  final case class DedupNearAgainst(seenTable: String,
                                    threshold: Double)             extends CorpusOp
  /** Bloom-pruned semi-join against the named table
    * ([[graft.operators.BloomJoin.bloomSemiJoin]]). */
  final case class BloomSemiJoin(rightTable: String,
                                 leftKey: String, rightKey: String) extends CorpusOp
  /** Salted inner equi-join to the named table, each key spread over
    * `buckets` reducers ([[graft.operators.SkewJoin.saltedInnerJoin]]);
    * `buckets <= 0` derives the spread from the observed hottest key
    * ([[graft.operators.SkewJoin.deriveBuckets]]). */
  final case class SaltedJoin(rightTable: String, leftKey: String,
                              rightKey: String, buckets: Int)      extends CorpusOp
  /** Measured LSH calibration over the bound embedding frame
    * ([[graft.operators.Similarity.calibrateLsh]]), certified q12-style:
    * the compiled frame carries (recall_hit, sub_all_pairs) booleans, so
    * the oracle's TRUE literals prove the measured pick hit the target
    * without degenerating to all-pairs. */
  final case class CalibrateLsh(targetRecall: Double)              extends CorpusOp
  /** IVF twin of [[CalibrateLsh]]
    * ([[graft.operators.Similarity.calibrateIvf]]); booleans are
    * (recall_hit, sub_full_scan). */
  final case class CalibrateIvf(targetRecall: Double)              extends CorpusOp

  /** Table maintenance / time-travel over a MANIFESTED TABLE
    * ([[graft.operators.ManifestedLog]]): these resolve against the
    * table PATH bound at compile time (the CLI binds it when the input
    * is a manifest directory), not against the input frame, and must
    * LEAD the plan — they (re)define the source the remaining ops read.
    * Maintenance verbs return the post-op table content, so downstream
    * clauses compose and the oracle can certify content invariance. */
  sealed trait TableOp extends Op
  /** Time travel: read the table exactly as manifest `version` lists it. */
  final case class LoadAtVersion(version: Long)                    extends TableOp
  /** Compaction discovery behind the watermark
    * ([[graft.operators.ManifestedLog.compactClosedDays]]), then read
    * the table back — content must be invariant under compaction. */
  final case class CompactClosedDays(watermarkUs: Long)            extends TableOp
  /** Trim retained history to the newest `keep` versions
    * ([[graft.operators.ManifestedLog.vacuum]] — reader pins are
    * honored), then read the table back. */
  final case class VacuumKeep(keep: Int)                           extends TableOp
  /** Advance the table's incremental CDC snapshot (colocated under
    * `<path>/_snapshot` — [[graft.operators.SnapshotTable.update]],
    * cost ∝ change-feed delta, no-op when current), then read the
    * snapshot VIEW back (current live row per key). */
  case object SnapshotMaintain                                     extends TableOp
  /** Current live row(s) of `keys` from the colocated snapshot through
    * the pruned point-lookup path
    * ([[graft.operators.SnapshotTable.readViewByKey]] — sidecar key
    * bounds + Bloom skip whole state files); maintains the snapshot
    * first so "current" means the newest log version. */
  final case class SnapshotLookup(keys: Seq[Long])                 extends TableOp
  /** Point lookup on an unclustered key over the manifested log with
    * all three pruning layers composed
    * ([[graft.operators.ManifestedLog.loadByKeyRange]]): manifest day
    * pruning when a time range is spoken, per-file ts-bounds ∧ key-Bloom
    * from the sidecars, pushed row-group predicate in the survivors. */
  final case class KeyLookup(keyCol: String, keys: Seq[Long],
                             fromUs: Option[Long] = None,
                             toUs: Option[Long] = None)            extends TableOp
  /** Physical compliance erasure of `keys` from the table
    * ([[graft.operators.ManifestedLog.deleteByKey]] — sidecar-Bloom-
    * pruned copy-on-write rewrite of the may-match days, one atomic
    * flip), then read the post-delete table back. */
  final case class DeleteByKey(keyCol: String, keys: Seq[Long])    extends TableOp
  /** ANN probe against a bound PERSISTED vector index
    * ([[graft.operators.IvfIndex.search]]): the spoken query id's stored
    * vector probes its `nprobe` nearest cells, candidates scored by
    * `scoring` — exact cosine; [[IvfScoring.Adc]]
    * ("Search the index with quantized codes …") through the index's PQ
    * code words (reads m bytes per candidate, never the floats); or
    * [[IvfScoring.Sq8]] ("… with int8 codes …") through
    * its per-vector int8 code words (1 byte/dim, integer-exact
    * quantized cosine). `where` filters CANDIDATES by stored attribute
    * columns INSIDE the pruned scan (pre-filtering — the result is
    * exactly k MATCHING neighbors; post-filtering a top-k under-returns
    * k, the classic wrong answer). */
  final case class IndexSearch(queryId: Long, k: Int, nprobe: Int,
                               scoring: IvfScoring = IvfScoring.Exact,
                               where: Option[Pred] = None)         extends TableOp
  /** ANN probe with an UNSEEN literal query vector — the actual serving
    * shape (a fresh embedding probes the index; the stored-id form is a
    * benchmark convenience). The literal becomes a one-row broadcast
    * frame with query_id -1; same probe kernels as [[IndexSearch]]. */
  final case class IndexSearchVec(vec: Seq[Float], k: Int, nprobe: Int,
                                  scoring: IvfScoring = IvfScoring.Exact,
                                  where: Option[Pred] = None)      extends TableOp
  /** Lexical probe of the bound persisted INVERTED index
    * ([[graft.operators.LexIndex.search]]) for one spoken
    * [[LexQuery]]: reads only the query terms' bucket
    * partitions, positional matches run from the stored position lists
    * on the pruned candidate rows, fielded scorings apply the spoken
    * weights at probe time — zero corpus scans, score-identical to the
    * flat [[LexTopK]] scan over the indexed corpus. `where` filters
    * candidate documents over the index's stored attribute columns,
    * pushed INTO the pruned bucket scan (pre-filter — exactly k
    * matching documents).
    *
    * Spoken forms ("Search the lexical index for top 5 matching …") by
    * (match × scoring), with the index each needs:
    *  - Terms × Bm25 — "spark, join, fast": any index;
    *  - Phrase × Bm25 — "\"spark join\"": a POSITIONAL index
    *    (adjacency from the stored position lists);
    *  - Sloppy(slop) × Bm25 — "\"spark fast\" with slop 3": a
    *    positional index (ordered chains within the slop window);
    *  - Window(w) × Bm25 — "spark, join within 5 tokens": a positional
    *    index (window containment);
    *  - Terms × Bm25F — "spark weighting title 2, text 1": a FIELDED
    *    index (per-field postings and the manifest's exact per-field
    *    sums; weights are probe-time);
    *  - Terms × Bm25FFull — "… weighting title 2, text 1 normalizing
    *    title 0.3, text 0.75": the same fielded index, per-field b
    *    over the same stored integers, every parameter probe-time;
    *  - Phrase(field) × Bm25F — "\"the fast\" in title weighting title
    *    2, text 1": a FIELDED POSITIONAL index ("the phrase in the
    *    TITLE": adjacency from the target field's stored within-field
    *    position lists, BM25F at the spoken weights);
    *  - Sloppy(slop, field) × Bm25F — "\"the fast\" in title with slop
    *    3 weighting title 2, text 1": a fielded positional index.
    * Each form takes the trailing "where …" (an attribute-built index). */
  final case class LexProbe(tokens: Seq[String], k: Int,
                            q: LexQuery = LexQuery(),
                            where: Option[Pred] = None)            extends TableOp
  /** Serving over TWO bound indexes ([[graft.operators.Retrieval.serve]]):
    * the lexical arm from the bound inverted index (the table path;
    * bucket-pruned), an optional vector arm from the bound IVF index
    * (the compile-time `vectorIndexPath`; cell-pruned), RRF-fused, and
    * an optional MMR re-selection at λ = `mmr` over the candidates'
    * id-fetched embeddings — zero corpus scans. `vector` is the arm:
    * [[ServeArm.ById]] (the spoken query id names the STORED embedding;
    * self-excluding) or [[ServeArm.Literal]] (a fresh embedding, query
    * id -1; nothing self-excluded). With neither an arm nor a λ the
    * sentence is an [[LexProbe]], and the compiler rejects the Op.
    *
    * Spoken forms ("Search the lexical index for top 5 matching …") by
    * (vector arm × MMR), with the default depth and the `where` tail:
    *  - Literal × none — "spark, join fused with vector [0.1, …] [at
    *    depth 20] probing 4 cells [where …]": depth 20, takes `where`
    *    (both arms pre-filter on the attribute BOTH indexes store);
    *  - Literal × MMR — "… probing 4 cells with lambda 0.7 [where …]":
    *    depth 20, takes `where`;
    *  - none × MMR — "spark, join with lambda 0.7 [at depth 10]": depth
    *    10, no `where`; hash-identical to the flat [[MmrTopK]] over the
    *    indexed corpus;
    *  - ById × MMR — "… with lambda 0.7 [at depth 10] probing 4 cells
    *    for query 0": depth 10, no `where`;
    *  - ById × none — "spark, join weighting title 2, text 1 fused [at
    *    depth 20] probing 4 cells for query 0 [where …]": the FIELDED
    *    hybrid over a fielded index (BM25F at the spoken probe-time
    *    weights), depth 20, takes `where`.
    * Every other form's lexical query is Terms × Bm25. */
  final case class LexServe(terms: Seq[String], k: Int, q: LexQuery,
                            depth: Int, vector: Option[ServeArm],
                            mmr: Option[Double],
                            where: Option[Pred] = None)            extends TableOp
  /** Offline evaluation of the FUSED two-index ranking: the at-rest
    * hybrid probe (this bound lexical index + the bound IVF index)
    * scored against the exact-hybrid reference — same lexical arm,
    * vector arm exact self-excluding cosine over the IVF index's
    * stored vectors ([[graft.operators.Retrieval.recallAtK]] /
    * [[graft.operators.Retrieval.ndcgAtK]] over doc_id). The metric
    * isolates the IVF approximation inside the fusion. */
  final case class HybridEval(ndcg: Boolean, k: Int, qid: Long,
                              terms: Seq[String], depth: Int,
                              nprobe: Int)                         extends TableOp
  /** Per-cell row counts of the bound index from parquet footers only
    * ([[graft.operators.IvfIndex.cellStats]]) — hot-cell visibility at
    * metadata cost; the spoken twin of [[DayProfile]] for the IVF
    * layout. Exact totals, so the full-scan group-by is its oracle. */
  case object IndexCellProfile                                     extends TableOp
  /** Offline retrieval evaluation of the bound vector index: probe the
    * index for the queries `vec_id < qMax` (their stored embeddings)
    * and score the ranking per query against the exact brute-force
    * top-k over the indexed corpus —
    * [[graft.operators.Retrieval.recallAtK]] (`ndcg = false`) or
    * binary [[graft.operators.Retrieval.ndcgAtK]] (`ndcg = true`).
    * The "is the index good enough" job, spoken. */
  final case class IndexEval(ndcg: Boolean, k: Int, qMax: Long,
                             nprobe: Int)                          extends TableOp
  /** Summary profile of the bound inverted index from its manifest and
    * parquet FOOTERS only ([[graft.operators.LexIndex.bucketStats]] —
    * no data scan): `(buckets, n_postings, n_docs)`. Footer row totals
    * are exact, so the corpus postings replay is its oracle (the
    * auto-derived bucket count replays as max(16, ⌊√vocabulary⌋)). */
  case object LexBucketProfile                                     extends TableOp
  /** Maintenance of the bound persisted index, then its content read
    * back — the index's vectors `(vec_id, embedding[, codes][, codes8]
    * [, attrs…], cell)`, or the inverted index's postings `(term,
    * doc_id, tf, dl)`. Every verb runs through the one segment
    * lifecycle both indexes share
    * ([[graft.operators.SegmentedIndex]]). Compaction and vacuum are
    * content-invariant — that is what their oracles certify; an erase
    * is copy-on-write bounded to the partitions holding the rows, one
    * atomic flip, and the inverted index's stats drop by the erased
    * documents' exact totals in the same flip.
    *
    * Spoken forms by (store × verb):
    *  - Vector × Erase — "Erase vectors 3, 7 from the index.";
    *  - Vector × EraseWhere — "Erase vectors where label == 9 from the
    *    index." (NULL-predicate rows survive);
    *  - Vector × Compact — "Compact the index." (hot cells re-tile);
    *  - Vector × VacuumKeep — "Vacuum the index keeping 1 versions."
    *    (+ unreferenced quantizer files and erase-skipped cell dirs);
    *  - Lexical × Erase — "Delete docs 3, 7 from the lexical index."
    *    (also "documents");
    *  - Lexical × EraseWhere — "Erase documents where lang == 'de' from
    *    the lexical index." (a document-level predicate);
    *  - Lexical × Compact — "Compact the lexical index." (hot buckets
    *    re-tile; sync cursors persist across the fold);
    *  - Lexical × VacuumKeep — "Vacuum the lexical index keeping 1
    *    versions." (+ erase-skipped bucket dirs).
    * Each erase form takes any of the leading verbs "delete", "erase"
    * and "forget"; "doc"/"docs"/"document"/"documents" pick the
    * lexical index, "vector"/"vectors" the vector index. */
  final case class IndexMaintain(store: IndexStore, verb: IndexVerb) extends TableOp
}

final case class Plan(ops: List[Op]) {
  def :+(op: Op): Plan = Plan(ops :+ op)
}
object Plan { val empty: Plan = Plan(Nil) }

/** Invalid plan IR reached the compiler — the programmatic-construction
  * analogue of [[NLParser.ParseException]] (the parser rejects the same
  * shapes at parse time), so callers handle bad NL and bad hand-built IR
  * uniformly instead of matching on `IllegalArgumentException`. */
final case class InvalidPlanException(msg: String) extends RuntimeException(msg)
