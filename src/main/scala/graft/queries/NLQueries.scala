package graft.queries

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine
import graft.operators.{Events, Sampling}
import graft.sources.Sources.table

/** Natural-language-driven corpus queries — every one of these runs the
  * full reference lifecycle (description → NLParser → Plan IR → Compiler →
  * DataFrame; agentic_workflow_transformation.py:259-267) and lands on the
  * extension operators (Dedup/TextAnalysis/Similarity), proving the NL
  * surface reaches the whole engine, not just the 20-description
  * relational grammar. The reference's `exec()` boundary is open-ended in
  * principle (:129); this is its deterministic equivalent.
  *
  * Oracles: each description compiles to the same plan as an existing
  * hash-checked driver query, so the oracle SQL is reused verbatim from
  * that query's pack — identical SQL, identical rounding — plus two
  * composed forms (filter→score, fingerprint→drop) with their own SQL.
  */
object NLQueries extends QueryPack {

  private val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""
  private val stopSql =
    "['the','a','of','and','to','in','is','that','it','was']"

  private def docs(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  private def embs(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nl1_dedup_exact" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup documents exactly.", docs(s, d))),

    "nl2_dedup_jaccard" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup documents by 3-gram jaccard 0.5 blocked by source.", docs(s, d))),

    "nl3_dedup_minhash" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup documents by minhash jaccard 0.5.", docs(s, d))),

    "nl4_dedup_simhash" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup documents by simhash hamming 3.", docs(s, d))),

    "nl5_dedup_clusters" -> ((s: SparkSession, d: String) =>
      Engine.run("Cluster duplicates by 3-gram jaccard 0.5 blocked by source.", docs(s, d))),

    "nl6_tokenize" -> ((s: SparkSession, d: String) =>
      Engine.run("Tokenize the documents.", docs(s, d))),

    "nl7_quality_src0" -> ((s: SparkSession, d: String) =>
      Engine.run("Filter rows where source == 'src0' and then score quality.", docs(s, d))),

    "nl8_lang_id" -> ((s: SparkSession, d: String) =>
      Engine.run("Detect language.", docs(s, d))),

    "nl9_fingerprint_md5" -> ((s: SparkSession, d: String) =>
      Engine.run("Fingerprint documents and drop rolling_fp column.", docs(s, d))),

    "nl10_scrub_pii" -> ((s: SparkSession, d: String) =>
      Engine.run("Scrub pii.", docs(s, d))),

    "nl11_similar_topk" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3.", embs(s, d))),

    "nl12_sample_hash" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample 1 percent of documents with seed 7 " +
                 "and select columns doc_id and source.", docs(s, d))),

    // Same strata/seed as x25, so its oracle applies verbatim.
    "nl13_sample_stratified" -> ((s: SparkSession, d: String) =>
      Engine.run("Stratified sample by source src0 at 0.8, src1 at 0.5, " +
                 "src2 at 0.25, src3 at 0.1 with seed 7 " +
                 "and select columns doc_id and source.", docs(s, d))),

    "nl14_sessionize" -> ((s: SparkSession, d: String) =>
      Engine.run("Sessionize events with 30 minute gap.", Events.load(s, d))),

    "nl15_window_counts" -> ((s: SparkSession, d: String) =>
      Engine.run("Count events per 1 hour window.", Events.load(s, d))),

    "nl16_multisort" -> ((s: SparkSession, d: String) =>
      Engine.run("Filter rows where c_mktsegment == 'BUILDING' " +
                 "and sort by c_acctbal desc, c_name asc and keep top 20 rows.",
                 table(s, d, "customer"))),

    // Multimodal + corpus-stats routes reuse the x17/x18/x19/x13 oracles.
    "nl17_decode_media" -> ((s: SparkSession, d: String) =>
      Engine.run("Decode the media.", docs(s, d))),

    "nl18_sample_frames" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample frames from the videos.", docs(s, d))),

    "nl19_resize_media" -> ((s: SparkSession, d: String) =>
      Engine.run("Decode the media and resize images to 32 pixels.", docs(s, d))),

    // Real ISO-BMFF demux route (x73's corpus and oracle): the verb runs
    // the sample-table walk over genuine MP4 payloads.
    "nl91_video_demux" -> ((s: SparkSession, d: String) =>
      Engine.run("Demux video frames.",
        MultimodalQueries.mp4MediaTable(s, d).toDF())),

    // Real WAV decode route (x74's corpus and oracle).
    "nl92_audio_decode" -> ((s: SparkSession, d: String) =>
      Engine.run("Decode the audio.",
        MultimodalQueries.wavMediaTable(s, d).toDF())),

    // Context-length capping route (x77's oracle).
    "nl93_truncate_tokens" -> ((s: SparkSession, d: String) =>
      Engine.run("Truncate documents to 128 tokens.", docs(s, d))),

    "nl20_corpus_stats" -> ((s: SparkSession, d: String) =>
      Engine.run("Compute corpus statistics by source.", docs(s, d))),

    "nl21_repeated_spans" -> ((s: SparkSession, d: String) =>
      Engine.run("Find repeated spans of 10 tokens.", docs(s, d))),

    // Multi-aggregate clause. Aggregates chosen for cross-engine
    // exactness without rounding: l_quantity is integral-valued (sums
    // exact in double at any accumulation order), max is order-free.
    "nl22_multi_agg" -> ((s: SparkSession, d: String) =>
      Engine.run("Group by l_returnflag and show average l_quantity " +
                 "and max l_extendedprice.", table(s, d, "lineitem"))),

    "nl23_sliding_counts" -> ((s: SparkSession, d: String) =>
      Engine.run("Count events per 1 hour window every 15 minutes.",
                 Events.load(s, d))),

    "nl24_top_tokens" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 10 tokens by source.", docs(s, d))),

    // Same bounded slice as x7 (the frame bound to the NL run is the
    // slice), so x7's oracle applies verbatim and the all-pairs guard
    // holds at every SF.
    "nl25_dedup_embedding" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by embedding cosine above 0.45.",
                 embs(s, d).filter(col("vec_id") % 3 === 0))),

    // Sampling keyed on a non-documents id — the "by <col>" tail.
    "nl26_sample_by_key" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample 10 percent of rows by c_custkey with seed 7 " +
                 "and select columns c_custkey and c_mktsegment.",
                 table(s, d, "customer"))),

    // Same k/seed as x31, so its oracle applies verbatim.
    "nl27_sample_cap" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample up to 5 documents per source with seed 7 " +
                 "and select columns doc_id and source.", docs(s, d))),

    // Exact interpolated median over integral-valued doubles (cross-engine
    // exact: sums inside the interpolation are integers in double domain).
    "nl28_median" -> ((s: SparkSession, d: String) =>
      Engine.run("Group by l_returnflag and show median l_quantity " +
                 "and max l_quantity.", table(s, d, "lineitem"))),

    // Two-table routes: the description names a catalog-bound table —
    // the capability the reference's single-frame state can't express.
    // Same benchmark frame and n as x30, so its oracle applies verbatim.
    "nl29_decontaminate" -> ((s: SparkSession, d: String) => {
      val docsDf = docs(s, d)
      Engine.run("Drop documents that share 8-token spans with benchmark " +
                 "and select columns doc_id and source.", docsDf,
                 Map("benchmark" -> docsDf.filter(col("source") === "src19")))
    }),

    // Continuous-score twin of nl29 — x47's oracle verbatim.
    "nl45_contamination_score" -> ((s: SparkSession, d: String) => {
      val docsDf = docs(s, d)
      Engine.run("Score contamination against benchmark with 8 token spans.",
                 docsDf,
                 Map("benchmark" -> docsDf.filter(col("source") === "src19")))
    }),

    // Same match semantics as x21 (no same-user ts collisions exist in
    // the events data at any SF, so true as-of ≡ the window formulation).
    "nl30_asof_signups" -> ((s: SparkSession, d: String) => {
      val ev = Events.load(s, d)
      Engine.run("Join events to signups as of time and select columns " +
                 "event_id, user_id, ts_us and last_signup_us.", ev,
                 Map("signups" -> ev.filter(col("event_type") === "signup")))
    }),

    // Salted-join route (q11's operator); count keeps the oracle integer-
    // exact and still checks join multiplicity end-to-end.
    // bare "salted" derives the bucket count from the observed hottest
    // key — the NL surface reaches the auto-sizing path
    "nl31_salted_join" -> ((s: SparkSession, d: String) =>
      Engine.run("Join orders to customers on o_custkey = c_custkey " +
                 "salted automatically and group by c_mktsegment and count c_custkey.",
                 table(s, d, "orders"),
                 Map("customers" -> table(s, d, "customer")
                   .select(col("c_custkey"), col("c_mktsegment"))))),

    // Same k/capacity as x32, so its oracle applies verbatim.
    "nl32_top_tokens_sketch" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 10 tokens by source using a sketch of capacity 256.",
                 docs(s, d))),

    // Banded scale siblings of nl25/nl4: same thresholds as x33/x34, so
    // their oracles apply verbatim.
    "nl33_dedup_embedding_lsh" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by embedding cosine above 0.45 using lsh.",
                 embs(s, d))),

    "nl34_dedup_simhash_wide" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by wide simhash hamming 3.", docs(s, d))),

    // Same budget/buckets as x35, so its oracle applies verbatim.
    "nl35_pack_sequences" -> ((s: SparkSession, d: String) =>
      Engine.run("Pack documents into sequences of 512 tokens across 32 buckets.",
                 docs(s, d))),

    "nl36_quantize_int8" -> ((s: SparkSession, d: String) =>
      Engine.run("Quantize embeddings to int8.", embs(s, d))),

    // Same window/overlap as x38, so its oracle applies verbatim.
    "nl37_chunk_documents" -> ((s: SparkSession, d: String) =>
      Engine.run("Chunk documents into 128 token windows with 16 token overlap.",
                 docs(s, d))),

    // Same k as x39, so its oracle applies verbatim.
    "nl38_tfidf_keywords" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 keywords per document.", docs(s, d))),

    // Same fractions and seed as x40, so its oracle applies verbatim —
    // but the driver compares the full projection, so keep doc_id+split.
    "nl39_split_assign" -> ((s: SparkSession, d: String) =>
      Engine.run("Split documents into 80 percent train, 10 percent validation " +
                   "and 10 percent test with seed 7.", docs(s, d))
        .select("doc_id", "split")),

    "nl40_upsample" -> ((s: SparkSession, d: String) =>
      Engine.run("Repeat documents 2.5 times with seed 11.", docs(s, d))
        .select("doc_id", "epoch")),

    // Same budget as x42, so its oracle applies verbatim.
    "nl41_budget_select" -> ((s: SparkSession, d: String) =>
      Engine.run("Curate the best documents up to 10000 tokens.", docs(s, d))),

    // Same k/seed as x43, so its oracle applies verbatim.
    "nl42_sample_exact_k" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample exactly 100 documents with seed 7.", docs(s, d))
        .select("doc_id", "source")),

    "nl43_unigram_logprob" -> ((s: SparkSession, d: String) =>
      Engine.run("Score documents by unigram log probability.", docs(s, d))),

    "nl44_gopher_rules" -> ((s: SparkSession, d: String) =>
      Engine.run("Apply the gopher quality rules.", docs(s, d))),

    // Latest-wins compaction (x46's operator; payload = every non-key
    // column, pre-selected to x46's output shape so its oracle applies).
    "nl46_latest_snapshot" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep the latest event per user_id.",
        Events.load(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
                  col("event_type"), col("value")))),

    // CDC changelog apply route (x64's operator and oracle): latest-wins
    // compaction where a latest-row tombstone deletes the key.
    "nl84_cdc_apply" -> ((s: SparkSession, d: String) =>
      Engine.run("Apply the changelog per user_id with tombstone error.",
        Events.load(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
                  col("event_type"), col("value")))),

    // Event-time range scan route (x65's operator and oracle): the
    // compiled filter lands on the TimestampType ts column, so it pushes
    // into the parquet scan exactly like the direct loadRange path.
    "nl85_event_range" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep events between '2024-01-10T00:00:00Z' and " +
                 "'2024-01-20T00:00:00Z' and select columns event_id, " +
                 "user_id, ts_us, event_type, value.",
        Events.load(s, d))),

    // Manifested-log range route (x67's table and oracle): the same
    // NL-compiled ts range filter, but the input resolves through the
    // manifest — day dirs prune at manifest level before the compiled
    // predicate row-group-prunes within them.
    "nl86_manifest_range" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep events between '2024-01-10T00:00:00Z' and " +
                 "'2024-01-20T00:00:00Z' and select columns event_id, " +
                 "user_id, ts_us, event_type, value.",
        graft.operators.ManifestedLog.load(
          s, EventQueries.manifestLayout(s, d)))),

    // Sub-day manifested range (x71's table and oracle): the compiled
    // BETWEEN lands on the native ts column of the manifest-resolved
    // table, row-group-pruning within the one qualifying day (the
    // direct x71 path additionally file-skips via the stats sidecar
    // before the scan even plans).
    "nl89_manifest_subday" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep events between '2024-01-15T06:00:00Z' and " +
                 "'2024-01-15T12:00:00Z' and select columns event_id, " +
                 "user_id, ts_us, event_type, value.",
        graft.operators.ManifestedLog.load(
          s, EventQueries.manifestLayout(s, d)))),

    // Day-profile route (x72's oracle): the NL verb computes the per-day
    // profile by scanning; x72 answers the same question from manifest +
    // sidecar metadata alone.
    "nl90_day_profile" -> ((s: SparkSession, d: String) =>
      Engine.run("Profile events by day.",
        graft.operators.ManifestedLog.load(
          s, EventQueries.manifestLayout(s, d)))),

    // Change-feed route (x69's table and oracle): the NL projection
    // runs over the delta between two retained manifest versions.
    "nl88_manifest_changes" -> ((s: SparkSession, d: String) =>
      Engine.run("Select columns event_id, user_id, ts_us, event_type " +
                 "and value.",
        graft.operators.ManifestedLog.changesBetween(
          s, EventQueries.manifestIncrLayout(s, d), 1L, 2L))),

    // Deterministic epoch shuffle (x68's shards and seed, so its
    // bit-exact oracle applies verbatim).
    "nl87_shuffle_shards" -> ((s: SparkSession, d: String) =>
      Engine.run("Shuffle documents into 8 shards with seed 13 and " +
                 "select columns doc_id, shard and shuffle_key.",
        docs(s, d))),

    // Time-travel route: pin the shared manifested layout's retained
    // version (write→compact→compact→vacuum leaves exactly version 3),
    // then x67's range + projection over the pinned content — the
    // loadAt twin of nl86, certified by the same oracle.
    "nl94_manifest_time_travel" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestLayout(s, d)
      Engine.run("Read the table at version 3 and keep events between " +
                 "'2024-01-10T00:00:00Z' and '2024-01-20T00:00:00Z' and " +
                 "select columns event_id, user_id, ts_us, event_type, value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Maintenance route: compaction discovery behind the watermark (one
    // atomic manifest flip), then read the table back — the full-corpus
    // oracle certifies compaction changed LAYOUT, never data. Runs on a
    // private mutable layout so the shared read-only tables stay put.
    "nl95_manifest_compact" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestMaintLayout(s, d)
      Engine.run("Compact closed days before '2030-01-01T00:00:00Z' and " +
                 "select columns event_id, user_id, ts_us, event_type, value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Maintenance route: trim retained history (reader pins honored),
    // then read the table back — same content-invariance oracle.
    "nl96_manifest_vacuum" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestMaintLayout(s, d)
      Engine.run("Vacuum the table keeping 1 versions and " +
                 "select columns event_id, user_id, ts_us, event_type, value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Snapshot maintenance route (x76's log and oracle): advance the
    // COLOCATED CDC snapshot (<table>/_snapshot) through the change
    // feed, read the live view back. The oracle recomputes the view
    // from the full event table, so the hash match proves the
    // NL-maintained incremental snapshot == full recompute.
    "nl97_snapshot_maintain" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestIncrLayout(s, d)
      Engine.run("Maintain the snapshot of the table and select columns " +
                 "user_id, event_id, ts_us, event_type and value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Snapshot point-lookup route (x78's oracle): "current state of key
    // 42" through the pruned readViewByKey path against the colocated
    // snapshot.
    "nl98_snapshot_lookup" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestIncrLayout(s, d)
      Engine.run("Lookup key 42 in the snapshot and select columns " +
                 "user_id, event_id, ts_us, event_type and value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Log point-lookup route (x75's table and oracle): all events of
    // user 42 via the sidecar key Blooms.
    "nl99_key_lookup" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestLayout(s, d)
      Engine.run("Lookup user_id 42 and select columns event_id, " +
                 "user_id, ts_us, event_type and value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Key + range lookup route (x79's table and oracle): "all events of
    // user 42 between A and B" composing loadByKeyRange's three pruning
    // layers from natural language.
    "nl100_key_range_lookup" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestLayout(s, d)
      Engine.run("Lookup user_id 42 between '2024-01-10T00:00:00Z' and " +
                 "'2024-01-20T00:00:00Z' and select columns event_id, " +
                 "user_id, ts_us, event_type and value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // Compliance-erasure route (x81's layout and oracle): "forget user
    // 42" — physical delete bounded by the sidecar Blooms, post-delete
    // content certified as corpus-minus-key.
    "nl101_delete_by_key" -> ((s: SparkSession, d: String) => {
      val p = EventQueries.manifestDeleteLayout(s, d)
      Engine.run("Delete user_id 42 from the table and select columns " +
                 "event_id, user_id, ts_us, event_type and value.",
        graft.operators.ManifestedLog.load(s, p), tablePath = Some(p))
    }),

    // PQ serving routes: the compressed ADC ranking and its exact
    // re-rank, spoken — x83/x85's kernels at the classical operating
    // point, narrowed to the one spoken query id.
    "nl102_similar_pq" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3 using quantized codes.",
                 embs(s, d))),

    "nl103_similar_pq_rerank" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3 using quantized " +
                 "codes with rerank 50.", embs(s, d))),

    // The literal-vector twins of nl11/nl102/nl103 — an UNSEEN spoken
    // embedding ranks against the corpus through every flat serving
    // shape: exact brute force, compressed ADC, and ADC + exact
    // re-rank. The oracle inlines the literal's exact float→double
    // widenings, so both engines score the bit-identical query.
    "nl111_similar_vec" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to vector " +
                 s"${VectorQueries.litVecSpoken}.", embs(s, d))),

    "nl112_similar_vec_pq" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to vector " +
                 s"${VectorQueries.litVecSpoken} using quantized codes.",
                 embs(s, d))),

    "nl113_similar_vec_pq_rerank" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to vector " +
                 s"${VectorQueries.litVecSpoken} using quantized codes " +
                 "with rerank 50.", embs(s, d))),

    // JL projected-candidate serving, spoken — x88's kernels (4x
    // compressed candidate pass + exact re-rank) for a stored id and
    // for an unseen literal query vector.
    "nl114_similar_projected" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3 using random " +
                 "projection with rerank 50.", embs(s, d))),

    "nl115_similar_vec_projected" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to vector " +
                 s"${VectorQueries.litVecSpoken} using random projection " +
                 "with rerank 50.", embs(s, d))),

    // SQ8 serving, spoken — x89's integer-exact quantized-cosine
    // candidates + exact re-rank, for a stored id and for an unseen
    // literal query vector.
    "nl116_similar_sq8" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3 using int8 codes " +
                 "with rerank 50.", embs(s, d))),

    "nl117_similar_vec_sq8" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to vector " +
                 s"${VectorQueries.litVecSpoken} using int8 codes " +
                 "with rerank 50.", embs(s, d))),

    // The JL projection dump, spoken — x87's map-only kernel and its
    // baked-plane oracle verbatim.
    "nl118_project_embeddings" -> ((s: SparkSession, d: String) =>
      Engine.run("Project the embeddings to 16 dimensions.", embs(s, d))),

    // Persisted-index probes, spoken: the CLI binds an index directory
    // the way it binds a manifested log, and "Search the index …" acts
    // on it in place — exact rescore (x82's kernels/params) and the PQ
    // ADC layer (x84's), both narrowed to the one spoken query id.
    "nl104_index_search" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the index for top 5 similar to 3 probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    "nl105_index_search_pq" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfPqIndexTable(s, d)
      Engine.run("Search the index with quantized codes for top 5 " +
                 "similar to 3 probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // The SQ8 layer, spoken — x90's per-vector int8 serving narrowed
    // to the one spoken query id.
    "nl119_index_search_sq8" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfSq8IndexTable(s, d)
      Engine.run("Search the index with int8 codes for top 5 " +
                 "similar to 3 probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Attribute-filtered probe, spoken — the filtered-serving shape
    // ("… where label == 3"): the predicate over the index's STORED
    // attribute column filters candidates inside the pruned scan,
    // narrowed to the one spoken query id; x91's oracle with the
    // single-query predicate.
    "nl120_index_search_filtered" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfAttrIndexTable(s, d)
      Engine.run("Search the index for top 5 similar to 3 probing 4 " +
                 s"cells where label == ${VectorQueries.FilterLabel}.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Filtered flat similarity, spoken — the neighbor metadata
    // pre-filter on the index-free exact scan (x96's shape narrowed to
    // the one spoken query id; the query row itself is fetched from
    // the unfiltered corpus).
    "nl122_similar_filtered" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 most similar vectors to 3 where label == " +
                 s"${VectorQueries.FilterLabel}.", embs(s, d))),

    // Lexical retrieval, spoken: BM25 over the document texts for a
    // literal term list (query_id -1 — the terms ARE the query).
    "nl125_bm25_docs" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast.",
        docs(s, d))),

    // Hybrid search, spoken: the BM25 arm fused with the stored
    // embedding of the spoken vector id by reciprocal-rank fusion —
    // the RAG serving sentence ("docs about X, near this embedding").
    "nl126_hybrid_docs" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast " +
                 "fused with vector 0.",
        docs(s, d), Map("embeddings" -> embs(s, d)))),

    // The at-rest lexical probe, spoken: same sentence terms as nl125,
    // served from the persisted inverted index — bucket-partition
    // pruning instead of a corpus scan, hash-identical result (the
    // shared oracle string makes the pair interleaved bench twins).
    "nl127_lex_index_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Attribute-filtered lexical retrieval, spoken — flat scan and
    // at-rest probe of the same sentence: only documents of the slice
    // rank (pre-filter), scoring stats full-corpus. nl129 shares
    // nl128's oracle string (probe ≡ scan, interleaved twins).
    "nl128_bm25_filtered" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast " +
                 s"where lang == '${RetrievalQueries.FilterLang}'.",
        docs(s, d))),

    "nl129_lex_search_filtered" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexAttrIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast where lang == " +
                 s"'${RetrievalQueries.FilterLang}'.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Inverted-index maintenance, spoken (nl108/109's protocol, lexical
    // side): the verbs are content-invariant, certified by reading the
    // postings back against the corpus replay — in any twin order.
    "nl130_lex_compact" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexMaintIndexTable(s, d)
      Engine.run("Compact the lexical index.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    "nl131_lex_vacuum" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexMaintIndexTable(s, d)
      Engine.run("Vacuum the lexical index keeping 1 versions.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Postings compliance erasure, spoken — "forget doc X" reaching the
    // one store that still serves its content by keyword; shares x107's
    // dedicated index and keys, so the spoken erase is either the
    // rewrite or its idempotent no-op.
    "nl132_lex_erase" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexEraseIndexTable(s, d)
      Engine.run("Delete docs " +
                 s"${RetrievalQueries.LexEraseKeys.mkString(", ")} " +
                 "from the lexical index.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Lexical index observability, spoken (nl110's shape, bucket side):
    // manifest constants + footer totals, no data scan — the summary is
    // corpus-replayable (the per-bucket breakdown is x113's
    // self-certified diagnostics).
    "nl137_lex_bucket_profile" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexIndexTable(s, d)
      Engine.run("Profile the lexical index by bucket.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // The LITERAL-query hybrid, spoken — the production serving
    // sentence the by-id form can't speak: a fresh embedding plus
    // keywords, served from BOTH bound indexes (the lexical index binds
    // as the table, the IVF index through vectorIndexPath), RRF-fused,
    // zero corpus scans. x114's twin (shared oracle string).
    "nl138_hybrid_serve_literal" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast fused with vector " +
                 s"${VectorQueries.litVecSpoken} at depth 20 probing 4 cells.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // Quoted-phrase retrieval, spoken — the flat scan: only documents
    // containing the contiguous run "spark join" rank (adjacency, not
    // bag-of-words), BM25-scored with full-corpus stats.
    "nl139_bm25_phrase" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching \"spark join\".",
        docs(s, d))),

    // The same phrase served AT REST from the positional inverted
    // index — adjacency from stored position lists on the pruned
    // candidate rows, zero corpus scans. nl139's twin (shared oracle
    // string), and x115/x116's single-query spoken form.
    "nl140_lex_phrase_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexPosIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "\"spark join\".",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Ordered sloppy-phrase retrieval, spoken — the standard slop
    // semantics ("spark fast", in order, within 3 extra positions):
    // flat scan and positional-index probe of the same sentence
    // (shared oracle string, interleaved twins).
    "nl149_bm25_sloppy" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching \"spark fast\" with " +
                 "slop 3.",
        docs(s, d))),

    "nl150_lex_sloppy_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexPosIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "\"spark fast\" with slop 3.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // MMR over the FUSED ranking, spoken — one sentence diversifies
    // the two-index hybrid top-depth (x131's operating point, single
    // query): "with lambda … probing … for query 0".
    "nl153_mmr_hybrid_serve" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast with lambda 0.7 at depth 10 " +
                 "probing 4 cells for query 0.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // MMR over the LITERAL hybrid, spoken — the production sentence
    // diversified: fresh embedding + keywords + lambda in one line.
    // x136's twin (shared oracle string).
    "nl154_mmr_hybrid_lit" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast fused with vector " +
                 s"${VectorQueries.litVecSpoken} at depth 10 probing " +
                 "4 cells with lambda 0.7.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // FULL Robertson–Zaragoza BM25F, spoken — the per-field-b tuning
    // in one sentence: flat scan and the fielded-index probe of the
    // same sentence (shared oracle strings, interleaved twins).
    "nl160_bm25f_full" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast " +
                 "weighting title 2, text 1 normalizing title 0.3, " +
                 "text 0.75.",
        RetrievalQueries.titledDocs(s, d))),

    "nl161_lexf_search_full" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexFieldedIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast weighting title 2, text 1 " +
                 "normalizing title 0.3, text 0.75.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // The FIELDED phrase, spoken — "the phrase in the TITLE" in one
    // sentence: flat fielded scan and the fielded positional probe of
    // the same sentence (shared oracle strings, interleaved twins).
    "nl156_bm25f_phrase" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching \"the fast\" in title " +
                 "weighting title 2, text 1.",
        RetrievalQueries.titledDocs(s, d))),

    "nl157_lexf_phrase_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexFieldedPosIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "\"the fast\" in title weighting title 2, text 1.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // The FIELDED sloppy phrase, spoken — ordered within slop inside
    // the body field's stream, BM25F-weighted.
    "nl158_bm25f_sloppy" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching \"spark fast\" in text " +
                 "with slop 3 weighting title 2, text 1.",
        RetrievalQueries.titledDocs(s, d))),

    "nl159_lexf_sloppy_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexFieldedPosIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "\"spark fast\" in text with slop 3 weighting " +
                 "title 2, text 1.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // The FIELDED hybrid, spoken — the title/body RAG probe in one
    // sentence: this fielded index's BM25F arm at the spoken weights,
    // the bound vector index's arm by the spoken query id's stored
    // embedding, RRF-fused (x137's single-query spoken form).
    "nl155_hybrid_serve_fielded" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexFieldedIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast weighting title 2, text 1 fused " +
                 "at depth 20 probing 4 cells for query 0.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // BM25F, spoken — the title/body weighting in one sentence: flat
    // scan over the derived-title frame and the fielded-index probe of
    // the same weighting (shared oracle string, interleaved twins).
    "nl151_bm25f" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast " +
                 "weighting title 2, text 1.",
        RetrievalQueries.titledDocs(s, d))),

    "nl152_lexf_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexFieldedIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast weighting title 2, text 1.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // The FILTERED literal-query hybrid, spoken — the full production
    // serving sentence in one line: fresh embedding, keywords, metadata
    // filter, two pruned index probes. x124's twin (shared oracle).
    "nl148_hybrid_serve_lit_filtered" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexLabelIndexTable(s, d)
      val vp = VectorQueries.ivfAttrIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast fused with vector " +
                 s"${VectorQueries.litVecSpoken} at depth 20 probing " +
                 s"4 cells where label == ${VectorQueries.FilterLabel}.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // Proximity retrieval, spoken — flat scan and positional-index
    // probe of the same sentence (shared oracle string).
    "nl146_bm25_proximity" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join within " +
                 "5 tokens.",
        docs(s, d))),

    "nl147_lex_proximity_search" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexPosIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join within 5 tokens.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Filtered phrase retrieval, spoken — the adjacency restriction
    // AND the attribute pre-filter in one sentence; nl145 serves the
    // same from the positional+attribute index (shared oracle string).
    "nl144_bm25_phrase_filtered" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching \"spark join\" where " +
                 s"lang == '${RetrievalQueries.FilterLang}'.",
        docs(s, d))),

    "nl145_lex_phrase_filtered" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexPosAttrIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "\"spark join\" where lang == " +
                 s"'${RetrievalQueries.FilterLang}'.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // MMR diversification, spoken — x112's greedy at the same operating
    // point, single spoken query (the embeddings table binds through
    // the catalog, as the hybrid route's vector arm does).
    "nl136_mmr_docs" -> ((s: SparkSession, d: String) =>
      Engine.run("Find top 5 documents matching spark, join, fast " +
                 "with lambda 0.7 at depth 10.",
        docs(s, d), Map("embeddings" -> embs(s, d)))),

    // The same diversification served fully AT REST, spoken: BM25
    // candidates from the bound lexical index, embeddings fetched by
    // id from the bound IVF index — zero corpus scans. nl136's twin
    // (shared oracle string), x117's single-query spoken form.
    "nl141_mmr_serve" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the lexical index for top 5 matching " +
                 "spark, join, fast with lambda 0.7 at depth 10.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // Offline index evaluation, spoken — x110/x111's sentences (same
    // constants, so the oracles are the same strings → interleaved
    // twins): probe the bound index for the stored queries and score
    // each against exact search.
    "nl134_index_recall" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Evaluate recall at 5 for queries below 8 probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    "nl135_index_ndcg" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Evaluate ndcg at 5 for queries below 8 probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Offline eval of the FUSED ranking, spoken (x118/x119's shape,
    // single query): the two-index hybrid probe at a deliberately
    // tight nprobe scored against the exact-hybrid reference.
    "nl142_hybrid_recall" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Evaluate hybrid recall at 5 for query 0 matching " +
                 "spark, join, fast at depth 20 probing 1 cells.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    "nl143_hybrid_ndcg" -> ((s: SparkSession, d: String) => {
      val lp = RetrievalQueries.lexIndexTable(s, d)
      val vp = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Evaluate hybrid ndcg at 5 for query 0 matching " +
                 "spark, join, fast at depth 20 probing 1 cells.",
        graft.operators.LexIndex.readPostings(s, lp),
        tablePath = Some(lp), vectorIndexPath = Some(vp))
    }),

    // Attribute-sweep postings erasure, spoken (x109's twin).
    "nl133_lex_erase_where" -> ((s: SparkSession, d: String) => {
      val p = RetrievalQueries.lexEraseWhereIndexTable(s, d)
      Engine.run("Erase documents where lang == " +
                 s"'${RetrievalQueries.LexEraseLang}' from the lexical index.",
        graft.operators.LexIndex.readPostings(s, p), tablePath = Some(p))
    }),

    // Filtered probe with an UNSEEN literal query vector — the full
    // real serving shape in one spoken sentence: fresh embedding,
    // metadata filter, partition-pruned probe.
    "nl124_index_search_vec_filtered" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfAttrIndexTable(s, d)
      Engine.run("Search the index for top 5 similar to vector " +
                 s"${VectorQueries.litVecSpoken} probing 4 cells where " +
                 s"label == ${VectorQueries.FilterLabel}.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Index compliance erasure, spoken — nl101's GDPR verb on the
    // vector index: shares x92's dedicated index and keys, so the
    // spoken erase is either the rewrite or its idempotent no-op (both
    // read back the identical post-erase content).
    "nl121_index_erase" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfEraseIndexTable(s, d)
      Engine.run("Erase vectors " +
                 s"${VectorQueries.EraseKeys.mkString(", ")} from the " +
                 "index and select columns vec_id and cell.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Attribute-sweep erasure, spoken — "erase every vector of a
    // revoked slice": shares x97's dedicated index and label, so the
    // spoken sweep is either the rewrite or its idempotent no-op.
    "nl123_index_erase_where" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfEraseWhereIndexTable(s, d)
      Engine.run("Erase vectors where label == " +
                 s"${VectorQueries.EraseLabel} from the index and " +
                 "select columns vec_id and cell.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Literal-vector probes — the ACTUAL serving shape: a fresh
    // (unindexed) embedding spoken as a bracketed float list probes
    // the index; the oracle replays the probe with the same literal's
    // exact float→double widenings inlined.
    "nl106_index_search_vec" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Search the index for top 5 similar to vector " +
                 s"${VectorQueries.litVecSpoken} probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    "nl107_index_search_vec_pq" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfPqIndexTable(s, d)
      Engine.run("Search the index with quantized codes for top 5 " +
                 s"similar to vector ${VectorQueries.litVecSpoken} " +
                 "probing 4 cells.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Index maintenance routes, spoken — the log's nl95/nl96 pattern on
    // the vector index: the verbs fold/trim layout and history, the
    // read-back content must still be exactly the replayed Lloyd
    // assignment (content invariance IS the oracle).
    "nl108_index_compact" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Compact the index and select columns vec_id and cell.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    "nl109_index_vacuum" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Vacuum the index keeping 1 versions and select columns " +
                 "vec_id and cell.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // Spoken hot-cell visibility (x86's oracle): per-cell counts from
    // parquet footers only — the index twin of nl90's day profile.
    "nl110_index_cell_profile" -> ((s: SparkSession, d: String) => {
      val p = VectorQueries.ivfIndexTable(s, d)
      Engine.run("Profile the index by cell.",
        graft.operators.IvfIndex.read(s, p), tablePath = Some(p))
    }),

    // SemDeDup route (x50's operator at its threshold and the auto √n
    // cell count — no cluster clause → the scaled default).
    "nl47_semantic_dedup" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by semantic cosine 0.45.",
        table(s, d, "embeddings"))),

    // Temperature rebalance (x51's operator, key, and seed).
    "nl48_temperature_sample" -> ((s: SparkSession, d: String) =>
      Engine.run("Sample sources at temperature 2 by lang with seed 7 " +
                 "and select columns doc_id and lang.", docs(s, d))),

    // Bloom-pruned semi-join route (x48's operator and tables).
    "nl51_bloom_semi_join" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep rows matching urgent on l_orderkey = o_orderkey " +
                 "with a bloom filter and select columns l_orderkey, " +
                 "l_linenumber and l_quantity.",
        table(s, d, "lineitem"),
        Map("urgent" -> table(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")))),

    // Multi-clause pipeline: filter → hash-sample → project, all from one
    // description — the composition surface the reference's open-ended
    // exec() implies, here as three folded IR ops over one frame.
    "nl54_pipeline" -> ((s: SparkSession, d: String) =>
      Engine.run("Filter rows where n_chars > 200 and sample 50% of " +
                 "documents with seed 7 and select columns doc_id and source.",
                 docs(s, d))),

    // Incremental ingest dedup route (x55's frames and oracle).
    "nl53_dedup_against" -> ((s: SparkSession, d: String) => {
      val all = docs(s, d)
      Engine.run("Drop documents already in corpus and select columns " +
                 "doc_id and source.",
                 all.filter(col("doc_id") % 3 === 0),
                 Map("corpus" -> all.filter(col("doc_id") % 7 === 0)))
    }),

    // Near-dup ingest dedup route (x63's frames and oracle): the
    // MinHash-LSH against-history screen, NL-reachable.
    "nl83_dedup_near_against" -> ((s: SparkSession, d: String) => {
      val all = docs(s, d)
      Engine.run("Drop documents near-duplicated in corpus by minhash " +
                 "jaccard 0.5 and select columns doc_id and source.",
                 all.filter(col("doc_id") % 3 === 0),
                 Map("corpus" -> all.filter(col("doc_id") % 7 === 0)))
    }),

    // Certified HLL distinct sketch (x49's kernel, q12-style oracle).
    "nl52_distinct_sketch" -> ((s: SparkSession, d: String) =>
      Engine.run("Count distinct user_id per event_type with a sketch.",
                 Events.load(s, d))),

    // Z-order layout route: the curve key clause composed with select,
    // multi-key sort, and top-k — x52's oracle verbatim.
    "nl59_zorder" -> ((s: SparkSession, d: String) =>
      Engine.run("Zorder by l_partkey and l_suppkey and select columns " +
                 "l_orderkey, l_linenumber, l_partkey, l_suppkey and zvalue " +
                 "and sort by zvalue, l_orderkey, l_linenumber " +
                 "and keep top 100 rows.",
                 table(s, d, "lineitem"))),

    // Edit-distance dedup route (x59's threshold and blocking).
    "nl58_dedup_levenshtein" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by levenshtein 5 blocked by source.", docs(s, d))),

    // Conversion funnel route (x57's operator and event types).
    "nl56_event_funnel" -> ((s: SparkSession, d: String) =>
      Engine.run("Funnel from signup to purchase.", Events.load(s, d))),

    // Retention matrix route (x58's operator).
    "nl57_cohort_retention" -> ((s: SparkSession, d: String) =>
      Engine.run("Cohort retention by week.", Events.load(s, d))),

    // Per-group normalization route (x56's operator and columns).
    "nl55_normalize" -> ((s: SparkSession, d: String) =>
      Engine.run("Normalize n_chars per lang and select columns doc_id, " +
                 "lang, n_chars and z.", docs(s, d))),

    // Profiling routes (x53/x54's operators and parameters).
    "nl49_histogram" -> ((s: SparkSession, d: String) =>
      Engine.run("Histogram o_totalprice by o_orderpriority from 0 to " +
                 "600000 in 20 bins.",
                 table(s, d, "orders"))),
    "nl50_outlier_clip" -> ((s: SparkSession, d: String) =>
      Engine.run("Clip outliers above the 99th percentile of n_chars " +
                 "and select columns doc_id and n_chars.", docs(s, d))),

    // ---- relational q-family NL routes: the analytics shapes a pipeline
    // user types first ("revenue rollup by region", "pivot order counts
    // by status"), each compiling to the exact plan of its hash-checked
    // q-family driver twin so that oracle applies verbatim.

    // q13's three broadcast-dim join chain + rollup grouping sets.
    "nl60_rollup_revenue" -> ((s: SparkSession, d: String) =>
      Engine.run("Join orders to customer on o_custkey = c_custkey broadcast, " +
                 "and join to nation on c_nationkey = n_nationkey broadcast, " +
                 "and join to region on n_regionkey = r_regionkey broadcast, " +
                 "and rollup by r_name and n_name, " +
                 "and show sum o_totalprice rounded to 2 as revenue " +
                 "and count rows as n_orders.",
                 table(s, d, "orders"),
                 Map("customer" -> table(s, d, "customer"),
                     "nation" -> table(s, d, "nation"),
                     "region" -> table(s, d, "region")))),

    // q15's full cube over (status, priority).
    "nl61_cube_orders" -> ((s: SparkSession, d: String) =>
      Engine.run("Cube by o_orderstatus and o_orderpriority, " +
                 "and show count rows as n_orders " +
                 "and sum o_totalprice rounded to 2 as revenue.",
                 table(s, d, "orders"))),

    // q17's pivot with its explicit value list.
    "nl62_pivot_status" -> ((s: SparkSession, d: String) =>
      Engine.run("Pivot count of o_orderstatus values 'F', 'O' and 'P' " +
                 "by o_orderpriority.",
                 table(s, d, "orders"))),

    // q18's pivot → unpivot round trip.
    "nl63_unpivot_status" -> ((s: SparkSession, d: String) =>
      Engine.run("Pivot count of o_orderstatus values 'F', 'O' and 'P' " +
                 "by o_orderpriority, and unpivot F, O and P to " +
                 "o_orderstatus as n_orders.",
                 table(s, d, "orders"))),

    // q4's per-customer window top-3.
    "nl64_window_rank" -> ((s: SparkSession, d: String) =>
      Engine.run("Rank by o_totalprice desc within o_custkey tie by " +
                 "o_orderkey keep top 3, and select columns o_custkey, " +
                 "o_orderkey, o_totalprice and rn.",
                 table(s, d, "orders"))),

    // q20's ntile quartile buckets + per-cell aggregate.
    "nl65_ntile_quartiles" -> ((s: SparkSession, d: String) =>
      Engine.run("Ntile o_totalprice into 4 within o_orderpriority tie by " +
                 "o_orderkey as quartile, and group by o_orderpriority and " +
                 "quartile, and show count rows as n " +
                 "and sum o_totalprice rounded to 2 as revenue.",
                 table(s, d, "orders"))),

    // q10's union/except — the side tables are themselves built by NL
    // sub-descriptions, so the whole set expression is grammar-reachable.
    "nl66_setops" -> ((s: SparkSession, d: String) => {
      val cust = table(s, d, "customer")
      val richAuto = Engine.run(
        "Filter rows where c_mktsegment == 'AUTOMOBILE' and c_acctbal > 5000 " +
        "and select columns c_custkey and c_name.", cust)
      val negBal = Engine.run(
        "Filter rows where c_acctbal < 0 " +
        "and select columns c_custkey and c_name.", cust)
      Engine.run("Filter rows where c_mktsegment == 'BUILDING' " +
                 "and select columns c_custkey and c_name, " +
                 "and union with rich_auto, and except neg_bal.",
                 cust,
                 Map("rich_auto" -> richAuto, "neg_bal" -> negBal))
    }),

    // q2's global top-k through the plain sort/limit grammar.
    "nl67_topk_orders" -> ((s: SparkSession, d: String) =>
      Engine.run("Sort by o_totalprice desc and then by o_orderkey, " +
                 "and keep top 10 rows, and select columns o_orderkey, " +
                 "o_custkey and o_totalprice.",
                 table(s, d, "orders"))),

    // q3's broadcast dim join + revenue aggregate.
    "nl68_join_revenue" -> ((s: SparkSession, d: String) =>
      Engine.run("Join orders to customer on o_custkey = c_custkey broadcast, " +
                 "and group by c_mktsegment, " +
                 "and show sum o_totalprice rounded to 2 as revenue " +
                 "and count rows as n_orders.",
                 table(s, d, "orders"),
                 Map("customer" -> table(s, d, "customer")))),

    // Bucketed layout write — the pay-the-shuffle-once step, previously
    // spec-only. The result is the READ-BACK of the bucketed managed
    // table, so the oracle is round-trip content fidelity; the
    // exchange-free join over the written table is asserted in
    // BucketedJoinSpec.
    "nl69_bucketed_write" -> ((s: SparkSession, d: String) =>
      Engine.run("Write orders bucketed by o_custkey into 16 buckets " +
                 "as graft_nl_orders_bucketed.",
                 table(s, d, "orders"))),

    // q19's date-part aggregate via the extract clause.
    "nl70_orders_by_month" -> ((s: SparkSession, d: String) =>
      Engine.run("Extract year of o_orderdate as order_year, " +
                 "and extract month of o_orderdate as order_month, " +
                 "and group by order_year and order_month, " +
                 "and show count rows as n_orders " +
                 "and sum o_totalprice rounded to 2 as revenue.",
                 table(s, d, "orders"))),

    // q14's running-revenue ROWS frame.
    "nl71_running_revenue" -> ((s: SparkSession, d: String) =>
      Engine.run("Extract epoch millis of o_orderdate as order_ms, " +
                 "and show running sum of o_totalprice per o_custkey " +
                 "ordered by o_orderdate tie by o_orderkey rounded to 2 " +
                 "as running_revenue, " +
                 "and select columns o_custkey, o_orderkey, order_ms " +
                 "and running_revenue.",
                 table(s, d, "orders"))),

    // q16's trailing-30-day RANGE frame over the derived epoch column.
    "nl72_trailing_revenue" -> ((s: SparkSession, d: String) =>
      Engine.run("Extract epoch millis of o_orderdate as order_ms, " +
                 "and show trailing 30 day sum of o_totalprice per " +
                 "o_custkey ordered by order_ms rounded to 2 " +
                 "as trailing_30d_revenue, " +
                 "and select columns o_custkey, o_orderkey, order_ms " +
                 "and trailing_30d_revenue.",
                 table(s, d, "orders"))),

    // q5's pushdown-verified selective scan — pure existing grammar.
    "nl73_filter_pushdown" -> ((s: SparkSession, d: String) =>
      Engine.run("Filter rows where l_returnflag in ('A', 'R') and " +
                 "l_quantity < 10 and l_discount between 0.02 and 0.08 " +
                 "and select columns l_orderkey, l_partkey, l_quantity, " +
                 "l_discount and l_returnflag.",
                 table(s, d, "lineitem"))),

    // q7's distinct aggregate via "count distinct".
    "nl74_distinct_agg" -> ((s: SparkSession, d: String) =>
      Engine.run("Group by o_orderstatus and show count distinct " +
                 "o_custkey as n_customers and count rows as n_orders.",
                 table(s, d, "orders"))),

    // q9's semi join (parts with sales) via plain keep-matching.
    "nl75_parts_with_sales" -> ((s: SparkSession, d: String) =>
      Engine.run("Keep rows matching lineitem on p_partkey = l_partkey, " +
                 "and select columns p_partkey, p_name and p_retailprice.",
                 table(s, d, "part"),
                 Map("lineitem" -> table(s, d, "lineitem")))),

    // q8's anti join — the big-order side is itself NL-built.
    "nl76_customers_without_orders" -> ((s: SparkSession, d: String) => {
      val orders = table(s, d, "orders")
      val big = Engine.run(
        "Filter rows where o_totalprice > 300000 and select columns o_custkey.",
        orders)
      Engine.run("Drop rows matching bigorders on c_custkey = o_custkey, " +
                 "and select columns c_custkey and c_name.",
                 table(s, d, "customer"),
                 Map("bigorders" -> big))
    }),

    // q1's TPC-H pricing summary — the expression aggregate
    // sum(price · (1 − discount)) through the arithmetic sub-grammar.
    "nl77_pricing_summary" -> ((s: SparkSession, d: String) =>
      Engine.run("Filter rows where l_shipdate <= '1999-06-01 00:00:00', " +
                 "and group by l_returnflag and l_linestatus, " +
                 "and show sum l_quantity rounded to 2 as sum_qty " +
                 "and sum l_extendedprice rounded to 2 as sum_base_price " +
                 "and sum of l_extendedprice times (1 - l_discount) " +
                 "rounded to 2 as sum_disc_price " +
                 "and average l_quantity rounded to 4 as avg_qty " +
                 "and average l_extendedprice rounded to 4 as avg_price " +
                 "and count rows as count_order.",
                 table(s, d, "lineitem"))),

    // q6's multi-join revenue rollup-free aggregate, same expression.
    "nl78_multi_join_revenue" -> ((s: SparkSession, d: String) =>
      Engine.run("Join lineitem to orders on l_orderkey = o_orderkey, " +
                 "and join to customer on o_custkey = c_custkey broadcast, " +
                 "and join to nation on c_nationkey = n_nationkey broadcast, " +
                 "and join to region on n_regionkey = r_regionkey broadcast, " +
                 "and group by r_name and n_name, " +
                 "and show sum of l_extendedprice times (1 - l_discount) " +
                 "rounded to 2 as revenue " +
                 "and count rows as n_lineitems.",
                 table(s, d, "lineitem"),
                 Map("orders" -> table(s, d, "orders"),
                     "customer" -> table(s, d, "customer"),
                     "nation" -> table(s, d, "nation"),
                     "region" -> table(s, d, "region")))),

    // q12's sketch-error certification, spoken: the last driver query to
    // gain an NL twin — every driver query now has one.
    "nl79_certify_sketch" -> ((s: SparkSession, d: String) =>
      Engine.run("Certify approximate stats of distinct l_partkey as parts " +
                 "and percentiles of l_extendedprice per l_returnflag.",
                 table(s, d, "lineitem"))),

    // measured LSH/IVF calibration is NL-reachable too: same targets and
    // boolean certifications as x60/x61, whose oracles apply verbatim
    "nl80_calibrate_lsh" -> ((s: SparkSession, d: String) =>
      Engine.run("Calibrate lsh for recall 0.7.", embs(s, d))),

    "nl81_calibrate_ivf" -> ((s: SparkSession, d: String) =>
      Engine.run("Calibrate ivf for recall 0.7.", embs(s, d))),

    // the guard's blocked escape hatch, spoken — x62's oracle verbatim
    "nl82_dedup_embedding_blocked" -> ((s: SparkSession, d: String) =>
      Engine.run("Dedup by embedding cosine above 0.45 blocked by label.",
                 embs(s, d))))

  override val oracleSql: Map[String, String] = Map(
    "nl1_dedup_exact"    -> DedupQueries.oracleSql("x3_dedup_exact"),
    "nl2_dedup_jaccard"  -> DedupQueries.oracleSql("x4_dedup_ngram_jaccard"),
    "nl3_dedup_minhash"  -> DedupQueries.oracleSql("x5_dedup_minhash"),
    "nl4_dedup_simhash"  -> DedupQueries.oracleSql("x6_dedup_simhash"),
    "nl5_dedup_clusters" -> DedupQueries.oracleSql("x24_dedup_clusters"),
    "nl6_tokenize"       -> TextQueries.oracleSql("x8_text_tokens"),
    "nl8_lang_id"        -> TextQueries.oracleSql("x10_lang_id"),
    "nl9_fingerprint_md5" -> TextQueries.oracleSql("x11_fingerprint_md5"),
    "nl10_scrub_pii"     -> TextQueries.oracleSql("x23_pii_scrub"),

    // Composed filter → corpus op: x9's quality program over one source.
    "nl7_quality_src0" ->
      s"""WITH s AS (
         |  SELECT doc_id, text, len($toksSql) AS n_tokens,
         |    len(list_filter($toksSql, x -> list_contains($stopSql, x))) AS stops,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |              / length(text) END AS pr
         |  FROM documents WHERE source = 'src0')
         |SELECT doc_id, n_tokens,
         |  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE stops::DOUBLE / n_tokens END, 6) AS stopword_ratio,
         |  round(pr, 6) AS punct_ratio,
         |  round(0.4 * least(1.0, n_tokens / 100.0)
         |      + 0.4 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE stops::DOUBLE / n_tokens END) * 5.0)
         |      + 0.2 * (1.0 - pr), 6) AS quality
         |FROM s""".stripMargin,

    // Hash-deterministic sampling: the same splitmix64 bucket chain as
    // x25/x26 (OracleHashSql), so the NL route is hash-exact too.
    "nl12_sample_hash" ->
      s"""WITH ${OracleHashSql.sampleBucketCtes(7L, "doc_id, source")}
         |SELECT doc_id, source FROM pb
         |WHERE bucket < ${Sampling.threshold(0.01)}""".stripMargin,
    "nl13_sample_stratified" -> SamplingQueries.oracleSql("x25_sample_stratified"),

    // Event-time oracles reused verbatim from the x14/x15 driver queries.
    "nl14_sessionize"    -> EventQueries.oracleSql("x15_event_sessionize"),
    "nl15_window_counts" -> EventQueries.oracleSql("x14_event_tumbling"),

    "nl16_multisort" ->
      """SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_acctbal DESC, c_name ASC LIMIT 20""".stripMargin,

    "nl17_decode_media"  -> MultimodalQueries.oracleSql("x17_multimodal_decode"),
    "nl18_sample_frames" -> MultimodalQueries.oracleSql("x18_multimodal_frames"),
    "nl91_video_demux" -> MultimodalQueries.oracleSql("x73_video_demux"),
    "nl92_audio_decode" -> MultimodalQueries.oracleSql("x74_audio_decode"),
    "nl93_truncate_tokens" -> TextQueries.oracleSql("x77_truncate_tokens"),
    "nl19_resize_media"  -> MultimodalQueries.oracleSql("x19_multimodal_resize"),
    "nl20_corpus_stats"  -> TextQueries.oracleSql("x13_corpus_stats"),
    "nl21_repeated_spans" -> DedupQueries.oracleSql("x27_repeated_spans"),
    "nl22_multi_agg" ->
      """SELECT l_returnflag, avg(l_quantity) AS average_l_quantity,
        |  max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "nl23_sliding_counts" -> EventQueries.oracleSql("x28_event_sliding"),
    "nl24_top_tokens"     -> TextQueries.oracleSql("x29_top_tokens"),
    "nl25_dedup_embedding" -> DedupQueries.oracleSql("x7_dedup_embedding"),
    "nl26_sample_by_key" ->
      s"""WITH ${OracleHashSql.sampleBucketCtes(7L, "c_custkey, c_mktsegment",
                                                "customer", "c_custkey")}
         |SELECT c_custkey, c_mktsegment FROM pb
         |WHERE bucket < ${Sampling.threshold(0.10)}""".stripMargin,
    "nl27_sample_cap" -> SamplingQueries.oracleSql("x31_sample_cap_per_group"),
    "nl28_median" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_l_quantity,
        |  max(l_quantity) AS max_l_quantity
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "nl29_decontaminate" -> DedupQueries.oracleSql("x30_decontaminate"),
    "nl45_contamination_score" -> DedupQueries.oracleSql("x47_contamination_score"),
    "nl46_latest_snapshot" -> EventQueries.oracleSql("x46_latest_snapshot"),
    "nl84_cdc_apply" -> EventQueries.oracleSql("x64_cdc_apply"),
    "nl85_event_range" -> EventQueries.oracleSql("x65_event_range_scan"),
    "nl86_manifest_range" -> EventQueries.oracleSql("x67_event_manifest_range"),
    "nl87_shuffle_shards" -> SamplingQueries.oracleSql("x68_shuffle_shards"),
    "nl88_manifest_changes" -> EventQueries.oracleSql("x69_manifest_changes"),
    "nl89_manifest_subday" -> EventQueries.oracleSql("x71_manifest_file_skip"),
    "nl90_day_profile" -> EventQueries.oracleSql("x72_log_day_stats"),
    "nl94_manifest_time_travel" -> EventQueries.oracleSql("x67_event_manifest_range"),
    // maintenance preserves content: the oracle is the raw corpus
    "nl95_manifest_compact" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events""".stripMargin,
    "nl96_manifest_vacuum" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events""".stripMargin,
    "nl97_snapshot_maintain" -> EventQueries.oracleSql("x76_incremental_snapshot"),
    "nl98_snapshot_lookup" -> EventQueries.oracleSql("x78_snapshot_point_lookup"),
    "nl99_key_lookup" -> EventQueries.oracleSql("x75_manifest_point_lookup"),
    "nl100_key_range_lookup" -> EventQueries.oracleSql("x79_manifest_key_range"),
    "nl101_delete_by_key" -> EventQueries.oracleSql("x81_delete_by_key"),
    "nl104_index_search" -> VectorQueries.ivfReplaySqlFor("vec_id = 3", 4),
    "nl120_index_search_filtered" ->
      VectorQueries.ivfReplaySqlFor("vec_id = 3", 4, 5,
        Some(VectorQueries.labelCandFilter(VectorQueries.FilterLabel))),
    "nl122_similar_filtered" ->
      VectorQueries.bruteFilteredReplaySql("q.vec_id = 3", 5,
        VectorQueries.FilterLabel),
    "nl121_index_erase" ->
      VectorQueries.indexContentReplayExceptSql(VectorQueries.EraseKeys),
    "nl123_index_erase_where" ->
      VectorQueries.indexContentReplayExceptLabelSql(VectorQueries.EraseLabel),
    "nl124_index_search_vec_filtered" ->
      VectorQueries.ivfLiteralReplaySql(5, 4,
        Some(VectorQueries.labelCandFilter(VectorQueries.FilterLabel))),
    "nl125_bm25_docs" ->
      RetrievalQueries.bm25ReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5),
    // identical string to nl125's — the index probe must hash-match the
    // flat spoken scan (and the shared oracle interleaves the twins)
    "nl127_lex_index_search" ->
      RetrievalQueries.bm25ReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5),
    "nl126_hybrid_docs" ->
      RetrievalQueries.hybridReplaySql(
        Seq(0L -> Seq("spark", "join", "fast")), 5, 20),
    // the literal-query hybrid shares x114's exact string (same
    // constants: terms, k=5, depth 20, nprobe 4) → interleaved twins
    "nl138_hybrid_serve_literal" -> RetrievalQueries.litHybridReplaySql,
    "nl148_hybrid_serve_lit_filtered" ->
      RetrievalQueries.litHybridFilteredReplaySql,
    // quoted-phrase pair: nl140 shares nl139's string (positional
    // probe ≡ flat phrase scan — interleaved twins)
    "nl139_bm25_phrase" ->
      RetrievalQueries.phraseReplaySql(Seq(-1L -> Seq("spark", "join")), 5),
    "nl140_lex_phrase_search" ->
      RetrievalQueries.phraseReplaySql(Seq(-1L -> Seq("spark", "join")), 5),
    // hybrid-MMR: the fused ranking's replay as the candidate set,
    // the unrolled greedy on the RRF scores (x131's single-query form)
    "nl153_mmr_hybrid_serve" -> RetrievalQueries.mmrHybridReplaySql(
      Seq(0L -> Seq("spark", "join", "fast")), 5, 10, 4, 0.7),
    // literal hybrid-MMR: shares x136's string (same single query -1,
    // same constants — interleaved twins)
    "nl154_mmr_hybrid_lit" ->
      RetrievalQueries.mmrHybridLitReplaySql(5, 10, 4, 0.7),
    // full-BM25F pair: nl161 shares nl160's string (fielded probe ≡
    // flat per-field-normalized scan — interleaved twins)
    "nl160_bm25f_full" -> RetrievalQueries.bm25fFullReplaySql(
      Seq(-1L -> Seq("spark", "join", "fast")), 5, Seq(2.0, 1.0),
      Seq(0.3, 0.75)),
    "nl161_lexf_search_full" -> RetrievalQueries.bm25fFullReplaySql(
      Seq(-1L -> Seq("spark", "join", "fast")), 5, Seq(2.0, 1.0),
      Seq(0.3, 0.75)),
    // fielded phrase/sloppy pairs: the probe shares the flat scan's
    // string (within-field chain restricting the BM25F ranking)
    "nl156_bm25f_phrase" -> RetrievalQueries.bm25fPhraseFieldedReplaySql(
      Seq(-1L -> Seq("the", "fast")), 5, Seq(2.0, 1.0), fieldIdx = 0,
      slop = 0),
    "nl157_lexf_phrase_search" ->
      RetrievalQueries.bm25fPhraseFieldedReplaySql(
        Seq(-1L -> Seq("the", "fast")), 5, Seq(2.0, 1.0), fieldIdx = 0,
        slop = 0),
    "nl158_bm25f_sloppy" -> RetrievalQueries.bm25fPhraseFieldedReplaySql(
      Seq(-1L -> Seq("spark", "fast")), 5, Seq(2.0, 1.0), fieldIdx = 1,
      slop = 3),
    "nl159_lexf_sloppy_search" ->
      RetrievalQueries.bm25fPhraseFieldedReplaySql(
        Seq(-1L -> Seq("spark", "fast")), 5, Seq(2.0, 1.0), fieldIdx = 1,
        slop = 3),
    // fielded hybrid: x137's replay at the spoken single query (the
    // BM25F arm's replay + the by-id IVF arm's replay, fused)
    "nl155_hybrid_serve_fielded" ->
      RetrievalQueries.hybridServeFieldedReplaySql(
        Seq(0L -> Seq("spark", "join", "fast")), 5, 20, 4, Seq(2.0, 1.0)),
    // BM25F pair: nl152 shares nl151's string (fielded probe ≡ flat
    // weighted-aggregate scan — interleaved twins)
    "nl151_bm25f" -> RetrievalQueries.bm25fReplaySql(
      Seq(-1L -> Seq("spark", "join", "fast")), 5, Seq(2.0, 1.0)),
    "nl152_lexf_search" -> RetrievalQueries.bm25fReplaySql(
      Seq(-1L -> Seq("spark", "join", "fast")), 5, Seq(2.0, 1.0)),
    // sloppy pair: nl150 shares nl149's string (positional probe ≡
    // flat ordered-chain scan — interleaved twins)
    "nl149_bm25_sloppy" ->
      RetrievalQueries.sloppyReplaySql(Seq(-1L -> Seq("spark", "fast")), 5, 3),
    "nl150_lex_sloppy_search" ->
      RetrievalQueries.sloppyReplaySql(Seq(-1L -> Seq("spark", "fast")), 5, 3),
    // proximity pair: nl147 shares nl146's string
    "nl146_bm25_proximity" ->
      RetrievalQueries.proximityReplaySql(
        Seq(-1L -> Seq("spark", "join")), 5, 5),
    "nl147_lex_proximity_search" ->
      RetrievalQueries.proximityReplaySql(
        Seq(-1L -> Seq("spark", "join")), 5, 5),
    // filtered phrase pair: nl145 shares nl144's string
    "nl144_bm25_phrase_filtered" ->
      RetrievalQueries.phraseReplaySql(Seq(-1L -> Seq("spark", "join")), 5,
        eligibleSql = Some(RetrievalQueries.langEligibleSql(
          RetrievalQueries.FilterLang))),
    "nl145_lex_phrase_filtered" ->
      RetrievalQueries.phraseReplaySql(Seq(-1L -> Seq("spark", "join")), 5,
        eligibleSql = Some(RetrievalQueries.langEligibleSql(
          RetrievalQueries.FilterLang))),
    // filtered pair: nl129 shares nl128's string (probe ≡ scan)
    "nl128_bm25_filtered" ->
      RetrievalQueries.bm25ReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5,
        eligibleSql = Some(RetrievalQueries.langEligibleSql(
          RetrievalQueries.FilterLang))),
    "nl129_lex_search_filtered" ->
      RetrievalQueries.bm25ReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5,
        eligibleSql = Some(RetrievalQueries.langEligibleSql(
          RetrievalQueries.FilterLang))),
    // maintenance verbs read the postings content back — invariant
    // under compact/vacuum (shared string → interleaved twins), minus
    // exactly the forgotten documents under the erases
    "nl136_mmr_docs" ->
      RetrievalQueries.mmrReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5, 10, 0.7),
    // nl141 shares nl136's string: at-rest candidates and fetched
    // embeddings are identical inputs to the same greedy
    "nl141_mmr_serve" ->
      RetrievalQueries.mmrReplaySql(
        Seq(-1L -> Seq("spark", "join", "fast")), 5, 10, 0.7),
    // fused-ranking eval, single spoken query at x118/x119's shape
    "nl142_hybrid_recall" ->
      RetrievalQueries.hybridEvalReplaySql(
        Seq(0L -> Seq("spark", "join", "fast")), 5, 20, 1, ndcg = false),
    "nl143_hybrid_ndcg" ->
      RetrievalQueries.hybridEvalReplaySql(
        Seq(0L -> Seq("spark", "join", "fast")), 5, 20, 1, ndcg = true),
    "nl137_lex_bucket_profile" -> RetrievalQueries.lexProfileReplaySql(),
    // offline index eval, spoken at x110/x111's exact constants —
    // identical oracle strings, interleaved twins
    "nl134_index_recall" ->
      VectorQueries.recallReplaySql("vec_id < 8", "q.vec_id < 8", 5, 4),
    "nl135_index_ndcg" ->
      VectorQueries.ndcgReplaySql("vec_id < 8", "q.vec_id < 8", 5, 4),
    "nl130_lex_compact" -> RetrievalQueries.postingsReplaySql(),
    "nl131_lex_vacuum" -> RetrievalQueries.postingsReplaySql(),
    "nl132_lex_erase" -> RetrievalQueries.postingsReplaySql(
      RetrievalQueries.docsExceptSql(RetrievalQueries.LexEraseKeys)),
    "nl133_lex_erase_where" -> RetrievalQueries.postingsReplaySql(
      RetrievalQueries.docsExceptLangSql(RetrievalQueries.LexEraseLang)),
    "nl105_index_search_pq" ->
      VectorQueries.ivfPqReplaySqlFor("vec_id = 3", "q.vec_id = 3", 5, 4),
    "nl106_index_search_vec" -> VectorQueries.ivfLiteralReplaySql(5, 4),
    "nl107_index_search_vec_pq" -> VectorQueries.ivfPqLiteralReplaySql(5, 4),
    "nl108_index_compact" -> VectorQueries.indexContentReplaySql,
    "nl109_index_vacuum" -> VectorQueries.indexContentReplaySql,
    "nl110_index_cell_profile" -> VectorQueries.oracleSql("x86_index_cell_stats"),
    "nl102_similar_pq" -> VectorQueries.pqFlatReplaySql("q.vec_id = 3", 5),
    "nl103_similar_pq_rerank" ->
      VectorQueries.pqRefinedReplaySql("q.vec_id = 3", 5, 50),
    "nl111_similar_vec" -> VectorQueries.bruteLiteralReplaySql(5),
    "nl112_similar_vec_pq" -> VectorQueries.pqFlatLiteralReplaySql(5),
    "nl113_similar_vec_pq_rerank" ->
      VectorQueries.pqRefinedLiteralReplaySql(5, 50),
    "nl114_similar_projected" ->
      VectorQueries.jlReplaySqlFor("q.vec_id = 3", 5, 50),
    "nl115_similar_vec_projected" ->
      VectorQueries.jlLiteralReplaySql(5, 50),
    "nl116_similar_sq8" ->
      VectorQueries.sq8ReplaySqlFor("q.vec_id = 3", 5, 50),
    "nl117_similar_vec_sq8" ->
      VectorQueries.sq8LiteralReplaySql(5, 50),
    "nl118_project_embeddings" ->
      VectorQueries.oracleSql("x87_random_projection"),
    "nl119_index_search_sq8" ->
      VectorQueries.sq8IvfReplaySqlFor("vec_id = 3", 5, 4),
    "nl47_semantic_dedup" -> VectorQueries.oracleSql("x50_semantic_dedup"),
    "nl48_temperature_sample" -> SamplingQueries.oracleSql("x51_temperature_sample"),
    "nl49_histogram" -> RelationalQueries.oracleSql("x53_histogram_profile"),
    "nl51_bloom_semi_join" -> RelationalQueries.oracleSql("x48_bloom_semi_join"),
    "nl53_dedup_against" -> DedupQueries.oracleSql("x55_dedup_against"),
    "nl83_dedup_near_against" -> DedupQueries.oracleSql("x63_dedup_near_against"),
    "nl54_pipeline" ->
      s"""WITH ${OracleHashSql.sampleBucketCtes(7L, "doc_id, source, n_chars")}
         |SELECT doc_id, source FROM pb
         |WHERE n_chars > 200
         |  AND bucket < ${Sampling.threshold(0.5)}""".stripMargin,
    "nl52_distinct_sketch" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct,
        |  TRUE AS sketch_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,
    "nl50_outlier_clip" -> TextQueries.oracleSql("x54_outlier_clip"),
    "nl55_normalize" -> TextQueries.oracleSql("x56_normalize_zscore"),
    "nl56_event_funnel" -> EventQueries.oracleSql("x57_event_funnel"),
    "nl57_cohort_retention" -> EventQueries.oracleSql("x58_cohort_retention"),
    "nl58_dedup_levenshtein" -> DedupQueries.oracleSql("x59_dedup_levenshtein"),
    "nl59_zorder" -> RelationalQueries.oracleSql("x52_zorder_layout"),
    // q-family oracles reused verbatim by the relational NL routes.
    "nl60_rollup_revenue" -> RelationalQueries.oracleSql("q13_rollup_revenue"),
    "nl61_cube_orders" -> RelationalQueries.oracleSql("q15_cube_orders"),
    "nl62_pivot_status" -> RelationalQueries.oracleSql("q17_pivot_status"),
    "nl63_unpivot_status" -> RelationalQueries.oracleSql("q18_unpivot_status"),
    "nl64_window_rank" -> RelationalQueries.oracleSql("q4_window_rank"),
    "nl65_ntile_quartiles" -> RelationalQueries.oracleSql("q20_ntile_quartiles"),
    "nl66_setops" -> RelationalQueries.oracleSql("q10_setops"),
    "nl67_topk_orders" -> RelationalQueries.oracleSql("q2_topk_orders"),
    "nl68_join_revenue" -> RelationalQueries.oracleSql("q3_join_revenue"),
    // round-trip content fidelity of the bucketed write
    "nl69_bucketed_write" -> "SELECT * FROM orders",
    "nl70_orders_by_month" -> RelationalQueries.oracleSql("q19_orders_by_month"),
    "nl71_running_revenue" -> RelationalQueries.oracleSql("q14_running_revenue"),
    "nl72_trailing_revenue" -> RelationalQueries.oracleSql("q16_trailing_revenue"),
    "nl73_filter_pushdown" -> RelationalQueries.oracleSql("q5_filter_pushdown"),
    "nl74_distinct_agg" -> RelationalQueries.oracleSql("q7_distinct_agg"),
    "nl75_parts_with_sales" -> RelationalQueries.oracleSql("q9_parts_with_sales"),
    "nl76_customers_without_orders" ->
      RelationalQueries.oracleSql("q8_customers_without_orders"),
    "nl77_pricing_summary" -> RelationalQueries.oracleSql("q1_pricing_summary"),
    "nl78_multi_join_revenue" -> RelationalQueries.oracleSql("q6_multi_join_revenue"),
    "nl79_certify_sketch" -> RelationalQueries.oracleSql("q12_approx_stats"),
    "nl80_calibrate_lsh" -> VectorQueries.oracleSql("x60_lsh_calibration"),
    "nl81_calibrate_ivf" -> VectorQueries.oracleSql("x61_ivf_calibration"),
    "nl82_dedup_embedding_blocked" ->
      DedupQueries.oracleSql("x62_dedup_embedding_blocked"),
    "nl32_top_tokens_sketch" -> TextQueries.oracleSql("x32_top_tokens_sketch"),
    "nl33_dedup_embedding_lsh" -> VectorQueries.oracleSql("x33_embedding_pairs_lsh"),
    "nl34_dedup_simhash_wide" -> DedupQueries.oracleSql("x34_dedup_simhash_wide"),
    "nl35_pack_sequences" -> PackingQueries.oracleSql("x35_pack_sequences"),
    "nl36_quantize_int8" -> VectorQueries.oracleSql("x37_quantize_int8"),
    "nl37_chunk_documents" -> PackingQueries.oracleSql("x38_chunk_documents"),
    "nl38_tfidf_keywords" -> TextQueries.oracleSql("x39_tfidf_keywords"),
    "nl39_split_assign" -> SamplingQueries.oracleSql("x40_split_assign"),
    "nl41_budget_select" -> TextQueries.oracleSql("x42_budget_select"),
    "nl42_sample_exact_k" -> SamplingQueries.oracleSql("x43_sample_exact_k"),
    "nl43_unigram_logprob" -> TextQueries.oracleSql("x44_unigram_logprob"),
    "nl44_gopher_rules" -> TextQueries.oracleSql("x45_gopher_rules"),
    // 2 full epochs + a half-sampled third, replayed on the bucket CTEs.
    "nl40_upsample" -> {
      import graft.operators.Sampling
      s"""WITH ${OracleHashSql.sampleBucketCtes(11L, "doc_id")}
         |SELECT doc_id, e.e AS epoch FROM pb, unnest(range(0, 2)) AS e(e)
         |UNION ALL
         |SELECT doc_id, 2 FROM pb
         |WHERE bucket < ${Sampling.threshold(2.5 - 2)}""".stripMargin
    },
    "nl30_asof_signups"  -> EventQueries.oracleSql("x21_event_asof_signup"),
    // Salting never changes inner-join multiplicity, so the oracle is the
    // plain join (q11's shape, count aggregate for integer exactness).
    "nl31_salted_join" ->
      """SELECT c_mktsegment, count(c_custkey) AS count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // Single-query brute-force cosine top-k (x1's oracle, one query id).
    "nl11_similar_topk" ->
      """SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |                                      c.embedding::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank,
        |    list_cosine_similarity(q.embedding::DOUBLE[],
        |                           c.embedding::DOUBLE[]) AS score
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id = 3 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5""".stripMargin)
}
