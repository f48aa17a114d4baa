package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{IvfScoring, Similarity}
import graft.sources.Sources.table

/** Similarity-search queries over the `embeddings` table (X2).
  * Brute-force top-k is oracle-checked against DuckDB's
  * `list_cosine_similarity` (both sides accumulate sequentially in double
  * precision → bit-identical scores, verified in VectorFunctionsSpec).
  *
  * The approximate variants are oracle-checked too — approximation is no
  * obstacle once every choice is deterministic:
  *  - x2 LSH: the hyperplanes are a pure splitmix64 function of
  *    (seed, plane, dim) ([[Similarity.hyperplanes]]), so the oracle
  *    bakes the exact plane matrix into SQL as double literals
  *    (`Double.toString` round-trips, so DuckDB parses the bit-identical
  *    value) and replays bucketing → candidate join → exact rescore;
  *  - x20 IVF: centroid selection is the k smallest corpus ids — no RNG
  *    at all — so cell assignment and probing replay directly.
  * Sign/argmax decisions compare dot products computed in double by both
  * engines; a flip would need two values within ~1 ulp, which the
  * hash-exact gate would surface immediately. */
object VectorQueries extends QueryPack {

  private val K = 5
  private val NQueries = 8
  private val Bands = 8
  private val BitsPerBand = 6
  private val Dim = 64
  private val IvfCentroids = 16
  private val IvfNProbe = 4
  // PQ at the classical operating point: 8 subspaces × 8-bit codes — a
  // 64-dim float vector compresses 32× to 8 bytes (PqSpec measures
  // recall@5 = 0.58 ADC-alone, 1.00 with the 50-candidate re-rank)
  private val PqM = 8
  private val PqKsub = 256
  private val PqSubDim = Dim / PqM
  private val PqRerank = 50
  // JL random projection at 4x compression (64 -> 16 dims); distances
  // distort 1±ε so the top-50 projected candidates feed an exact re-rank
  private val JlOutDim = 16
  private val JlRerank = 50
  private val Sq8Rerank = 50

  /** Persisted IVF index materialized once per JVM per fixture (stale
    * on-disk state from an earlier round is deleted — the fresh-process
    * rule the event layouts follow). */
  private val builtIndexes = scala.collection.mutable.HashSet.empty[String]
  private[queries] def ivfIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivf_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids)
      builtIndexes += path
    }
    path
  }

  /** x84's twin index: same coarse quantizer plus the PQ layer, so ADC
    * probes serve from code words without reading the float vectors. */
  private[queries] def ivfPqIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivfpq_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids,
        pq = Some(graft.operators.Pq.PqParams(PqM, PqKsub)))
      builtIndexes += path
    }
    path
  }

  /** x90's index: same coarse quantizer plus the per-vector SQ8 layer,
    * so probes serve from 1-byte-per-dim code words. */
  private[queries] def ivfSq8IndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivfsq8_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids, sq8 = true)
      builtIndexes += path
    }
    path
  }

  /** x91's index: same coarse quantizer plus the `label` ATTRIBUTE
    * column stored beside the vectors — the filtered-serving shape
    * ("top-k where label = …"), where the metadata predicate pushes
    * into the pruned candidate scan. */
  private[queries] def ivfAttrIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivfattr_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids, attrs = Seq("label"))
      builtIndexes += path
    }
    path
  }

  /** x94/x95's index: PQ layer + SQ8 layer + the `label` attribute
    * together — filtered serving through BOTH compressed at-rest
    * layers from one build. */
  private[queries] def ivfLayeredIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivflayered_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids,
        pq = Some(graft.operators.Pq.PqParams(PqM, PqKsub)),
        sq8 = true, attrs = Seq("label"))
      builtIndexes += path
    }
    path
  }

  /** x93's change-feed scenario, constructed once per JVM per fixture
    * (the index-builder convention: the bench measures the maintenance
    * VERBS, not a from-scratch world per rep): a manifested embeddings
    * log at v2 (half appended, index built from v1, rest appended), an
    * index synced to v1 with the v1→v2 delta left PENDING for the
    * query's first syncFromLog, and a twin index maintained by direct
    * appends. Returns (logPath, indexPath, twinPath). */
  private val syncScenarios =
    scala.collection.mutable.HashMap.empty[String, (String, String, String)]
  private[queries] def syncScenario(s: SparkSession,
                                    d: String): (String, String, String) = synchronized {
    syncScenarios.getOrElseUpdate(d, {
      import graft.operators.{IvfIndex, ManifestedLog}
      val emb = table(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("graft-sync").toString
      val (logPath, idxPath, twinPath) = (s"$dir/log", s"$dir/index", s"$dir/twin")
      def withTs(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("ts", col("vec_id").cast("timestamp"))
      val half = emb.filter(col("vec_id") % 2 === 0)
      val rest = emb.filter(col("vec_id") % 2 === 1)
      ManifestedLog.append(withTs(half), logPath, dedupKey = Some("vec_id"))
      IvfIndex.buildFromLog(s, logPath, idxPath, cells = IvfCentroids)
      ManifestedLog.append(withTs(rest), logPath, dedupKey = Some("vec_id"))
      // twin: the same final state reached by direct appends
      IvfIndex.build(half, twinPath, cells = IvfCentroids)
      IvfIndex.append(rest, twinPath)
      (logPath, idxPath, twinPath)
    })
  }

  /** x97/nl123's DEDICATED index for the attribute-sweep erase: stores
    * the label attribute, and the [[EraseLabel]] slice is erased by
    * whichever twin runs first (idempotent thereafter). */
  private[queries] val EraseLabel = 9
  private[queries] def ivfEraseWhereIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivferasew_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids, attrs = Seq("label"))
      builtIndexes += path
    }
    path
  }

  /** x92/nl121's DEDICATED index (erasure mutates it, so it never
    * shares with the probe queries' indexes): built fresh per JVM, then
    * [[EraseKeys]] are erased — by whichever of the x/nl twins runs
    * first; the other's erase is the idempotent no-op, so both read
    * back the identical post-erase content in any order. */
  private[queries] val EraseKeys = Seq(3L, 7L)
  private[queries] def ivfEraseIndexTable(s: SparkSession, d: String): String = synchronized {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      "graft_ivferase_index_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
    if (!builtIndexes.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.IvfIndex.build(table(s, d, "embeddings"), path,
        cells = IvfCentroids)
      builtIndexes += path
    }
    path
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x1_ann_bruteforce" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < NQueries), emb, K)
        .withColumn("score", round(col("score"), 6))
    }),

    // Pinned operating points (the oracle bakes the 8×6 plane matrix /
    // the 16-cell Lloyd replay into SQL — a pinned point is what makes
    // the bit-exact replay possible). The parameterless default of both
    // operators calibrates instead (CalibrationSpec).
    "x2_ann_lsh" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < NQueries), emb, K,
                         Bands, BitsPerBand, Dim)
        .withColumn("score", round(col("score"), 6))
    }),

    "x20_ann_ivf" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < NQueries), emb, K,
                         IvfCentroids, IvfNProbe)
        .withColumn("score", round(col("score"), 6))
    }),

    // Persisted IVF index (built once per JVM: frozen deterministic
    // centroids, cell-partitioned segments behind an atomic manifest),
    // then served by partition-pruned probes — same parameters as x20,
    // so its bit-exact Lloyd-replay oracle applies verbatim: the
    // at-rest index returns exactly what the per-query build returns,
    // while a probe reads only the probed cells' files.
    "x82_ivf_index_search" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfIndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe)
        .withColumn("score", round(col("score"), 6))
    }),

    // Product quantization, flat (exhaustive-but-compressed) ADC: the
    // corpus ranks through its m-byte code words — a 4·dim/m smaller
    // candidate scan. Training is the same quantized-Lloyd recipe per
    // subspace, so the codebooks, codes, and every quantized inner
    // product replay bit-for-bit in SQL.
    "x83_ann_pq" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      val cb = graft.operators.Pq.train(emb, PqM, PqKsub)
      graft.operators.Pq.adcTopK(
          emb.filter(col("vec_id") < NQueries), emb, cb, K)
        .withColumn("score", round(col("score"), 6))
    }),

    // IVF-PQ (IVFADC): the persisted index serves ADC probes from
    // (vec_id, codes, cell) only — partition pruning bounds the files,
    // column pruning keeps the float vectors on disk. Candidates are
    // x20's probed cells; scores are x83's quantized inner products.
    "x84_ivfpq_index_search" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfPqIndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe, IvfScoring.Adc)
        .withColumn("score", round(col("score"), 6))
    }),

    // ADC + exact re-rank (IVFADC+R): compressed codes rank the corpus,
    // the exact cosine rescores only the top-50 per query — recall
    // 0.58 → 1.00 on the fixture while the full-vector reads stay
    // bounded by |queries|·rerank.
    "x85_ann_pq_refined" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      val cb = graft.operators.Pq.train(emb, PqM, PqKsub)
      graft.operators.Pq.adcTopKRefined(
          emb.filter(col("vec_id") < NQueries), emb, cb, K, PqRerank)
        .withColumn("score", round(col("score"), 6))
    }),

    // IVF-SQ8: the persisted index serves quantized-cosine probes from
    // (vec_id, codes8, cell) only — 1 byte per dimension; candidates
    // are x20's probed cells; scores are x89's integer-exact quantized
    // cosine, so the replay composes the two chains directly.
    "x90_ivfsq8_index_search" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfSq8IndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe, IvfScoring.Sq8)
        .withColumn("score", round(col("score"), 6))
    }),

    // Attribute-filtered ANN serving — the most common real serving
    // shape (every RAG/curation pipeline filters by metadata/split):
    // the `label = 3` predicate filters CANDIDATES inside the
    // partition-pruned scan (pre-filter, so exactly the top-k MATCHING
    // neighbors return — post-filtering a top-k under-returns k), and
    // the oracle replays the same candidate restriction.
    "x91_ivf_index_search_filtered" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfAttrIndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe,
          pred = Some(col("label") === FilterLabel))
        .withColumn("score", round(col("score"), 6))
    }),

    // Filtered serving through the COMPRESSED at-rest layers: the same
    // pushed candidate predicate riding the ADC (m-byte code words)
    // and SQ8 (1 byte/dim) probes — the scan projects codes + the
    // attribute, still never the float vectors.
    "x94_ivfpq_search_filtered" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfLayeredIndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe, IvfScoring.Adc,
          pred = Some(col("label") === FilterLabel))
        .withColumn("score", round(col("score"), 6))
    }),

    "x95_ivfsq8_search_filtered" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfIndex.search(s, ivfLayeredIndexTable(s, d),
          emb.filter(col("vec_id") < NQueries), K, IvfNProbe, IvfScoring.Sq8,
          pred = Some(col("label") === FilterLabel))
        .withColumn("score", round(col("score"), 6))
    }),

    // Filtered flat (index-free) exact serving — x1's scan with the
    // neighbor predicate pushed into the corpus side; pre-filter, so
    // exactly k matching neighbors return.
    "x96_ann_filtered" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < NQueries), emb,
          K, pred = Some(col("label") === FilterLabel))
        .withColumn("score", round(col("score"), 6))
    }),

    // Index compliance erasure (the GDPR sweep, x81's verb for the
    // vector index): copy-on-write bounded to the cells containing the
    // ids, one atomic manifest flip, idempotent once erased. The
    // oracle is the replayed Lloyd assignment MINUS the erased ids —
    // survivors keep their stored cells bit-for-bit.
    "x92_index_erase" -> ((s: SparkSession, d: String) => {
      val p = ivfEraseIndexTable(s, d)
      graft.operators.IvfIndex.deleteByKey(s, p, EraseKeys)
      graft.operators.IvfIndex.read(s, p).select(col("vec_id"), col("cell"))
    }),

    // Attribute-sweep erasure: every vector of a label slice erased by
    // predicate — fully distributed (no id list materializes), the
    // licence-revocation compliance shape. Oracle: the replayed
    // assignment minus the slice.
    "x97_index_erase_where" -> ((s: SparkSession, d: String) => {
      val p = ivfEraseWhereIndexTable(s, d)
      graft.operators.IvfIndex.deleteWhere(s, p,
        col("label") === EraseLabel)
      graft.operators.IvfIndex.read(s, p).select(col("vec_id"), col("cell"))
    }),

    // Change-feed-driven index maintenance, self-certified (the x60
    // TRUE-oracle pattern — the equivalence is between two Spark-side
    // constructions, not SQL-expressible): a manifested embeddings log
    // advances, syncFromLog ingests exactly the delta (cursor = the
    // sync tag in the live manifest, so append + cursor advance share
    // ONE atomic rename), and the synced index probes identically to
    // one maintained by direct appends of the same batches; a re-sync
    // against the unchanged log is a pure no-op.
    "x93_index_sync" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.IvfIndex
      val (logPath, idxPath, twinPath) = syncScenario(s, d)
      // first invocation per JVM: the sync below ingests the real
      // delta the cached scenario left pending; re-runs hit the
      // manifest-derived cursor and no-op — booleans identical
      val (to1, v1) = IvfIndex.syncFromLog(s, logPath, idxPath)
      val queries = table(s, d, "embeddings").filter(col("vec_id") < NQueries)
      def ranked(p: String) = IvfIndex.search(s, p, queries, K, IvfNProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet
      // each probe collected ONCE (ranked(idxPath) evaluated twice in
      // the old conjunction re-ran the whole probe pipeline)
      val ri = ranked(idxPath)
      val probeEqual = ri == ranked(twinPath) && ri.nonEmpty
      val (to2, v2) = IvfIndex.syncFromLog(s, logPath, idxPath)
      val resyncNoop = to2 == to1 && v2 == v1
      Seq((probeEqual, resyncNoop)).toDF("synced_probe_equal", "resync_noop")
    }),

    // Offline retrieval evaluation — the "is the index good enough"
    // job every serving pipeline runs before flipping traffic: the IVF
    // probe scored per query against the exact ranking. recall@k is
    // two exact integer counts and one division; nDCG@k folds binary
    // 1/log2(rank+1) gains in pinned rank order. Both evaluations are
    // query-batch-sized (two k-bounded frames joined) — the heavy work
    // is the rankings themselves, which is what's being judged.
    "x110_index_recall" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < NQueries)
      graft.operators.Retrieval.recallAtK(
        graft.operators.IvfIndex.search(s, ivfIndexTable(s, d), queries,
          K, IvfNProbe),
        Similarity.bruteForceTopK(queries, emb, K), K)
    }),

    "x111_index_ndcg" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < NQueries)
      graft.operators.Retrieval.ndcgAtK(
        graft.operators.IvfIndex.search(s, ivfIndexTable(s, d), queries,
          K, IvfNProbe),
        Similarity.bruteForceTopK(queries, emb, K), K)
    }),

    // Per-cell index stats from parquet footers ONLY (no data scan) —
    // hot-cell visibility for the IVF layout, the dayStats recipe
    // applied to seg-*/cell=*. Row totals are exact, so the full-scan
    // Lloyd-replay group-by is its oracle.
    "x86_index_cell_stats" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfIndex.cellStats(s, ivfIndexTable(s, d))
        .select(col("cell"), col("n_rows"))),

    // Johnson–Lindenstrauss random projection: a map-only scan-side
    // transform (no shuffle — RandomProjectionSpec pins zero Exchanges)
    // that cuts every downstream vector byte-read and distance FLOP by
    // dim/outDim. Dots accumulate in double in index order, so the
    // baked-plane oracle replays them bit-for-bit.
    "x87_random_projection" -> ((s: SparkSession, d: String) =>
      Similarity.randomProject(table(s, d, "embeddings"), Dim, JlOutDim)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("val"), 6).as("val"))),

    // ANN through the projection: candidates ranked by cosine in the
    // 16-dim projected space (4x fewer bytes than a full-dim pass),
    // exact full-dim cosine rescores only the top-50 per query — the
    // x85 re-rank shape with a JL sketch in place of PQ codes.
    "x88_ann_projected" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.projectedTopK(emb.filter(col("vec_id") < NQueries), emb,
          K, JlRerank, Dim, JlOutDim)
        .withColumn("score", round(col("score"), 6))
    }),

    // ANN via int8 scalar quantization + exact re-rank: candidate
    // scores are integer code dots over integer self-dot roots (the
    // per-vector scales cancel in cosine), so every sum is exact in
    // any order in either engine — the whole approximate pass replays
    // without pinning association. 4x fewer vector bytes at rest.
    "x89_ann_sq8" -> ((s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      Similarity.sq8TopK(emb.filter(col("vec_id") < NQueries), emb,
          K, Sq8Rerank)
        .withColumn("score", round(col("score"), 6))
    }),

    // Banded near-dup pairs — the in-repo scale path for x7's all-pairs
    // cosine (measured quadratic at sf1): recall < 1 by design, exactly
    // replayable since the planes bake into SQL like x2's.
    "x33_embedding_pairs_lsh" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup
        .embeddingPairsLsh(table(s, d, "embeddings"), PairThreshold,
                           Bands, BitsPerBand, Dim)
        .withColumn("cosine", round(col("cosine"), 6))),

    // Storage-compression step: per-vector symmetric int8. Every arithmetic
    // step is an IEEE single-rounding op, so the oracle replays it exactly.
    "x37_quantize_int8" -> ((s: SparkSession, d: String) =>
      Similarity.quantizeInt8(table(s, d, "embeddings"))),

    // SemDeDup: cosine pairs scored only within deterministic k-means
    // cells, at the AUTO cell count max(16, ⌊√n⌋) so Σ|cell|² scales
    // sub-quadratically; the oracle recomputes the same k and replays
    // the Lloyd assignment and same-cell pair generation exactly.
    "x50_semantic_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup
        .semanticDedupPairs(table(s, d, "embeddings"), PairThreshold)
        .withColumn("cosine", round(col("cosine"), 6))),

    // Measured LSH calibration certified q12-style: the helper picks an
    // operating point from a deterministic sample; the booleans assert
    // it actually hit the recall target without degenerating to
    // all-pairs, and the oracle's TRUE literals make the hash gate
    // prove both. (The chosen bands/bits themselves are corpus-sized —
    // value-pinning them would couple the oracle to the SF.)
    "x60_lsh_calibration" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val cal = Similarity.calibrateLsh(
        table(s, d, "embeddings"), targetRecall = CalibrationTarget)
      Seq((cal.recall >= CalibrationTarget, cal.candidateFraction < 1.0))
        .toDF("recall_hit", "sub_all_pairs")
    }),

    // IVF twin of x60: the measured (centroids, nprobe) pick must hit the
    // target while probing less than the full corpus.
    "x61_ivf_calibration" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val cal = Similarity.calibrateIvf(
        table(s, d, "embeddings"), targetRecall = CalibrationTarget)
      Seq((cal.recall >= CalibrationTarget, cal.scanFraction < 1.0))
        .toDF("recall_hit", "sub_full_scan")
    }))

  private val CalibrationTarget = 0.7

  /** The spoken/driver filtered-probe label (embeddings carry labels
    * 0-9, ~10% of the corpus each — a selective-but-nonempty slice). */
  private[queries] val FilterLabel = 3

  private val PairThreshold = 0.45 // same threshold as x7's all-pairs twin

  /** One Lloyd refinement iteration as CTE blocks (the replay of
    * [[Similarity.refineCentroids]]): assignment = argmax cosine (ties →
    * smallest cell, as the kernel), new coordinate = Σ floor(x·2^20) /
    * (n·2^20) rounded to float. The quantized per-dimension sums are
    * exact integers — identical under any accumulation order in either
    * engine — and the final division + FLOAT rounding are IEEE-identical,
    * so the refined centroids match Spark's bit for bit. */
  private val QuantScale = "1048576.0" // 2^20, matches Similarity.QuantScale
  private def lloydIteration(prev: String, out: String): String =
    s"""asg_$out AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.emb) DESC,
       |                 c.cell ASC) AS rn
       |    FROM embeddings e, $prev c)
       |  WHERE rn = 1),
       |sums_$out AS (
       |  SELECT a.cell, i.d,
       |    sum(floor(e.embedding[i.d] * $QuantScale))::BIGINT AS sq,
       |    count(*) AS n
       |  FROM embeddings e JOIN asg_$out a USING (vec_id),
       |       unnest(range(1, ${Dim + 1})) AS i(d)
       |  GROUP BY a.cell, i.d),
       |$out AS (
       |  SELECT c.cell,
       |    CASE WHEN count(s.d) = 0 THEN c.emb
       |         ELSE list((s.sq::DOUBLE / (s.n::DOUBLE * $QuantScale))::FLOAT::DOUBLE
       |                   ORDER BY s.d)
       |    END AS emb
       |  FROM $prev c LEFT JOIN sums_$out s ON s.cell = c.cell
       |  GROUP BY c.cell, c.emb)""".stripMargin

  /** `(p, weights)` literal rows for a plane matrix — each weight
    * printed via `Double.toString`, whose shortest-round-trip contract
    * guarantees DuckDB parses back the bit-identical double the Spark
    * kernel uses (`float → double` widening is exact). */
  private def planeRowsFor(planes: Array[Array[Float]]): String =
    planes.zipWithIndex
      .map { case (w, p) =>
        w.map(_.toDouble).mkString(s"($p::BIGINT, [", ", ", "]::DOUBLE[])")
      }
      .mkString(",\n")

  private def planeRows: String =
    planeRowsFor(Similarity.hyperplanes(Dim, Bands, BitsPerBand))

  private def jlPlanes: Array[Array[Float]] =
    Similarity.projectionPlanes(Dim, JlOutDim)

  /** `Double.toString` of sqrt(outDim) — round-trips, so DuckDB divides
    * by the bit-identical scale the kernel uses. */
  private lazy val JlDiv: String =
    StrictMath.sqrt(JlOutDim.toDouble).toString

  /** The projected corpus as DOUBLE lists post float-rounding — the
    * replay of [[Similarity.randomProject]] plus the array<float> cast
    * [[Similarity.projectedTopK]]'s candidate pass applies. */
  private def jlProjCte: String =
    s"""jlplanes(p, w) AS (VALUES
       |${planeRowsFor(jlPlanes)}),
       |proj AS (
       |  SELECT e.vec_id,
       |    list((list_dot_product(e.embedding::DOUBLE[], w) / $JlDiv)::FLOAT::DOUBLE
       |         ORDER BY p) AS pv
       |  FROM embeddings e, jlplanes
       |  GROUP BY e.vec_id)""".stripMargin

  /** Exact rescore + per-query top-`limit` over a candidate CTE named
    * `cand` with columns (query_id, neighbor_id) — the shared tail of
    * the x1 semantics the approximate variants rescore with. The limit
    * is a parameter (like [[pqRankTail]]'s) so a caller with k != $K
    * gets the oracle it asked for, not a silently truncated one. */
  private def rescoreTopK(limit: Int): String =
    s"""SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[],
       |                                      ce.embedding::DOUBLE[]) DESC,
       |               neighbor_id ASC) AS rank,
       |    list_cosine_similarity(qe.embedding::DOUBLE[],
       |                           ce.embedding::DOUBLE[]) AS score
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
       |WHERE rank <= $limit""".stripMargin

  /** The corpus side of the x20 Lloyd replay: refined centroids
    * (`cents2`) and every vector's argmax cell (`cellof`). Shared by
    * the embeddings-drawn candidate chain and the literal-vector probe
    * replay. */
  private def ivfCorpusCte: String =
    s"""cents0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |    embedding::DOUBLE[] AS emb
       |  FROM embeddings ORDER BY vec_id LIMIT $IvfCentroids),
       |${lloydIteration("cents0", "cents1")},
       |${lloydIteration("cents1", "cents2")},
       |cs AS (
       |  SELECT e.vec_id, c.cell,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.emb) AS sim
       |  FROM embeddings e, cents2 c),
       |ranked AS (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cell ASC) AS rn FROM cs),
       |cellof AS (SELECT vec_id, cell FROM ranked WHERE rn = 1)""".stripMargin

  /** The x20 Lloyd-replay candidate chain: [[ivfCorpusCte]] plus the
    * probed-cell `cand(query_id, neighbor_id)` pairs for queries drawn
    * from the embeddings table. Shared by the IVF oracles (exact
    * rescore) and the IVF-PQ oracle (ADC rescore). `candFilter`
    * restricts CANDIDATES (the replay of an attribute-filtered probe's
    * pushed predicate — pre-filter, applied before the top-k ranks). */
  private def ivfCandidatesCte(queryPred: String, nprobe: Int,
                               candFilter: Option[String] = None): String =
    s"""$ivfCorpusCte,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM (SELECT vec_id, cell FROM ranked
       |        WHERE rn <= $nprobe AND $queryPred) q
       |  JOIN cellof c ON q.cell = c.cell
       |  WHERE c.vec_id <> q.vec_id${candFilter.map(f => s" AND $f").getOrElse("")})""".stripMargin

  /** The literal probe vector of the NL index-search-by-vector routes:
    * a deterministic 64-dim vector NOT in the corpus — the serving
    * shape is a fresh embedding probing the index. The Spark side
    * parses these floats from the spoken text; the oracle inlines
    * their exact float→double widenings, so both engines score the
    * bit-identical query. */
  private[queries] val LitVec: Array[Float] =
    Array.tabulate(Dim)(i => (((i * 37) % 19) - 9) / 10.0f)

  /** The literal vector as it is SPOKEN ("[0.1, -0.2, …]") —
    * `Float.toString`/`toFloat` round-trip, so the parsed floats are
    * bit-identical to [[LitVec]]. */
  private[queries] def litVecSpoken: String =
    LitVec.map(_.toString).mkString("[", ", ", "]")

  /** qv/qcs/qranked/cand CTEs for the literal query vector (query_id
    * -1, so no corpus candidate is self-excluded): assigns the literal
    * to its `nprobe` best cells against the replayed centroids, then
    * joins candidates on the stored cell — exactly [[ivfCandidatesCte]]
    * with the query drawn from a VALUES literal instead of the table. */
  /** The literal query as a one-row VALUES relation — `qv(query_id,
    * emb)` with query_id -1 and [[LitVec]]'s exact float→double
    * widenings inlined. Every literal-vector replay starts here. */
  private def litQvCte: String = {
    val lits = LitVec.map(_.toDouble.toString).mkString("[", ", ", "]")
    s"qv(query_id, emb) AS (VALUES (-1::BIGINT, $lits::DOUBLE[]))"
  }

  private def litCandCte(nprobe: Int,
                         candFilter: Option[String] = None): String = {
    s"""$litQvCte,
       |qcs AS (
       |  SELECT q.query_id, c.cell,
       |    list_cosine_similarity(q.emb, c.emb) AS sim
       |  FROM qv q, cents2 c),
       |qranked AS (
       |  SELECT query_id, cell, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, cell ASC) AS rn FROM qcs),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM (SELECT query_id, cell FROM qranked WHERE rn <= $nprobe) q
       |  JOIN cellof c ON q.cell = c.cell${candFilter.map(f => s"\n  WHERE $f").getOrElse("")})""".stripMargin
  }

  /** Index CONTENT as (vec_id, cell) — the replayed Lloyd assignment of
    * every corpus vector. The oracle of the NL index-maintenance
    * routes: compact/vacuum must leave exactly this content. */
  private[queries] def indexContentReplaySql: String =
    s"""WITH $ivfCorpusCte
       |SELECT vec_id, cell FROM cellof""".stripMargin

  /** Exact rescore of a `cand(query_id, neighbor_id)` CTE against the
    * literal query — [[rescoreTopK]]'s shape with the query side joined
    * from `qv`, not the embeddings table. */
  private def litRescoreTail(k: Int): String =
    s"""SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY list_cosine_similarity(qv.emb,
       |                                      ce.embedding::DOUBLE[]) DESC,
       |               cand.neighbor_id ASC) AS rank,
       |    list_cosine_similarity(qv.emb, ce.embedding::DOUBLE[]) AS score
       |  FROM cand
       |  JOIN qv ON qv.query_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
       |WHERE rank <= $k""".stripMargin

  /** Literal-vector IVF probe replay (exact rescore): the query side of
    * the rescore joins `qv`, not the embeddings table. `candFilter`
    * replays an attribute-filtered probe's candidate restriction. */
  private[queries] def ivfLiteralReplaySql(k: Int, nprobe: Int,
                                           candFilter: Option[String] = None): String =
    s"""WITH $ivfCorpusCte,
       |${litCandCte(nprobe, candFilter)}
       |${litRescoreTail(k)}""".stripMargin

  /** The literal query's per-subspace slices and ADC lookup tables —
    * the `qsub`/`pluts` pair every literal PQ replay shares (requires
    * `qv` and `pq2` upstream). */
  private def litQsubPlutsCte: String =
    s"""qsub AS (
       |  SELECT query_id, s.s AS s,
       |    (emb)[s.s*$PqSubDim+1 : s.s*$PqSubDim+$PqSubDim] AS sv
       |  FROM qv, unnest(range(0, $PqM)) AS s(s)),
       |pluts AS (
       |  SELECT q.query_id, c.s, c.code,
       |    list_dot_product(q.sv, c.cb) AS dp
       |  FROM qsub q JOIN pq2 c ON c.s = q.s)""".stripMargin

  /** Literal-vector IVF-PQ probe replay: probed-cell candidates from
    * the literal, ADC scores through the replayed codebooks, with the
    * per-subspace lookup table built from the literal's slices. */
  private[queries] def ivfPqLiteralReplaySql(k: Int, nprobe: Int): String =
    s"""WITH $ivfCorpusCte,
       |${litCandCte(nprobe)},
       |$pqCodesCte,
       |$litQsubPlutsCte,
       |pscored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    $pqAdcSum AS score
       |  FROM cand cd
       |  JOIN pcodes n ON n.vec_id = cd.neighbor_id
       |  JOIN pluts l ON l.query_id = cd.query_id
       |    AND l.s = n.s AND l.code = n.code
       |  GROUP BY cd.query_id, cd.neighbor_id)
       |${pqRankTail(k)}""".stripMargin

  /** JL projected-candidate replay (x88's shape) for an arbitrary query
    * predicate over the aliased `q.vec_id` — shared with the NL twin,
    * whose single spoken query id narrows the predicate. */
  private[queries] def jlReplaySqlFor(queryPred: String, k: Int,
                                      rerank: Int): String =
    s"""WITH $jlProjCte,
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.pv, c.pv) DESC,
       |                 c.vec_id ASC) AS rn
       |    FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
       |    WHERE $queryPred)
       |  WHERE rn <= $rerank)
       |${rescoreTopK(k)}""".stripMargin

  /** Literal-vector JL replay: the spoken query projects through the
    * same baked planes (then the same double->float rounding), ranks
    * the projected corpus, and the exact cosine against the literal
    * rescores the top-`rerank`. */
  private[queries] def jlLiteralReplaySql(k: Int, rerank: Int): String =
    s"""WITH $litQvCte,
       |$jlProjCte,
       |qproj AS (
       |  SELECT q.query_id,
       |    list((list_dot_product(q.emb, w) / $JlDiv)::FLOAT::DOUBLE
       |         ORDER BY p) AS pv
       |  FROM qv q, jlplanes
       |  GROUP BY q.query_id),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.pv, c.pv) DESC,
       |                 c.vec_id ASC) AS rn
       |    FROM qproj q, proj c)
       |  WHERE rn <= $rerank)
       |${litRescoreTail(k)}""".stripMargin

  /** SQ8 code lists + integer self-dots for the whole corpus — the
    * replay of `Similarity.sq8Coded` (same max-abs scale, same
    * floor(x·127/mx + 0.5) rounding). Codes are integer-valued
    * doubles ≤ 127, so `list_dot_product` sums are exact integers in
    * any accumulation order — no association pinning needed. */
  private def sq8Cte: String =
    s"""sq8 AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> CASE WHEN mx = 0 THEN 0.0
       |      ELSE floor(x * 127.0::DOUBLE / mx + 0.5::DOUBLE) END) AS c
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
       |          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
       |        FROM embeddings)),
       |sq8s AS (SELECT vec_id, c, list_dot_product(c, c) AS ssq FROM sq8)""".stripMargin

  /** The quantized cosine: integer dot over the product of integer
    * self-dot roots (sqrt/multiply/divide are the same IEEE sequence
    * the Spark side computes); a zero vector scores 0. */
  private def sq8Score(q: String, n: String): String =
    s"""CASE WHEN $q.ssq = 0 OR $n.ssq = 0 THEN 0.0
       |         ELSE list_dot_product($q.c, $n.c) / (sqrt($q.ssq) * sqrt($n.ssq)) END""".stripMargin

  /** SQ8 replay (x89's shape) for an arbitrary query predicate over
    * the aliased `q.vec_id`. */
  private[queries] def sq8ReplaySqlFor(queryPred: String, k: Int,
                                       rerank: Int): String =
    s"""WITH $sq8Cte,
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sq8Score("q", "n")} DESC,
       |                 n.vec_id ASC) AS rn
       |    FROM sq8s q JOIN sq8s n ON n.vec_id <> q.vec_id
       |    WHERE $queryPred)
       |  WHERE rn <= $rerank)
       |${rescoreTopK(k)}""".stripMargin

  /** IVF-SQ8 replay: x20's probed-cell candidate chain scored by x89's
    * quantized cosine — the two replays compose, reusing [[pqRankTail]]
    * via the shared `pscored` CTE name. `candFilter` replays an
    * attribute-filtered probe's candidate restriction. */
  private[queries] def sq8IvfReplaySqlFor(queryPred: String, k: Int,
                                          nprobe: Int,
                                          candFilter: Option[String] = None): String =
    s"""WITH ${ivfCandidatesCte(queryPred, nprobe, candFilter)},
       |$sq8Cte,
       |pscored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    ${sq8Score("q", "n")} AS score
       |  FROM cand cd
       |  JOIN sq8s n ON n.vec_id = cd.neighbor_id
       |  JOIN sq8s q ON q.vec_id = cd.query_id)
       |${pqRankTail(k)}""".stripMargin

  /** Literal-vector SQ8 replay: the spoken query quantizes through the
    * same max-abs/floor recipe, ranks the quantized corpus, and the
    * exact cosine against the literal rescores the top-`rerank`. */
  private[queries] def sq8LiteralReplaySql(k: Int, rerank: Int): String =
    s"""WITH $litQvCte,
       |$sq8Cte,
       |qsq AS (
       |  SELECT query_id,
       |    list_transform(emb, x -> CASE WHEN mx = 0 THEN 0.0
       |      ELSE floor(x * 127.0::DOUBLE / mx + 0.5::DOUBLE) END) AS c
       |  FROM (SELECT query_id, emb,
       |          list_max(list_transform(emb, x -> abs(x))) AS mx
       |        FROM qv)),
       |qsqs AS (SELECT query_id, c, list_dot_product(c, c) AS ssq FROM qsq),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${sq8Score("q", "n")} DESC,
       |                 n.vec_id ASC) AS rn
       |    FROM qsqs q, sq8s n)
       |  WHERE rn <= $rerank)
       |${litRescoreTail(k)}""".stripMargin

  /** Literal-vector brute-force replay (x1's shape with the query drawn
    * from the VALUES literal): exact cosine against every corpus
    * vector, no self-exclusion needed (-1 is outside the id space). */
  private[queries] def bruteLiteralReplaySql(k: Int): String =
    s"""WITH $litQvCte
       |SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(q.emb,
       |                                      c.embedding::DOUBLE[]) DESC,
       |               c.vec_id ASC) AS rank,
       |    list_cosine_similarity(q.emb, c.embedding::DOUBLE[]) AS score
       |  FROM qv q CROSS JOIN embeddings c)
       |WHERE rank <= $k""".stripMargin

  /** Literal-vector flat-ADC replay (x83's shape with the literal's
    * lookup tables): every corpus vector scored through the replayed
    * codebooks, ranked by the quantized inner product. */
  private[queries] def pqFlatLiteralReplaySql(k: Int): String =
    s"""WITH $litQvCte,
       |$pqCodesCte,
       |$litQsubPlutsCte,
       |$pqScoredAllCte
       |${pqRankTail(k)}""".stripMargin

  /** Literal-vector ADC + exact re-rank replay (x85's shape): ADC
    * top-`rerank` candidates, then the exact cosine against the literal
    * decides the final top-`k`. */
  private[queries] def pqRefinedLiteralReplaySql(k: Int, rerank: Int): String =
    s"""WITH $litQvCte,
       |$pqCodesCte,
       |$litQsubPlutsCte,
       |$pqScoredAllCte,
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, neighbor_id ASC) AS rn
       |    FROM pscored)
       |  WHERE rn <= $rerank)
       |${litRescoreTail(k)}""".stripMargin

  private lazy val ivfDefaultQueryPred = s"vec_id < $NQueries"

  /** The x20 IVF Lloyd-replay oracle, shared verbatim with x82 (the
    * persisted-index search must equal the per-query build). */
  private lazy val ivfReplaySql: String =
    ivfReplaySqlFor(ivfDefaultQueryPred, IvfNProbe)

  /** IVF replay (probed-cell candidates + exact rescore) for an
    * arbitrary query predicate and probe width — shared with the NL
    * index-search twins. `candFilter` replays an attribute-filtered
    * probe (candidates restricted BEFORE the rank). */
  private[queries] def ivfReplaySqlFor(queryPred: String, nprobe: Int,
                                       k: Int = K,
                                       candFilter: Option[String] = None): String =
    s"""WITH ${ivfCandidatesCte(queryPred, nprobe, candFilter)}
       |${rescoreTopK(k)}""".stripMargin

  /** The filtered-probe candidate restriction: indexed attribute
    * `label = v`, replayed as a semi-join against the embeddings table
    * (the index stored the attribute verbatim from it). */
  private[queries] def labelCandFilter(v: Int): String =
    s"c.vec_id IN (SELECT vec_id FROM embeddings WHERE label = $v)"

  /** Filtered flat exact replay (x96's shape) for an arbitrary query
    * predicate over the aliased `q.vec_id` — shared with the NL twin. */
  private[queries] def bruteFilteredReplaySql(queryPred: String, k: Int,
                                              labelVal: Int): String =
    s"""SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
       |                                      c.embedding::DOUBLE[]) DESC,
       |               c.vec_id ASC) AS rank,
       |    list_cosine_similarity(q.embedding::DOUBLE[],
       |                           c.embedding::DOUBLE[]) AS score
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE $queryPred AND c.vec_id <> q.vec_id
       |    AND c.label = $labelVal)
       |WHERE rank <= $k""".stripMargin

  /** The exact-ranking truth CTE shared by the offline-eval replays:
    * brute cosine top-k for the q-qualified query predicate. */
  private def truthCte(qPred: String, k: Int): String =
    s"""truthr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
       |                                        c.embedding::DOUBLE[]) DESC,
       |                 c.vec_id ASC) AS rank
       |    FROM embeddings q CROSS JOIN embeddings c
       |    WHERE $qPred AND c.vec_id <> q.vec_id)
       |  WHERE rank <= $k)""".stripMargin

  /** recall@k of the IVF probe against exact search: two exact integer
    * counts and one IEEE division — no rounding needed. */
  private[queries] def recallReplaySql(candPred: String, qPred: String,
                                       k: Int, nprobe: Int): String =
    s"""WITH vecr AS (
       |${ivfReplaySqlFor(candPred, nprobe, k)}
       |),
       |${truthCte(qPred, k)},
       |hits AS (
       |  SELECT t.query_id, count(*)::BIGINT AS n_hit
       |  FROM truthr t JOIN vecr r
       |    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id),
       |denom AS (SELECT query_id, count(*)::BIGINT AS n_truth
       |          FROM truthr GROUP BY query_id)
       |SELECT d.query_id,
       |  coalesce(h.n_hit, 0)::DOUBLE / d.n_truth::DOUBLE AS recall
       |FROM denom d LEFT JOIN hits h USING (query_id)""".stripMargin

  /** Binary nDCG@k: 1/log2(rank+1) gains folded IN RANK ORDER on both
    * engines (`list_reduce ∘ list(… ORDER BY rank)` ≡ Spark's
    * `aggregate ∘ array_sort` — the BM25 order-pinning technique), the
    * ideal sum folded over an ascending series, rounded to 1e-6. */
  private[queries] def ndcgReplaySql(candPred: String, qPred: String,
                                     k: Int, nprobe: Int): String =
    s"""WITH vecr AS (
       |${ivfReplaySqlFor(candPred, nprobe, k)}
       |),
       |${truthCte(qPred, k)},
       |rel AS (
       |  SELECT r.query_id, r.rank
       |  FROM vecr r JOIN truthr t
       |    ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id),
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

  /** Index content MINUS erased ids — the erasure oracle: survivors
    * keep their replayed Lloyd cells bit-for-bit (erase is copy-on-
    * write over stored assignments, never a recompute). */
  private[queries] def indexContentReplayExceptSql(keys: Seq[Long]): String =
    s"""WITH $ivfCorpusCte
       |SELECT vec_id, cell FROM cellof
       |WHERE vec_id NOT IN (${keys.mkString(", ")})""".stripMargin

  /** Post-attribute-sweep content: the replayed assignment minus the
    * label slice (the erase-where oracle). */
  private[queries] def indexContentReplayExceptLabelSql(labelVal: Int): String =
    s"""WITH $ivfCorpusCte
       |SELECT vec_id, cell FROM cellof
       |WHERE vec_id NOT IN (
       |  SELECT vec_id FROM embeddings WHERE label = $labelVal)""".stripMargin

  /** IVF-PQ replay (probed-cell candidates + ADC rescore). `candPred`
    * filters bare `vec_id`; `lutPred` filters the aliased `q.vec_id`
    * inside the PQ lookup-table CTE; `candFilter` replays an
    * attribute-filtered probe's candidate restriction. */
  private[queries] def ivfPqReplaySqlFor(candPred: String, lutPred: String,
                                         k: Int, nprobe: Int,
                                         candFilter: Option[String] = None): String =
    s"""WITH ${ivfCandidatesCte(candPred, nprobe, candFilter)},
       |${pqChainCte(lutPred)},
       |pscored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    $pqAdcSum AS score
       |  FROM cand cd
       |  JOIN pcodes n ON n.vec_id = cd.neighbor_id
       |  JOIN pluts l ON l.query_id = cd.query_id
       |    AND l.s = n.s AND l.code = n.code
       |  GROUP BY cd.query_id, cd.neighbor_id)
       |${pqRankTail(k)}""".stripMargin

  /** One PQ Lloyd iteration per subspace — [[lloydIteration]]'s shape
    * over `psub`'s slices, keyed by (subspace, code): assignment is
    * argmin `list_distance` (the sqrt both engines round identically;
    * ties → smaller code, as `PqKernels.encode`), recentering is the
    * same order-independent quantized mean. */
  private def pqLloydIteration(prev: String, out: String): String =
    s"""pasg_$out AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT b.vec_id, b.s, c.code,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY list_distance(b.sv, c.cb) ASC, c.code ASC) AS rn
       |    FROM psub b JOIN $prev c ON c.s = b.s)
       |  WHERE rn = 1),
       |psums_$out AS (
       |  SELECT a.s, a.code, i.d,
       |    sum(floor(b.sv[i.d] * $QuantScale))::BIGINT AS sq,
       |    count(*) AS n
       |  FROM psub b JOIN pasg_$out a ON a.vec_id = b.vec_id AND a.s = b.s,
       |       unnest(range(1, ${PqSubDim + 1})) AS i(d)
       |  GROUP BY a.s, a.code, i.d),
       |$out AS (
       |  SELECT c.s, c.code,
       |    CASE WHEN count(p.d) = 0 THEN c.cb
       |         ELSE list((p.sq::DOUBLE / (p.n::DOUBLE * $QuantScale))::FLOAT::DOUBLE
       |                   ORDER BY p.d)
       |    END AS cb
       |  FROM $prev c LEFT JOIN psums_$out p ON p.s = c.s AND p.code = c.code
       |  GROUP BY c.s, c.code, c.cb)""".stripMargin

  /** Slices, seeds, two Lloyd iterations, and final code assignment
    * (`pcodes` — the replay of `Pq.encode`), without any query-side
    * lookup table: shared by the embeddings-query chain and the
    * literal-vector ADC replay. */
  private def pqCodesCte: String =
    s"""psub AS (
       |  SELECT vec_id, s.s AS s,
       |    (embedding::DOUBLE[])[s.s*$PqSubDim+1 : s.s*$PqSubDim+$PqSubDim] AS sv
       |  FROM embeddings, unnest(range(0, $PqM)) AS s(s)),
       |pq0 AS (
       |  SELECT s, code, sv AS cb FROM (
       |    SELECT s, sv,
       |      row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code
       |    FROM psub)
       |  WHERE code < $PqKsub),
       |${pqLloydIteration("pq0", "pq1")},
       |${pqLloydIteration("pq1", "pq2")},
       |pcodes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT b.vec_id, b.s, c.code,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY list_distance(b.sv, c.cb) ASC, c.code ASC) AS rn
       |    FROM psub b JOIN pq2 c ON c.s = b.s)
       |  WHERE rn = 1)""".stripMargin

  /** [[pqCodesCte]] plus per-query ADC lookup tables (`pluts` — the
    * replay of `pq_lut`) for queries drawn from the embeddings table. */
  private def pqChainCte(queryPred: String): String =
    s"""$pqCodesCte,
       |pluts AS (
       |  SELECT q.vec_id AS query_id, c.s, c.code,
       |    list_dot_product(q.sv, c.cb) AS dp
       |  FROM psub q JOIN pq2 c ON c.s = q.s
       |  WHERE $queryPred)""".stripMargin

  private lazy val pqDefaultQueryPred = s"q.vec_id < $NQueries"

  /** Flat-ADC replay (x83's shape) for an arbitrary query predicate —
    * shared with the NL twins, whose single spoken query id narrows the
    * predicate. */
  private[queries] def pqFlatReplaySql(queryPred: String, k: Int): String =
    s"""WITH ${pqChainCte(queryPred)},
       |$pqScoredAllCte
       |${pqRankTail(k)}""".stripMargin

  /** ADC + exact re-rank replay (x85's shape) for an arbitrary query
    * predicate. */
  private[queries] def pqRefinedReplaySql(queryPred: String, k: Int,
                                          rerank: Int): String =
    s"""WITH ${pqChainCte(queryPred)},
       |$pqScoredAllCte,
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, neighbor_id ASC) AS rn
       |    FROM pscored)
       |  WHERE rn <= $rerank)
       |${rescoreTopK(k)}""".stripMargin

  /** The ADC sum: one pivoted term per subspace, added left-to-right —
    * the exact association `PqKernels.adc` uses. */
  private lazy val pqAdcSum: String =
    (0 until PqM).map(s => s"max(CASE WHEN l.s = $s THEN l.dp END)")
      .mkString("\n      + ")

  /** Every (query, corpus vector) ADC score — the flat x83 scan. */
  private lazy val pqScoredAllCte: String =
    s"""pscored AS (
       |  SELECT l.query_id, n.vec_id AS neighbor_id,
       |    $pqAdcSum AS score
       |  FROM pcodes n JOIN pluts l ON l.s = n.s AND l.code = n.code
       |  WHERE n.vec_id <> l.query_id
       |  GROUP BY l.query_id, n.vec_id)""".stripMargin

  /** Rank `pscored` by the ADC score (ties → neighbor id, as the top-k
    * aggregator) and keep the per-query top `limit`. */
  private def pqRankTail(limit: Int): String =
    s"""SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rank, score
       |  FROM pscored)
       |WHERE rank <= $limit""".stripMargin

  override val oracleSql: Map[String, String] = Map(
    "x1_ann_bruteforce" ->
      s"""SELECT query_id, neighbor_id, rank, round(score, 6) AS score FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
         |                                      c.embedding::DOUBLE[]) DESC,
         |               c.vec_id ASC) AS rank,
         |    list_cosine_similarity(q.embedding::DOUBLE[],
         |                           c.embedding::DOUBLE[]) AS score
         |  FROM embeddings q CROSS JOIN embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
         |WHERE rank <= $K""".stripMargin,

    // Full LSH replay: sign-bit buckets from the baked plane matrix,
    // candidates share any (band, bucket) with a query, exact rescore.
    "x2_ann_lsh" ->
      s"""WITH planes(p, w) AS (VALUES
         |$planeRows),
         |dots AS (
         |  SELECT e.vec_id, p.p,
         |    list_dot_product(e.embedding::DOUBLE[], p.w) AS dot
         |  FROM embeddings e, planes p),
         |bk AS (
         |  SELECT vec_id, p // $BitsPerBand AS band,
         |    sum(CASE WHEN dot > 0 THEN 1::BIGINT << (p % $BitsPerBand)
         |             ELSE 0 END)::BIGINT AS bucket
         |  FROM dots GROUP BY vec_id, p // $BitsPerBand),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
         |${rescoreTopK(K)}""".stripMargin,

    // Full IVF replay: seed centroids = the $IvfCentroids smallest corpus
    // ids, refined by two quantized Lloyd iterations (bit-identical to
    // Similarity.refineCentroids — see lloydIteration); corpus rows sit
    // in their argmax-cosine cell, queries probe their $IvfNProbe best
    // cells (ties by cell index, as nearest_centroids). Shared verbatim
    // by x82: the persisted index at the same parameters must return
    // exactly what the per-query build returns.
    "x20_ann_ivf" -> ivfReplaySql,

    "x82_ivf_index_search" -> ivfReplaySql,

    // Filtered probe: the same Lloyd replay with candidates restricted
    // to the label slice BEFORE the rank — exactly what the pushed
    // predicate does inside the pruned scan.
    "x91_ivf_index_search_filtered" ->
      ivfReplaySqlFor(ivfDefaultQueryPred, IvfNProbe, K,
                      Some(labelCandFilter(FilterLabel))),

    // Filtered compressed probes: the same candidate restriction
    // composed into the ADC and SQ8-IVF replays.
    "x94_ivfpq_search_filtered" ->
      ivfPqReplaySqlFor(ivfDefaultQueryPred, pqDefaultQueryPred,
                        K, IvfNProbe, Some(labelCandFilter(FilterLabel))),

    "x95_ivfsq8_search_filtered" ->
      sq8IvfReplaySqlFor(ivfDefaultQueryPred, K, IvfNProbe,
                         Some(labelCandFilter(FilterLabel))),

    // Filtered flat exact: x1's cross scan with the neighbor slice.
    "x96_ann_filtered" ->
      bruteFilteredReplaySql(s"q.vec_id < $NQueries", K, FilterLabel),

    // Post-erase content: the replayed assignment minus the erased ids.
    "x92_index_erase" -> indexContentReplayExceptSql(EraseKeys),

    // Post-attribute-sweep content: the assignment minus the slice.
    "x97_index_erase_where" -> indexContentReplayExceptLabelSql(EraseLabel),

    // Sync equivalence + no-op are Spark-side constructions (two index
    // builds compared) — the x60 TRUE-literal pattern makes the hash
    // gate prove both booleans.
    "x93_index_sync" ->
      "SELECT TRUE AS synced_probe_equal, TRUE AS resync_noop",

    // Offline eval: both arms' replays composed — the probe's Lloyd
    // replay against the exact cross ranking.
    "x110_index_recall" ->
      recallReplaySql(ivfDefaultQueryPred, s"q.vec_id < $NQueries",
        K, IvfNProbe),
    "x111_index_ndcg" ->
      ndcgReplaySql(ivfDefaultQueryPred, s"q.vec_id < $NQueries",
        K, IvfNProbe),

    // The stored cells are the replayed Lloyd assignment; footer counts
    // are exact, so the metadata-only stats hash-match this full
    // recompute.
    "x86_index_cell_stats" ->
      s"""WITH $ivfCorpusCte
         |SELECT cell, count(*) AS n_rows FROM cellof GROUP BY cell""".stripMargin,

    // JL replay: the 16x64 plane matrix bakes into SQL like x2's; each
    // projected coordinate is one list_dot_product (double, index order
    // — the kernel's association) over the exact widened weights.
    "x87_random_projection" ->
      s"""WITH jlplanes(p, w) AS (VALUES
         |${planeRowsFor(jlPlanes)})
         |SELECT e.vec_id, p AS pos,
         |  round(list_dot_product(e.embedding::DOUBLE[], w) / $JlDiv, 6) AS val
         |FROM embeddings e, jlplanes""".stripMargin,

    // Projected-candidate replay: project both sides (with the
    // double->float rounding the candidate pass applies), rank by
    // projected cosine, keep the per-query top-50, exact rescore tail.
    "x88_ann_projected" ->
      jlReplaySqlFor(s"q.vec_id < $NQueries", K, JlRerank),

    // SQ8 replay: quantize, rank by the integer-exact quantized
    // cosine, exact rescore tail.
    "x89_ann_sq8" -> sq8ReplaySqlFor(s"q.vec_id < $NQueries", K, Sq8Rerank),

    // IVF-SQ8: probed-cell candidates scored by the quantized cosine.
    "x90_ivfsq8_index_search" ->
      sq8IvfReplaySqlFor(ivfDefaultQueryPred, K, IvfNProbe),

    // Full PQ replay: slice seeds → two per-subspace Lloyd iterations →
    // code assignment → per-query ADC tables → quantized inner products,
    // every arithmetic step bit-identical to the Spark kernels.
    "x83_ann_pq" -> pqFlatReplaySql(pqDefaultQueryPred, K),

    // IVF-PQ: x20's probed-cell candidates scored by x83's ADC replay.
    "x84_ivfpq_index_search" ->
      ivfPqReplaySqlFor(ivfDefaultQueryPred, pqDefaultQueryPred,
                        K, IvfNProbe),

    // ADC ranks, the exact cosine rescores the top-50 — the re-rank
    // candidates become `cand` for the shared exact-rescore tail.
    "x85_ann_pq_refined" ->
      pqRefinedReplaySql(pqDefaultQueryPred, K, PqRerank),

    // Same plane replay as x2; candidates are bucket collisions over the
    // self-join, verified with the exact cosine at x7's threshold.
    "x33_embedding_pairs_lsh" ->
      s"""WITH planes(p, w) AS (VALUES
         |$planeRows),
         |dots AS (
         |  SELECT e.vec_id, p.p,
         |    list_dot_product(e.embedding::DOUBLE[], p.w) AS dot
         |  FROM embeddings e, planes p),
         |bk AS (
         |  SELECT vec_id, p // $BitsPerBand AS band,
         |    sum(CASE WHEN dot > 0 THEN 1::BIGINT << (p % $BitsPerBand)
         |             ELSE 0 END)::BIGINT AS bucket
         |  FROM dots GROUP BY vec_id, p // $BitsPerBand),
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket
         |    AND l.vec_id < r.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM (
         |  SELECT id_a, id_b,
         |    list_cosine_similarity(a.embedding::DOUBLE[],
         |                           b.embedding::DOUBLE[]) AS cos
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.id_a
         |  JOIN embeddings b ON b.vec_id = cand.id_b)
         |WHERE cos >= $PairThreshold""".stripMargin,

    // Lloyd replay (as x20) + same-cell pair generation + exact cosine.
    // The LIMIT recomputes the engine's auto cell count max(16, ⌊√n⌋):
    // count, sqrt (correctly-rounded IEEE) and floor are engine-exact.
    "x50_semantic_dedup" ->
      s"""WITH cents0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |    embedding::DOUBLE[] AS emb
         |  FROM embeddings ORDER BY vec_id
         |  LIMIT least(1048576, greatest(16,
         |    floor(sqrt((SELECT count(*) FROM embeddings)))::BIGINT))),
         |${lloydIteration("cents0", "cents1")},
         |${lloydIteration("cents1", "cents2")},
         |cs AS (
         |  SELECT e.vec_id, c.cell,
         |    list_cosine_similarity(e.embedding::DOUBLE[], c.emb) AS sim
         |  FROM embeddings e, cents2 c),
         |ranked AS (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cell ASC) AS rn FROM cs),
         |cellof AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
         |cand AS (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b
         |  FROM cellof l JOIN cellof r
         |    ON l.cell = r.cell AND l.vec_id < r.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM (
         |  SELECT id_a, id_b,
         |    list_cosine_similarity(a.embedding::DOUBLE[],
         |                           b.embedding::DOUBLE[]) AS cos
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.id_a
         |  JOIN embeddings b ON b.vec_id = cand.id_b)
         |WHERE cos >= $PairThreshold""".stripMargin,

    "x60_lsh_calibration" ->
      "SELECT TRUE AS recall_hit, TRUE AS sub_all_pairs",

    "x61_ivf_calibration" ->
      "SELECT TRUE AS recall_hit, TRUE AS sub_full_scan",

    // 127.0 spelled ::DOUBLE — a bare DuckDB decimal literal would pull
    // the arithmetic into DECIMAL and off the IEEE path Spark computes.
    "x37_quantize_int8" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, i.i - 1 AS pos, v[i.i] AS x, mx
         |  FROM v, unnest(range(1, len(v)+1)) AS i(i))
         |SELECT vec_id, pos,
         |  (CASE WHEN mx = 0 THEN 0
         |        ELSE floor(x * 127.0::DOUBLE / mx + 0.5::DOUBLE) END)::BIGINT AS q,
         |  round(CASE WHEN mx = 0 THEN 0.0::DOUBLE
         |             ELSE mx / 127.0::DOUBLE END, 6) AS scale
         |FROM e""".stripMargin)
}
