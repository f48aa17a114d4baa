package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Events, IvfScoring, LexIndex, LexQuery, Multimodal, Retrieval, Sampling, ServeVector, Similarity, SkewJoin, TextAnalysis}

/** Plan IR → DataFrame program.
  *
  * The deterministic replacement for the reference's LLM code-generator +
  * `exec()` pipeline (agentic_workflow_transformation.py:57-101, 105-154):
  * instead of generating pandas *source text* and executing it, each IR node
  * folds into one lazy DataFrame transformation. Catalyst performs all
  * optimization on the resulting logical plan (predicate pushdown, column
  * pruning, `TakeOrderedAndProject` for Sort+Limit, two-phase hash
  * aggregation) — no hand-scheduling, per SURVEY.md §4.2.
  */
object Compiler {

  def compile(plan: Plan, input: DataFrame): DataFrame =
    compile(plan, input, Map.empty)

  /** Compile against a table catalog: two-table ops ([[Op.Decontaminate]],
    * [[Op.AsOfJoin]], [[Op.SaltedJoin]]) resolve their named right side
    * here. The reference holds exactly one `sample_data` frame
    * (agentic_workflow_transformation.py:17); the catalog is what lets a
    * description reach a second one. */
  def compile(plan: Plan, input: DataFrame,
              catalog: Map[String, DataFrame]): DataFrame =
    compile(plan, input, catalog, None)

  /** As above, additionally binding the MANIFESTED TABLE PATH the input
    * was resolved from (the CLI binds it when the input is a manifest
    * directory): [[Op.TableOp]] maintenance / time-travel verbs act on
    * the table itself, so they need the path, not just the frame. They
    * must lead the plan — they (re)define the source the remaining ops
    * read. */
  def compile(plan: Plan, input: DataFrame,
              catalog: Map[String, DataFrame],
              tablePath: Option[String]): DataFrame =
    compile(plan, input, catalog, tablePath, None)

  /** As above, additionally binding a PERSISTED VECTOR INDEX path for
    * the two-store verbs ([[Op.LexServe]], [[Op.HybridEval]] — the
    * lexical index binds as the table path, the IVF index here). */
  def compile(plan: Plan, input: DataFrame,
              catalog: Map[String, DataFrame],
              tablePath: Option[String],
              vectorIndexPath: Option[String]): DataFrame = {
    plan.ops.zipWithIndex.drop(1).foreach {
      case (t: Op.TableOp, i) => throw InvalidPlanException(
        s"table op $t must lead the plan, found at position ${i + 1}")
      case _ => ()
    }
    plan.ops.foldLeft(input) {
      case (df, t: Op.TableOp) => applyTableOp(df, t, tablePath, vectorIndexPath)
      case (df, op)            => applyOp(df, op, catalog)
    }
  }

  /** Maintenance / time-travel against the bound table path. Every verb
    * returns the post-op TABLE CONTENT (normalized like any events
    * read), so downstream clauses compose and a content oracle certifies
    * the op changed layout/history, never data. */
  private def applyTableOp(df: DataFrame, op: Op.TableOp,
                           tablePath: Option[String],
                           vectorIndexPath: Option[String] = None): DataFrame = {
    import graft.operators.ManifestedLog
    val spark = df.sparkSession
    val path = tablePath.getOrElse(throw InvalidPlanException(
      s"$op needs a manifested table or persisted index input (a " +
        "directory with manifest-*.txt / index-manifest-*.txt / " +
        "lex-manifest-*.txt) — plain frames have no versions to act on"))
    // the IVF index of a two-store verb, bound beside the lexical one
    def vectorIndex: String = vectorIndexPath.getOrElse(throw InvalidPlanException(
      s"$op needs a bound vector index (vectorIndexPath) beside the " +
        "lexical one — it serves from both stores"))
    op match {
      case Op.LoadAtVersion(v) => ManifestedLog.loadAt(spark, path, v)
      case Op.CompactClosedDays(wmUs) =>
        ManifestedLog.compactClosedDays(spark, path, wmUs)
        ManifestedLog.load(spark, path)
      case Op.VacuumKeep(k) =>
        ManifestedLog.vacuum(spark, path, keepVersions = k)
        ManifestedLog.load(spark, path)
      case Op.SnapshotMaintain =>
        val snap = snapshotPathOf(path)
        graft.operators.SnapshotTable.update(spark, path, snap)
        graft.operators.SnapshotTable.readView(spark, snap)
      case Op.SnapshotLookup(keys) =>
        val snap = snapshotPathOf(path)
        graft.operators.SnapshotTable.update(spark, path, snap)
        graft.operators.SnapshotTable.readViewByKey(spark, snap, keys)
      case Op.KeyLookup(kc, keys, from, to) =>
        ManifestedLog.loadByKeyRange(spark, path, kc, keys,
          from.getOrElse(Long.MinValue), to.getOrElse(Long.MaxValue))
      case Op.DeleteByKey(kc, keys) =>
        ManifestedLog.deleteByKey(spark, path, kc, keys)
        ManifestedLog.load(spark, path)
      case Op.IndexSearch(qid, k, nprobe, scoring, where) =>
        import graft.operators.IvfIndex
        // The spoken id's STORED vector probes the index. ONE manifest
        // read resolves (quantizer, segments) for BOTH the query-vector
        // fetch and the probe — internally consistent under concurrent
        // rebuild, and one round-trip instead of three. The fetch is
        // the projected, predicate-pushed single-row read (bounded
        // driver collect — same class as the centroid fetch); the probe
        // takes a one-row literal frame, because the probe's broadcast
        // query side must never carry an index scan (at scale, a
        // full-table read per spoken probe).
        val m = IvfIndex.readManifest(spark, path)
        val vec = IvfIndex.lookupVectorWith(spark, path, m, qid)
        indexProbe(spark, path, m, qid, vec, k, nprobe, scoring,
                   where.map(predicate(df, _)))
      case Op.IndexSearchVec(vec, k, nprobe, scoring, where) =>
        // an UNSEEN literal query vector — nothing to fetch; the id -1
        // is outside the stored id space, so no candidate is excluded
        val m = graft.operators.IvfIndex.readManifest(spark, path)
        indexProbe(spark, path, m, -1L, vec.toArray, k, nprobe, scoring,
                   where.map(predicate(df, _)))
      case Op.IndexCellProfile =>
        graft.operators.IvfIndex.cellStats(spark, path)
          .select(col("cell"), col("n_rows"))
      case Op.IndexEval(ndcg, k, qMax, nprobe) =>
        import graft.operators.{IvfIndex, Retrieval, Similarity}
        // offline-eval job: ONE manifest read serves the query fetch,
        // the probe, and the exact arm's corpus; the query side is the
        // pruned (vec_id < qMax pushes to the scan) bounded slice —
        // eval-sized by construction, and the exact arm scans the
        // corpus anyway (that is what's being compared against)
        val m = IvfIndex.readManifest(spark, path)
        val corpus = IvfIndex.readWith(spark, path, m)
          .select(col("vec_id"), col("embedding"))
        val queries = corpus.filter(col("vec_id") < qMax)
        val probe = IvfIndex.searchWith(spark, path, m, queries, k, nprobe,
          IvfScoring.Exact, None)
        val exact = Similarity.bruteForceTopK(queries, corpus, k)
        if (ndcg) Retrieval.ndcgAtK(probe, exact, k)
        else Retrieval.recallAtK(probe, exact, k)
      // the spoken tokens are the query (query_id -1, as LexTopK): the
      // probe reads only those terms' bucket partitions, positional
      // matches run from the stored position lists, fielded scorings
      // apply the spoken weights at probe time, and a spoken attribute
      // filter pushes into that pruned scan — zero corpus scans
      case Op.LexProbe(tokens, k, q, where) =>
        LexIndex.search(spark, path, spokenQuery(spark, tokens, q), k, q,
          where.map(predicate(df, _)))
      case Op.LexServe(terms, k, q, depth, arm, mmr, where) =>
        // the lexical index is the bound table, the vector index binds
        // separately — one spoken sentence, pruned probes of both
        // stores, zero corpus scans. A by-id arm's spoken id is the
        // query id (it names the stored embedding); a literal arm's
        // vector rides the query row at query_id -1, outside the stored
        // id space
        if (arm.isEmpty && mmr.isEmpty) throw InvalidPlanException(
          s"$op has neither a vector arm nor an MMR lambda — that is a LexProbe")
        val queries = arm match {
          case Some(ServeArm.Literal(vec, _)) =>
            spark.createDataFrame(Seq((-1L, terms, vec)))
              .toDF("query_id", q.column, "embedding")
          case Some(ServeArm.ById(qid, _)) => spokenQuery(spark, terms, q, qid)
          case None                         => spokenQuery(spark, terms, q)
        }
        Retrieval.serve(spark, path, vectorIndex, queries, k, depth, q,
          arm.map {
            case ServeArm.ById(_, np)    => ServeVector.Stored(np)
            case ServeArm.Literal(_, np) => ServeVector.Literal(np)
          }, mmr, pred = where.map(predicate(df, _)))
      case Op.HybridEval(ndcg, k, qid, terms, depth, nprobe) =>
        // the fused at-rest probe vs the exact-hybrid reference: the
        // lexical arm is shared (the index probe IS score-identical to
        // the flat scan), the reference's vector arm is exact cosine
        // over the IVF index's stored vectors with the same
        // self-exclusion — the metric isolates the IVF approximation
        val ivfPath = vectorIndex
        val queries = spark.createDataFrame(Seq((qid, terms)))
          .toDF("query_id", "terms")
        val probe = Retrieval.serve(spark, path, ivfPath, queries, k, depth,
          vector = Some(ServeVector.Stored(nprobe)))
        val lex = graft.operators.LexIndex.search(spark, path, queries, depth)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val corpus = graft.operators.IvfIndex.read(spark, ivfPath)
          .select(col("vec_id"), col("embedding"))
        val vec = Similarity.bruteForceTopK(
            corpus.filter(col("vec_id") === qid), corpus, depth)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank"))
        val truth = Retrieval.rrfFuse(lex, vec, k)
        if (ndcg) Retrieval.ndcgAtK(probe, truth, k, idCol = "doc_id")
        else Retrieval.recallAtK(probe, truth, k, idCol = "doc_id")
      case Op.LexBucketProfile =>
        // metadata-only: manifest constants + footer row totals (the
        // per-BUCKET breakdown is operator-level diagnostics — bucket
        // ids are a hash, not SQL-replayable; the spoken summary is)
        val m = graft.operators.LexIndex.readManifest(spark, path)
        graft.operators.LexIndex.bucketStats(spark, path)
          .agg(coalesce(sum("n_rows"), lit(0L)).as("n_postings"))
          .select(lit(m.buckets).cast("long").as("buckets"),
            col("n_postings"), lit(m.nDocs).as("n_docs"))
      case Op.IndexMaintain(store, verb) =>
        // run the verb through the store's segment lifecycle, then read
        // the content back for the content oracles
        val ix: graft.operators.SegmentedIndex[_] = store match {
          case IndexStore.Lexical => LexIndex
          case IndexStore.Vector  => graft.operators.IvfIndex
        }
        verb match {
          case IndexVerb.Erase(keys)    => ix.deleteByKey(spark, path, keys)
          case IndexVerb.EraseWhere(w)  => ix.deleteWhere(spark, path, predicate(df, w))
          case IndexVerb.Compact        => ix.compact(spark, path)
          case IndexVerb.VacuumKeep(k)  => ix.vacuum(spark, path, keepVersions = k)
        }
        store match {
          case IndexStore.Lexical => lexContent(spark, path)
          case IndexStore.Vector  => graft.operators.IvfIndex.read(spark, path)
        }
    }
  }

  /** A spoken lexical query as a one-row frame in `q`'s column
    * contract, query_id `qid` — by default -1, outside the stored doc
    * id space. */
  private def spokenQuery(spark: org.apache.spark.sql.SparkSession,
                          tokens: Seq[String], q: LexQuery,
                          qid: Long = -1L): DataFrame =
    spark.createDataFrame(Seq((qid, tokens))).toDF("query_id", q.column)

  /** The inverted index's logical content — what the lexical
    * maintenance verbs read back for their content-invariance oracles:
    * the postings sans layout columns (tb is a physical placement;
    * attributes replicate the documents table). */
  private def lexContent(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    graft.operators.LexIndex.readPostings(spark, path)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  /** One query vector, as a LITERAL one-row frame, against the bound
    * index — shared by the stored-id and literal-vector probe routes.
    * The local relation broadcasts as a handful of floats; all index
    * bytes the probe touches flow through the partition-pruned
    * candidate side. */
  private def indexProbe(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         m: graft.operators.IvfIndex.IndexManifest,
                         qid: Long, vec: Array[Float],
                         k: Int, nprobe: Int, scoring: IvfScoring,
                         pred: Option[Column]): DataFrame = {
    import spark.implicits._
    val queries = Seq((qid, vec)).toDF("vec_id", "embedding")
    graft.operators.IvfIndex.searchWith(spark, path, m, queries, k, nprobe,
        scoring, pred)
      .withColumn("score", round(col("score"), 6))
  }

  /** The table's colocated snapshot sidecar table: an underscore name
    * under the table root, invisible to the manifest/day namespace and
    * never touched by the log's vacuum (same convention as `_pins/`). */
  private def snapshotPathOf(tablePath: String): String =
    new org.apache.hadoop.fs.Path(tablePath, "_snapshot").toString

  private def resolveTable(name: String,
                           catalog: Map[String, DataFrame]): DataFrame =
    catalog.getOrElse(name, throw InvalidPlanException(
      s"unknown table '$name' — bound tables: " +
        (if (catalog.isEmpty) "(none)" else catalog.keys.toSeq.sorted.mkString(", "))))

  /** Resolve a column name against the frame, tolerating the reference's
    * loose plural phrasing ("count names" over a `name` column —
    * agentic_workflow_transformation.py:345 vs input.csv header).
    * Package-visible so [[graft.Validator]] checks projections against
    * the EXACT resolution the compiler applied — one implementation,
    * zero drift, instead of a second guessed heuristic. */
  private[graft] def resolve(df: DataFrame, name: String): String = {
    val cols = df.columns
    if (cols.contains(name)) name
    else if (name.endsWith("s") && cols.contains(name.dropRight(1))) name.dropRight(1)
    else name // leave as-is; Spark's analyzer raises the error with context
  }

  def applyOp(df: DataFrame, op: Op): DataFrame = applyOp(df, op, Map.empty)

  def applyOp(df: DataFrame, op: Op,
              catalog: Map[String, DataFrame]): DataFrame = op match {
    case Op.Filter(p)          => df.filter(predicate(df, p))
    case Op.Select(cs)         => df.select(cs.map(c => col(resolve(df, c))): _*)
    case Op.DeriveBool(n, p)   => df.withColumn(n, predicate(df, p))
    case Op.Rename(from, to)   => df.withColumnRenamed(from, to)
    case Op.Drop(cs)           => df.drop(cs.map(resolve(df, _)): _*)
    case Op.Sort(keys)         =>
      df.orderBy(keys.map { case (c, asc) =>
        val k = col(resolve(df, c)); if (asc) k.asc else k.desc
      }: _*)
    case Op.Limit(k)           => df.limit(k)
    case Op.GroupAgg(keys, as) =>
      val aggCols = as.map(a => aggColumn(df, a))
      df.groupBy(keys.map(c => col(resolve(df, c))): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    case Op.Having(p)          => df.filter(predicate(df, p))
    case Op.DeriveDatePart(part, c, alias) =>
      val src = col(resolve(df, c))
      val e = part match {
        case "year"     => year(src).cast("long")
        case "month"    => month(src).cast("long")
        case "day"      => dayofmonth(src).cast("long")
        // TIMESTAMP_NTZ under the UTC session: the cast is the identity
        // mapping DuckDB's epoch_ms applies to the same naive value (q14)
        case "epoch_ms" => unix_millis(src.cast("timestamp"))
        case other => throw InvalidPlanException(
          s"unknown date part '$other' (year/month/day/epoch_ms)")
      }
      df.withColumn(alias, e)
    case Op.WindowAgg(v, pc, ords, alias, roundTo, rangeBack) =>
      val w0 = org.apache.spark.sql.expressions.Window
        .partitionBy(col(resolve(df, pc)))
      val w = rangeBack match {
        case Some(ms) =>
          // trailing value-range frame on the single numeric order column
          w0.orderBy(col(resolve(df, ords.head))).rangeBetween(-ms, 0L)
        case None =>
          w0.orderBy(ords.map(o => col(resolve(df, o))): _*)
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                         org.apache.spark.sql.expressions.Window.currentRow)
      }
      val agg = sum(col(resolve(df, v))).over(w)
      df.withColumn(alias, roundTo.fold(agg)(s => round(agg, s)))
    case r: Op.RelationalExtOp => applyRelationalExt(df, r, catalog)
    case c: Op.CorpusOp        => applyCorpusOp(df, c, catalog)
    case t: Op.TableOp         => throw InvalidPlanException(
      s"$t acts on a manifested table, not a frame — compile the plan " +
        "with a bound tablePath")
  }

  /** Relational analytics extensions (the q-family shapes). All stay
    * declarative so Catalyst plans them the way the driver queries are
    * planned: grouping sets are one Expand+partial/final aggregate, the
    * pivot is a single groupBy (explicit value list — no distinct scan),
    * window ops shuffle once on their partition key, and the generic
    * equi-join broadcasts the named (dimension) side. */
  private def applyRelationalExt(df: DataFrame, op: Op.RelationalExtOp,
                                 catalog: Map[String, DataFrame]): DataFrame = op match {
    case Op.RollupAgg(keys, as) =>
      val aggCols = as.map(a => aggColumn(df, a))
      df.rollup(keys.map(c => col(resolve(df, c))): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    case Op.CubeAgg(keys, as) =>
      val aggCols = as.map(a => aggColumn(df, a))
      df.cube(keys.map(c => col(resolve(df, c))): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    case Op.PivotCount(g, pc, values) =>
      // fill only the pivoted count columns: a whole-frame fill would also
      // rewrite a null group KEY to 0, colliding with a genuine 0 group
      df.groupBy(col(resolve(df, g)))
        .pivot(resolve(df, pc), values)
        .agg(count(lit(1)))
        .na.fill(0L, values.map(_.toString))
    case Op.UnpivotCols(valueCols, varCol, valueName) =>
      val ids = df.columns.filterNot(valueCols.contains)
      df.unpivot(ids.map(col), valueCols.map(col).toArray, varCol, valueName)
    case Op.WindowTopN(oc, desc, pc, tie, k, alias) =>
      val ord = if (desc) col(resolve(df, oc)).desc else col(resolve(df, oc)).asc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(resolve(df, pc)))
        .orderBy(ord, col(resolve(df, tie)).asc)
      df.withColumn(alias, row_number().over(w).cast("long"))
        .filter(col(alias) <= k)
    case Op.NtileBucket(n, oc, pc, tie, alias) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(resolve(df, pc)))
        .orderBy(col(resolve(df, oc)).asc, col(resolve(df, tie)).asc)
      df.withColumn(alias, ntile(n).over(w).cast("long"))
    case Op.UnionTable(t)  => df.unionByName(resolveTable(t, catalog))
    case Op.ExceptTable(t) => df.except(resolveTable(t, catalog))
    case Op.JoinTable(t, lk, rk, bc) =>
      // rename the right key before joining (the semi/anti-join pattern):
      // same-named keys would make the condition ambiguous at analysis
      // time, and a surviving duplicate-named column breaks later resolve()
      val right = resolveTable(t, catalog).withColumnRenamed(rk, "__right_key")
      df.join(if (bc) broadcast(right) else right,
              col(lk) === col("__right_key"))
        .drop("__right_key")
    case Op.SemiJoinTable(t, lk, rk) =>
      // rename the right key so same-named keys never go ambiguous
      // (left_semi/left_anti keep left columns only)
      df.join(resolveTable(t, catalog).select(col(rk).as("__right_key")),
              col(lk) === col("__right_key"), "left_semi")
    case Op.AntiJoinTable(t, lk, rk) =>
      df.join(resolveTable(t, catalog).select(col(rk).as("__right_key")),
              col(lk) === col("__right_key"), "left_anti")
    case Op.WriteBucketed(tbl, key, buckets) =>
      graft.sources.Bucketing.writeBucketed(df, tbl, resolve(df, key), buckets)
      df.sparkSession.table(tbl)
    case Op.CertifyApproxStats(dc, alias, vc, gc) =>
      // the q12 construct: exact columns plus within-5% booleans over the
      // approximations — the error-bound gate an approximate answer can
      // actually carry through a value-exact oracle compare
      val (dcr, vcr) = (resolve(df, dc), resolve(df, vc))
      df.groupBy(col(resolve(df, gc)))
        .agg(approx_count_distinct(col(dcr)).as("__approx"),
             countDistinct(col(dcr)).as(s"n_$alias"),
             percentile_approx(col(vcr), lit(0.5), lit(1000)).as("__ap50"),
             percentile_approx(col(vcr), lit(0.95), lit(1000)).as("__ap95"),
             expr(s"percentile($vcr, 0.5)").as("__ep50"),
             expr(s"percentile($vcr, 0.95)").as("__ep95"),
             count(lit(1)).as("n"))
        .select(col(resolve(df, gc)), col("n"), col(s"n_$alias"),
          (abs(col("__approx") - col(s"n_$alias"))
            <= col(s"n_$alias") * 0.05).as(s"${alias}_within_5pct"),
          (abs(col("__ap50") - col("__ep50"))
            <= abs(col("__ep50")) * 0.05).as("p50_within_5pct"),
          (abs(col("__ap95") - col("__ep95"))
            <= abs(col("__ep95")) * 0.05).as("p95_within_5pct"))
  }

  /** Corpus operators reached from natural language. Column conventions
    * follow the documents/embeddings schemas (TESTDATA.md): text in `text`,
    * id in `doc_id` / `vec_id`. Double-valued outputs are rounded exactly
    * as the driver query packs round them (jaccard→4, cosine→6) so an NL
    * invocation is bit-comparable to the same operator's DuckDB oracle. */
  private def applyCorpusOp(df: DataFrame, op: Op.CorpusOp,
                            catalog: Map[String, DataFrame]): DataFrame = op match {
    case Op.DedupExact => Dedup.exactByText(df)
    case Op.DedupJaccard(n, t, block) =>
      Dedup.ngramJaccardPairs(df, block.getOrElse("source"), t, n)
        .withColumn("jaccard", round(col("jaccard"), 4))
    case Op.DedupMinHash(t) =>
      Dedup.minHashPairs(df, t)
        .withColumn("jaccard", round(col("jaccard"), 4))
    case Op.DedupSimHash(h) => Dedup.simHashPairs(df, maxHamming = h)
    case Op.DedupCluster(n, t, block) =>
      Dedup.clusterPairs(
        Dedup.ngramJaccardPairs(df, block.getOrElse("source"), t, n)
          .select(col("id_a"), col("id_b")))
    case Op.Tokenize       => TextAnalysis.tokenStats(df)
    case Op.ScoreQuality   => TextAnalysis.qualityScore(df)
    case Op.DetectLanguage => TextAnalysis.langId(df)
    case Op.Fingerprint    => TextAnalysis.fingerprints(df)
    case Op.ScrubPii =>
      df.select(
        col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("scrubbed"),
        (TextAnalysis.scrubPii(col("text")) =!= col("text")).as("was_scrubbed"))
    case Op.SimilarTopK(qid, k, scoring, where) =>
      // the query row is fetched from the UNFILTERED corpus — the
      // neighbor filter must not make the spoken query id unfindable
      similarServe(df, df.filter(col("vec_id") === qid), k, scoring,
                   where.map(predicate(df, _)))
    case Op.SimilarTopKVec(vec, k, scoring, where) =>
      // the literal becomes a one-row broadcast frame (query_id -1, so
      // no candidate is self-excluded) — same kernels as SimilarTopK
      val session = df.sparkSession
      import session.implicits._
      val queries = Seq((-1L, vec.toArray)).toDF("vec_id", "embedding")
      similarServe(df, queries, k, scoring, where.map(predicate(df, _)))
    // the spoken tokens ARE the query — one-row broadcast frame,
    // query_id -1 (outside the stored doc id space); a spoken attribute
    // filter pre-filters candidates (full-corpus stats); fielded
    // scorings read the input frame's named field columns
    case Op.LexTopK(tokens, k, q, where) =>
      Retrieval.bm25TopK(df, spokenQuery(df.sparkSession, tokens, q), k, q,
        where.map(predicate(df, _)))
    case Op.MmrTopK(terms, k, lambda, depth) =>
      // BM25 candidates over the input documents; diversification
      // vectors from the catalog-bound embeddings (doc_id ≡ vec_id)
      val session = df.sparkSession
      val queries = session.createDataFrame(Seq((-1L, terms)))
        .toDF("query_id", "terms")
      Retrieval.mmrTopK(Retrieval.bm25TopK(df, queries, depth),
        resolveTable("embeddings", catalog), k, lambda)
    case Op.HybridTopK(terms, k, vecId, depth) =>
      // lexical arm over the input documents; vector arm over the
      // catalog-bound embeddings table, query vector = the spoken id's
      // stored embedding (doc_id ≡ vec_id alignment)
      val session = df.sparkSession
      val queries = session.createDataFrame(Seq((vecId, terms)))
        .toDF("query_id", "terms")
      Retrieval.hybridTopK(df, resolveTable("embeddings", catalog),
                           queries, k, depth)
    case Op.SampleHash(f, seed, idCol) =>
      Sampling.hashSample(df, f, seed, idCol.getOrElse("doc_id"))
    case Op.SampleStratified(c, fracs, seed) =>
      // parser rejects duplicate strata; guard programmatic construction
      // too — Map conversion would silently last-wins otherwise
      if (fracs.map(_._1).distinct.size != fracs.size)
        throw InvalidPlanException(
          s"duplicate strata in stratified sample: ${fracs.map(_._1).mkString(", ")}")
      Sampling.stratifiedHash(df, c, fracs.toMap, seed)
    case Op.Sessionize(gapMinutes)  => Events.sessionize(df, gapMinutes)
    case Op.TumblingCount(n, unit)  => Events.tumblingCounts(df, s"$n $unit")
    case Op.SlidingCount(wn, wu, sn, su) =>
      Events.slidingCounts(df, s"$wn $wu", s"$sn $su")
    case Op.DecodeMedia  => Multimodal.decodeImageMeta(Multimodal.imageMedia(df))
    case Op.SampleFrames => Multimodal.sampleFrames(Multimodal.fromDocuments(df))
    case Op.ResizeMedia(maxDim) =>
      // accepts decoded metadata, or raw documents which are decoded first
      val decoded =
        if (df.columns.contains("width")) df
        else Multimodal.decodeImageMeta(Multimodal.imageMedia(df))
      Multimodal.resizeMeta(decoded, maxDim)
    case Op.CorpusStats(gc) => TextAnalysis.corpusStats(df, gc)
    case Op.RepeatedSpans(n, minDocs) => Dedup.repeatedSpans(df, n, minDocs)
    case Op.TopTokens(k, gc) => TextAnalysis.topTokens(df, k, gc)
    case Op.TopTokensSketch(k, gc, cap) =>
      TextAnalysis.topTokensSketch(df, k, cap, gc)
    case Op.DedupEmbedding(t, block) =>
      Dedup.embeddingPairs(df, t, block.map(b => col(resolve(df, b))))
        .withColumn("cosine", round(col("cosine"), 6))
    case Op.DedupEmbeddingLsh(t) =>
      // pinned 8×6×64 operating point: the NL surface replays against the
      // same baked-plane oracle as x33; the operator's parameterless
      // default calibrates instead
      Dedup.embeddingPairsLsh(df, t, bands = 8, bitsPerBand = 6, dim = 64)
        .withColumn("cosine", round(col("cosine"), 6))
    case Op.DedupSimHashWide(h) => Dedup.simHash128Pairs(df, maxHamming = h)
    case Op.DedupLevenshtein(d, block) =>
      Dedup.levenshteinPairs(df, d, block.getOrElse("source"))
    case Op.DedupSemantic(t, k) =>
      Dedup.semanticDedupPairs(df, t, k).withColumn("cosine", round(col("cosine"), 6))
    case Op.LatestPerKey(key, ts, id) =>
      for (c <- Seq(key, ts, id) if !df.columns.contains(c))
        throw InvalidPlanException(
          s"latest-per-key needs column '$c' (have: ${df.columns.mkString(", ")}); " +
          "name the timestamp with 'by <col>' and the tie-break with 'tie by <col>'")
      graft.operators.Events.latestSnapshot(df, key, ts, id,
        df.columns.filterNot(_ == key).toSeq)
    case Op.TruncateTokens(n) =>
      for (c <- Seq("doc_id", "text") if !df.columns.contains(c))
        throw InvalidPlanException(
          s"truncate needs a documents table with column '$c' " +
          s"(have: ${df.columns.mkString(", ")})")
      TextAnalysis.truncateTokens(df, n)
    case Op.DecodeAudio =>
      for (c <- Seq("media_id", "kind", "payload", "meta") if !df.columns.contains(c))
        throw InvalidPlanException(
          s"audio decode needs a media table with column '$c' " +
          s"(have: ${df.columns.mkString(", ")}); load a wav media table first")
      graft.operators.Multimodal.decodeAudioMeta(
        df.as(org.apache.spark.sql.Encoders.product[
          graft.operators.Multimodal.MediaRecord]))
    case Op.DemuxFrames =>
      for (c <- Seq("media_id", "kind", "payload", "meta") if !df.columns.contains(c))
        throw InvalidPlanException(
          s"demux needs a media table with column '$c' " +
          s"(have: ${df.columns.mkString(", ")}); load an mp4 media table first")
      graft.operators.Multimodal.demuxFrameMeta(
        df.as(org.apache.spark.sql.Encoders.product[
          graft.operators.Multimodal.MediaRecord]))
    case Op.DayProfile =>
      if (!df.columns.contains("ts"))
        throw InvalidPlanException(
          s"day profile needs a 'ts' column (have: ${df.columns.mkString(", ")}); " +
          "load an events table first")
      val tsUs =
        if (df.columns.contains("ts_us")) col("ts_us") else unix_micros(col("ts"))
      df.groupBy(graft.operators.Events.utcDt(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n_rows"),
             min(tsUs).as("min_ts_us"), max(tsUs).as("max_ts_us"))
    case Op.EventTimeRange(fromUs, toUs) =>
      if (!df.columns.contains("ts"))
        throw InvalidPlanException(
          s"event time range needs a 'ts' column (have: ${df.columns.mkString(", ")}); " +
          "load an events table first")
      try graft.operators.Events.timeRange(df, fromUs, toUs)
      catch { case e: RuntimeException => throw InvalidPlanException(e.getMessage) }
    case Op.CdcApply(key, ts, id, op, tombstone) =>
      for (c <- Seq(key, ts, id, op) if !df.columns.contains(c))
        throw InvalidPlanException(
          s"changelog apply needs column '$c' (have: ${df.columns.mkString(", ")}); " +
          "name the timestamp with 'by <col>', the tie-break with 'tie by <col>', " +
          "and the op column with 'op <col>'")
      graft.operators.Cdc.applyChangelog(df, key, ts, id, op, tombstone,
        df.columns.filterNot(_ == key).toSeq)
    case Op.PackSequences(budget, buckets) =>
      graft.operators.Packing.packSequences(df, budget, buckets).toDF()
    case Op.ChunkDocuments(window, overlap) =>
      graft.operators.Packing.chunkDocuments(df, window, overlap)
    case Op.TfIdfKeywords(k) => TextAnalysis.tfIdf(df, k)
    case Op.AssignSplits(splits, seed) =>
      // parser rejects these; guard programmatic IR construction with the
      // typed plan error rather than the operator's IllegalArgumentException
      if (splits.map(_._1).distinct.size != splits.size)
        throw InvalidPlanException(
          s"duplicate split labels: ${splits.map(_._1).mkString(", ")}")
      if (splits.exists(_._2 <= 0) || splits.map(_._2).sum != 100)
        throw InvalidPlanException(
          s"split percents must be positive and sum to 100: ${splits.mkString(", ")}")
      Sampling.assignSplits(df, splits.map { case (l, pct) => (l, pct / 100.0) }, seed)
    case Op.Upsample(times, seed) => Sampling.upsample(df, times, seed)
    case Op.BudgetSelect(budget) => Sampling.budgetSelect(df, budget)
    case Op.SampleExactK(k, seed) => Sampling.sampleExactK(df, k, seed)
    case Op.SampleTemperature(sc, seed) => Sampling.temperatureSample(df, sc, seed)
    case Op.DistinctSketch(key, group) => {
      import graft.operators.Cardinality
      val sk = Cardinality.sketchBy(df, group, key)
      df.groupBy(col(group))
        .agg(count_distinct(col(key)).as("n_distinct"))
        .join(sk, group)
        .select(col(group), col("n_distinct"),
          (abs(Cardinality.estimate(col("sketch")) - col("n_distinct"))
            <= col("n_distinct") * 0.05).as("sketch_within_5pct"))
    }
    case Op.Histogram(v, g, lo, hi, bins) =>
      graft.operators.Profiling.histogram(df, v, g, lo, hi, bins)
    case Op.ClipPercentile(v, p) =>
      graft.operators.Profiling.clipAbovePercentile(df, v, p)
    case Op.ZScore(v, g) => graft.operators.Profiling.zscore(df, v, g)
    case Op.Funnel(from, to) => graft.operators.Events.funnel(df, from, to)
    case Op.CohortRetention  => graft.operators.Events.cohortRetention(df)
    case Op.ZOrderKey(a, b) =>
      df.withColumn("zvalue",
        graft.functions.ZOrderFunctions.zvalue(col(a), col(b)))
    case Op.ScoreUnigramLogProb => TextAnalysis.unigramLogProb(df)
    case Op.GopherRules => TextAnalysis.gopherRules(df)
    case Op.QuantizeEmbeddings => Similarity.quantizeInt8(df)
    case Op.ProjectEmbeddings(outDim) =>
      val dim = embeddingDim(df)
      Similarity.randomProject(df, dim, outDim)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("val"), 6).as("val"))
    case Op.SampleCapPerGroup(k, gc, seed) => Sampling.capPerGroup(df, gc, k, seed)
    case Op.ShuffleShards(n, seed) => Sampling.shuffleAssign(df, n, seed)
    case Op.Decontaminate(n, t) =>
      Dedup.decontaminate(df, resolveTable(t, catalog), n)
    case Op.ContaminationScore(n, t) =>
      Dedup.contaminationScore(df, resolveTable(t, catalog), n)
    case Op.DedupAgainst(t) =>
      Dedup.dedupAgainst(df, resolveTable(t, catalog))
    case Op.DedupNearAgainst(t, threshold) =>
      Dedup.minHashLshAgainst(df, resolveTable(t, catalog), threshold)
    case Op.BloomSemiJoin(t, lk, rk) =>
      graft.operators.BloomJoin.bloomSemiJoin(df, resolveTable(t, catalog), lk, rk)
    case Op.AsOfJoin(t, k, ts, out) =>
      Events.asOfJoin(df, resolveTable(t, catalog), k, ts, ts, out)
    case Op.SaltedJoin(t, lk, rk, b) =>
      SkewJoin.saltedInnerJoin(df, resolveTable(t, catalog), lk, rk, b)
    case Op.CalibrateLsh(target) => {
      val spark = df.sparkSession
      import spark.implicits._
      val cal = Similarity.calibrateLsh(df, target)
      Seq((cal.recall >= target, cal.candidateFraction < 1.0))
        .toDF("recall_hit", "sub_all_pairs")
    }
    case Op.CalibrateIvf(target) => {
      val spark = df.sparkSession
      import spark.implicits._
      val cal = Similarity.calibrateIvf(df, target)
      Seq((cal.recall >= target, cal.scanFraction < 1.0))
        .toDF("recall_hit", "sub_full_scan")
    }
  }

  /** Shared serving tail of the spoken similarity verbs, one case per
    * [[SimilarScoring]]: the PQ path trains its code words at the
    * classical m=8/ksub=256 operating point (32x compression at
    * dim=64), replayable like every Lloyd path; the projection path
    * ranks in the JL-projected space at 4x compression (outDim =
    * dim/4) — its dim fetch is a bounded one-row lookup (same class as
    * the centroid fetch), since the plane matrix must materialize on
    * the driver either way. `pred` (exact path only — the parser
    * rejects a spoken filter on the compressed forms; this guards IR
    * built in code) filters NEIGHBORS inside the corpus scan,
    * pre-filter semantics. */
  private def similarServe(df: DataFrame, queries: DataFrame, k: Int,
                           scoring: SimilarScoring,
                           pred: Option[Column]): DataFrame = {
    require(pred.isEmpty || scoring == SimilarScoring.Exact,
      "a neighbor filter on flat similarity is exact-only")
    def depth(rerank: Option[Int]) = rerank.getOrElse(math.max(50, k))
    val result = scoring match {
      case SimilarScoring.Exact => Similarity.bruteForceTopK(queries, df, k, pred = pred)
      case SimilarScoring.Pq(rerank) =>
        val cb = graft.operators.Pq.train(df, 8, 256)
        rerank match {
          case Some(r) => graft.operators.Pq.adcTopKRefined(queries, df, cb, k, r)
          case None    => graft.operators.Pq.adcTopK(queries, df, cb, k)
        }
      case SimilarScoring.Proj(rerank) =>
        val dim = embeddingDim(df)
        Similarity.projectedTopK(queries, df, k, depth(rerank), dim,
          math.max(1, dim / 4))
      case SimilarScoring.Sq8(rerank) =>
        Similarity.sq8TopK(queries, df, k, depth(rerank))
    }
    result.withColumn("score", round(col("score"), 6))
  }

  /** The corpus's embedding width — a bounded one-row lookup (same
    * class as the centroid fetch; the JL plane matrix must materialize
    * on the driver either way). An EMPTY corpus fails with the typed
    * plan error, not a bare NoSuchElementException from `head`. */
  private def embeddingDim(df: DataFrame): Int =
    df.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head(1).headOption.map(_.getInt(0)).getOrElse(
        throw InvalidPlanException(
          "cannot project embeddings of an EMPTY corpus — the projection " +
            "width is derived from the stored vectors"))

  /** Compile a scalar aggregate-argument expression; integral constants
    * stay integers (the same `Lit.Num.asAny` rule predicates use), so
    * `1 - l_discount` compiles to the exact int-minus-double the driver
    * queries and oracles compute. */
  private def numExpr(df: DataFrame, e: NumExpr): Column = e match {
    case NumExpr.ColRef(n) => col(resolve(df, n))
    case NumExpr.Const(v)  => lit(Lit.Num(v).asAny)
    case NumExpr.Mul(l, r) => numExpr(df, l) * numExpr(df, r)
    case NumExpr.Add(l, r) => numExpr(df, l) + numExpr(df, r)
    case NumExpr.Sub(l, r) => numExpr(df, l) - numExpr(df, r)
  }

  private def aggColumn(df: DataFrame, a: AggSpec): Column = {
    // "*" with Count is count-star (counts rows, not non-nulls of a column)
    lazy val c = a.arg.map(numExpr(df, _)).getOrElse(col(resolve(df, a.col)))
    val base = a.func match {
      case AggFunc.Count if a.col == "*" => count(lit(1))
      case AggFunc.Count => count(c)
      case AggFunc.CountDistinct => countDistinct(c)
      case AggFunc.Avg   => avg(c)
      case AggFunc.Sum   => sum(c)
      case AggFunc.Min   => min(c)
      case AggFunc.Max   => max(c)
      // exact interpolated, matching DuckDB's numeric median/quantile_cont
      case AggFunc.Median => percentile(c, lit(0.5))
    }
    a.roundTo.fold(base)(s => round(base, s)).as(a.alias)
  }

  def predicate(df: DataFrame, p: Pred): Column = p match {
    case Pred.Cmp(op, c, v) =>
      val l = col(resolve(df, c)); val r = litOf(v)
      op match {
        case Pred.Gt => l > r
        case Pred.Ge => l >= r
        case Pred.Lt => l < r
        case Pred.Le => l <= r
        case Pred.Eq => l === r
        case Pred.Ne => l =!= r
      }
    case Pred.Between(c, lo, hi) => col(resolve(df, c)).between(litOf(lo), litOf(hi))
    case Pred.StartsWith(c, s)   => col(resolve(df, c)).startsWith(s)
    case Pred.Contains(c, s)     => col(resolve(df, c)).contains(s)
    case Pred.In(c, vs)          => col(resolve(df, c)).isin(vs.map(litAny): _*)
    case Pred.And(l, r)          => predicate(df, l) && predicate(df, r)
    case Pred.Or(l, r)           => predicate(df, l) || predicate(df, r)
    case Pred.Not(ch)            => !predicate(df, ch)
  }

  private def litOf(l: Lit): Column = lit(litAny(l))
  private def litAny(l: Lit): Any = l match {
    case n: Lit.Num => n.asAny
    case Lit.Str(s) => s
  }
}
