package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Persisted IVF index: the at-rest search must equal the per-query
  * build bit-for-bit, appends must assign against the FROZEN centroids,
  * probes must read only the probed cells' files, and the lifecycle
  * (compact/vacuum/crash) must follow the engine's manifest idioms. */
class IvfIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val Cells = 16
  private val K = 5
  private val NProbe = 4

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/index"

  private def ranked(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet

  test("search over the persisted index equals the per-query ivfTopK") {
    val p = freshPath()
    assert(IvfIndex.build(embs, p, Cells) == 1L)
    val queries = embs.filter(col("vec_id") < 8)
    val got = ranked(IvfIndex.search(spark, p, queries, K, NProbe))
    val want = ranked(Similarity.ivfTopK(queries, embs, K, Cells, NProbe))
    assert(got == want && got.nonEmpty)
  }

  test("a probe reads only the probed cells' files (partition pruning)") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells)
    val oneQuery = embs.filter(col("vec_id") === 3)
    val res = IvfIndex.search(spark, p, oneQuery, K, NProbe)
    res.collect() // the dataset's own QueryExecution, so metrics populate
    // inputFiles lists the whole FileIndex regardless of pruning; the
    // honest probe is the EXECUTED index scan's partition metric
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // plan.collect does not descend into AQE query stages (their inner
    // plan is a member, not a child) — recurse explicitly
    def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      plan match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val indexScans = scans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(indexScans.nonEmpty, "no index scan found in the executed plan")
    val partitionsRead = indexScans.map(s =>
      s.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${s.metrics.keys}"))).sum
    assert(partitionsRead <= NProbe,
      s"one query with nprobe=$NProbe read $partitionsRead cell partitions")
    // and the result is still exactly the in-memory formulation's
    assert(ranked(res) ==
      ranked(Similarity.ivfTopK(oneQuery, embs, K, Cells, NProbe)))
  }

  test("append assigns to the frozen centroids; content is the union") {
    val p = freshPath()
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    IvfIndex.build(half1, p, Cells)
    val cents = IvfIndex.readCentroids(spark, p)
    assert(IvfIndex.append(half2, p) == 2L)
    // centroids unchanged by the append
    assert(IvfIndex.readCentroids(spark, p).map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)
    // every vector present exactly once, stored cell = frozen assignment
    import graft.functions.SketchFunctions.nearestCentroids
    val stored = IvfIndex.read(spark, p)
    assert(stored.count() == embs.count())
    val mismatched = stored.withColumn("want",
        nearestCentroids(col("embedding"), cents, 1)(0))
      .filter(col("cell") =!= col("want")).count()
    assert(mismatched == 0L, "stored cells disagree with the frozen quantizer")
    // search serves the union through the index
    val queries = embs.filter(col("vec_id") < 4)
    val got = IvfIndex.search(spark, p, queries, K, NProbe)
    // ground truth: same frozen centroids, in-memory join over the union
    val cb = embs.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .withColumn("cell", nearestCentroids(col("c_vec"), cents, 1)(0))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("cell", explode(nearestCentroids(col("q_vec"), cents, NProbe)))
    val scored = cb.join(broadcast(qb), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.cosineSim(col("q_vec"), col("c_vec")).as("score"))
    assert(ranked(got) == ranked(Similarity.topKPerQuery(scored, K)))
  }

  test("tagged appends are idempotent; streaming ingest lands exactly-once") {
    import spark.implicits._
    val p = freshPath()
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    IvfIndex.build(half1, p, Cells)
    val v2 = IvfIndex.append(half2, p, batchTag = Some("42"))
    assert(v2 == 2L)
    // re-delivered batch: same tag → no write, no version bump
    assert(IvfIndex.append(half2, p, batchTag = Some("42")) == 2L)
    assert(IvfIndex.read(spark, p).count() == embs.count())
    // streaming twin: micro-batches land as tagged segments
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val sp = s"$dir/index"
    IvfIndex.build(half1, sp, Cells)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = IvfIndex.ingest(
      input.toDF().toDF("vec_id", "embedding"), sp, s"$dir/ckpt")
    try {
      val rows = half2.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      input.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      assert(IvfIndex.read(spark, sp).count() == embs.count())
      // the streamed index serves identically to the batch-built one
      val queries = embs.filter(col("vec_id") < 4)
      assert(ranked(IvfIndex.search(spark, sp, queries, K, NProbe)) ==
        ranked(IvfIndex.search(spark, p, queries, K, NProbe)))
    } finally q.stop()
  }

  test("IVF-SQ8: probe-everything equals the flat quantized-cosine rank; " +
       "the probe reads (vec_id, codes8, cell) only") {
    import graft.functions.SketchFunctions.{sq8Cos, sq8EncodeBytes}
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, sq8 = true)
    val queries = embs.filter(col("vec_id") < 8)

    // nprobe = every cell → candidates are ALL non-self vectors, so the
    // index must reproduce the flat sq8-cosine ranking exactly
    val got = ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Sq8))
    val q = queries.select(col("vec_id").as("query_id"),
      sq8EncodeBytes(col("embedding")).as("qc"))
    val c = embs.select(col("vec_id").as("neighbor_id"),
      sq8EncodeBytes(col("embedding")).as("cc"))
    val flat = Similarity.topKPerQuery(
      c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          sq8Cos(col("qc"), col("cc")).as("score")), K)
    assert(got == ranked(flat) && got.nonEmpty)

    // a narrow probe prunes partitions AND columns: the pruned scan
    // reads 1 byte/dim code words, never the float vectors
    val res = IvfIndex.search(spark, p,
      embs.filter(col("vec_id") === 3), K, NProbe, IvfScoring.Sq8)
    res.collect()
    val indexScans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(indexScans.nonEmpty)
    indexScans.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet == Set("vec_id", "codes8"),
        s"SQ8 probe must not read the float vectors: ${s.requiredSchema}")
    }
    val partitionsRead = indexScans.map(s =>
      s.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum
    assert(partitionsRead <= NProbe,
      s"one query with nprobe=$NProbe read $partitionsRead cell partitions")
    // an un-layered index refuses loudly
    val bare = freshPath()
    IvfIndex.build(embs, bare, Cells)
    intercept[RuntimeException] {
      IvfIndex.search(spark, bare, queries, K, NProbe, IvfScoring.Sq8)
    }
  }

  test("IVF-SQ8: appends encode against nothing frozen and survive a rebuild") {
    val p = freshPath()
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    IvfIndex.build(half1, p, Cells, sq8 = true)
    IvfIndex.append(half2, p) // sq8 flag rides the manifest
    val queries = embs.filter(col("vec_id") < 4)
    val afterAppend = ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Sq8))
    // rebuild over the union: the quantizer changes, the SQ8 layer is
    // per-vector so the probe-everything result is IDENTICAL
    IvfIndex.build(embs, p, Cells, sq8 = true)
    assert(ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Sq8)) ==
      afterAppend)
  }

  test("the NL probe routes scan only probed cells; the query-vector " +
       "fetch is projected and pushed") {
    import graft.SparkSpec.executedFileScans
    val p = freshPath()
    IvfIndex.build(embs, p, Cells,
      pq = Some(Pq.PqParams(8, 64))) // PQ layer so the ADC route runs too
    // the query-vector fetch: (vec_id, embedding) only, id pushed down
    val lf = IvfIndex.lookupFrame(spark, p, 3L)
    assert(lf.collect().length == 1)
    val lookupScans = executedFileScans(lf)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(lookupScans.nonEmpty)
    lookupScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read == Set("vec_id", "embedding"),
        s"lookup read more than the id and the vector: $read")
      assert(s.dataFilters.nonEmpty,
        "the id equality did not reach the lookup's data scan")
    }
    // the spoken probes: executed index scans bounded by nprobe cells,
    // and the ADC route's scan never materializes the float vectors —
    // the same pins x82/x84 carry, applied to the Engine.run path
    for (adc <- Seq(false, true)) {
      val nl = if (adc) "Search the index with quantized codes for top 5 " +
                        "similar to 3 probing 4 cells."
               else "Search the index for top 5 similar to 3 probing 4 cells."
      val res = graft.Engine.run(nl, IvfIndex.read(spark, p), tablePath = Some(p))
      res.collect()
      val indexScans = executedFileScans(res)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
      assert(indexScans.nonEmpty, "no index scan in the NL probe's plan")
      val partitionsRead = indexScans.map(s =>
        s.metrics.get("numPartitions").map(_.value).getOrElse(
          sys.error(s"scan has no partition metric: ${s.metrics.keys}"))).sum
      assert(partitionsRead <= NProbe,
        s"NL probe (adc=$adc) read $partitionsRead cell partitions")
      if (adc) indexScans.foreach { s =>
        val read = s.requiredSchema.fieldNames.toSet
        assert(read == Set("vec_id", "codes"),
          s"NL ADC probe materialized more than the code words: $read")
      }
    }
  }

  test("AutoCells sizes the quantizer at max(16, floor(sqrt(n)))") {
    val p = freshPath()
    IvfIndex.build(embs, p, IvfIndex.AutoCells) // 500 rows -> 22 cells
    val nc = IvfIndex.readCentroids(spark, p).length
    assert(nc == IvfIndex.autoCells(embs.count()) && nc == 22)
    val queries = embs.filter(col("vec_id") < 4)
    // the auto-sized index still serves the ivfTopK contract exactly
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) ==
      ranked(Similarity.ivfTopK(queries, embs, K, nc, NProbe)))
    // tiny corpus floors at 16 (sampleCentroids caps at n rows anyway)
    assert(IvfIndex.autoCells(9L) == 16 && IvfIndex.autoCells(0L) == 16)
  }

  test("attribute-filtered search: predicate pushed INTO the pruned scan, " +
       "exactly k matching neighbors, equal to the pre-filtered formulation") {
    import graft.SparkSpec.executedFileScans
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, attrs = Seq("label"))
    val queries = embs.filter(col("vec_id") < 8)
    val pred = col("label") === 3
    val res = IvfIndex.search(spark, p, queries, K, NProbe, pred = Some(pred))
    val got = ranked(res)
    // ground truth: the same probe over a corpus PRE-filtered to the
    // label slice — pre-filtering is the semantics (post-filtering the
    // unfiltered top-k under-returns k, the classic wrong answer)
    import graft.functions.SketchFunctions.nearestCentroids
    val cents = IvfIndex.readCentroids(spark, p)
    val cb = embs.filter(pred)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .withColumn("cell", nearestCentroids(col("c_vec"), cents, 1)(0))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("cell", explode(nearestCentroids(col("q_vec"), cents, NProbe)))
    val want = ranked(Similarity.topKPerQuery(
      cb.join(broadcast(qb), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.VectorFunctions.cosineSim(col("q_vec"), col("c_vec")).as("score")),
      K))
    assert(got == want && got.nonEmpty)
    // every returned neighbor MATCHES the predicate
    val matching = embs.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.forall { case (_, n, _, _) => matching.contains(n) })
    // the predicate reached the executed index scan's data filters
    // (pushed beside the partition filter, not applied post-scan), and
    // partition pruning still holds
    val oneQ = IvfIndex.search(spark, p, embs.filter(col("vec_id") === 3),
      K, NProbe, pred = Some(pred))
    oneQ.collect()
    val indexScans = executedFileScans(oneQ)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(indexScans.nonEmpty)
    indexScans.foreach { s =>
      assert(s.dataFilters.exists(_.references.exists(_.name == "label")),
        s"label predicate did not reach the scan: ${s.dataFilters}")
    }
    val partitionsRead = indexScans.map(s =>
      s.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum
    assert(partitionsRead <= NProbe)
    // the ADC and SQ8 layers accept the same predicate, and their
    // filtered probes STILL never read the float vectors: the scan
    // projects codes + the filter attribute only
    val pPq = freshPath()
    IvfIndex.build(embs, pPq, Cells, pq = Some(Pq.PqParams(8, 64)),
      sq8 = true, attrs = Seq("label"))
    for ((probe, codeCol) <- Seq(
           (IvfIndex.search(spark, pPq, queries, K, NProbe, IvfScoring.Adc, Some(pred)),
            "codes"),
           (IvfIndex.search(spark, pPq, queries, K, NProbe, IvfScoring.Sq8, Some(pred)),
            "codes8"))) {
      val rs = probe.collect()
      assert(rs.nonEmpty &&
        rs.forall(r => matching.contains(r.getLong(1))))
      val scans = executedFileScans(probe)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
      assert(scans.nonEmpty)
      scans.foreach { s =>
        assert(s.requiredSchema.fieldNames.toSet == Set("vec_id", codeCol, "label"),
          s"filtered $codeCol probe read more than codes + filter attr: " +
            s"${s.requiredSchema}")
      }
    }
    // a predicate over a column the index does not store fails loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      IvfIndex.search(spark, p, queries, K, NProbe,
        pred = Some(col("lang") === "en")).collect()
    }
  }

  test("deleteByKey: copy-on-write bounded to containing cells, probes " +
       "never return erased ids, idempotent, vacuum completes physically") {
    val p = freshPath()
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), p, Cells)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), p)
    val keys = Seq(3L, 7L, 250L)
    val beforeContent = IvfIndex.read(spark, p)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val affectedCells = keys.map(beforeContent).toSet
    // snapshot every data file (name → mtime) before the erase
    def dataFiles(): Map[String, Long] = {
      val m = IvfIndex.readManifest(spark, p)
      (for {
        seg <- m.segments
        cellDir <- f.listStatus(new Path(p, seg)).toSeq
        if cellDir.getPath.getName.startsWith("cell=")
        st <- f.listStatus(cellDir.getPath).toSeq
        if st.getPath.getName.endsWith(".parquet")
      } yield st.getPath.toString -> st.getModificationTime).toMap
    }
    val before = dataFiles()
    val v = IvfIndex.deleteByKey(spark, p, keys)
    assert(v == 3L)
    // 1) content = survivors with their STORED cells, bit-for-bit
    val after = IvfIndex.read(spark, p).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == beforeContent -- keys)
    // 2) the rewrite touched ONLY containing cells: every pre-existing
    // file is untouched (same mtime), and the new erase segments hold
    // nothing but the affected cells
    val m = IvfIndex.readManifest(spark, p)
    val eraseSegs = m.entries.filter(_.name.endsWith("-e"))
    assert(eraseSegs.nonEmpty)
    before.foreach { case (path, mtime) =>
      assert(f.getFileStatus(new Path(path)).getModificationTime == mtime,
        s"pre-existing file rewritten by erase: $path")
    }
    eraseSegs.foreach { e =>
      val cells = f.listStatus(new Path(p, e.name))
        .map(_.getPath.getName).filter(_.startsWith("cell="))
        .map(_.stripPrefix("cell=").toLong).toSet
      assert(cells.subsetOf(affectedCells),
        s"erase segment ${e.name} rewrote non-containing cells: $cells")
    }
    // 3) old entries skip exactly the affected cells
    val skips = m.entries.filterNot(_.name.endsWith("-e"))
      .flatMap(_.skip).toSet
    assert(skips == affectedCells)
    // 4) no probe or lookup returns an erased id
    val queries = embs.filter(col("vec_id") < 8)
    val served = IvfIndex.search(spark, p, queries, K, nprobe = Cells)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(keys.forall(!served.contains(_)))
    intercept[IllegalArgumentException] {
      IvfIndex.lookupVector(spark, p, 3L)
    }
    // 5) idempotent: erasing again publishes nothing
    assert(IvfIndex.deleteByKey(spark, p, keys) == v)
    assert(IvfIndex.readManifest(spark, p).version == v)
    // 6) vacuum completes the PHYSICAL erase: the skipped cell dirs of
    // retained segments are reclaimed (old manifests gone with them)
    IvfIndex.vacuum(spark, p)
    val mm = IvfIndex.readManifest(spark, p)
    mm.entries.filter(_.skip.nonEmpty).foreach { e =>
      e.skip.foreach { c =>
        assert(!f.exists(new Path(p, s"${e.name}/cell=$c")),
          s"erased bytes survive vacuum: ${e.name}/cell=$c")
      }
    }
    // content and serving unchanged by the reclaim
    assert(IvfIndex.read(spark, p).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == after)
    // 7) compact folds to a skip-free physical layout, same content
    IvfIndex.compact(spark, p)
    val mc = IvfIndex.readManifest(spark, p)
    assert(mc.entries.size == 1 && mc.entries.head.skip.isEmpty)
    assert(IvfIndex.read(spark, p).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == after)
  }

  test("deleteWhere: attribute-sweep erasure is distributed, exact, and " +
       "null-predicate rows survive") {
    import spark.implicits._
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, attrs = Seq("label"))
    val slice = embs.filter(col("label") === 9).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(slice.nonEmpty)
    IvfIndex.deleteWhere(spark, p, col("label") === 9)
    val after = IvfIndex.read(spark, p).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert((after intersect slice).isEmpty)
    assert(after.size + slice.size == embs.count())
    // idempotent
    val v = IvfIndex.readManifest(spark, p).version
    assert(IvfIndex.deleteWhere(spark, p, col("label") === 9) == v)
    // NULL predicate rows are NOT erased: an index whose attr is null
    // for some rows must not silently drop them under a sweep
    val p2 = freshPath()
    val mixed = embs.select(col("vec_id"), col("embedding"),
      when(col("vec_id") % 2 === 0, col("label")).as("label"))
    IvfIndex.build(mixed, p2, Cells, attrs = Seq("label"))
    IvfIndex.deleteWhere(spark, p2, col("label") === 9)
    val kept = IvfIndex.read(spark, p2)
    // every odd vec_id (null label) survives
    assert(kept.filter(col("vec_id") % 2 === 1).count() ==
      embs.filter(col("vec_id") % 2 === 1).count())
    // every even label-9 row is gone
    assert(kept.filter(col("label") === 9).count() == 0)
  }

  test("deleteByKey preserves the PQ and SQ8 layers and stored attributes") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, pq = Some(Pq.PqParams(8, 64)),
      sq8 = true, attrs = Seq("label"))
    val queries = embs.filter(col("vec_id") < 4)
    val keys = Seq(3L, 9L)
    IvfIndex.deleteByKey(spark, p, keys)
    // both compressed probes still serve, never returning erased ids
    for (probe <- Seq(
           IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Adc),
           IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Sq8))) {
      val ids = probe.select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && keys.forall(!ids.contains(_)))
    }
    // attributes survive the rewrite: filtered search still works
    val got = IvfIndex.search(spark, p, queries, K, Cells,
      pred = Some(col("label") === 3)).collect()
    assert(got.nonEmpty)
  }

  test("a rebuild flips (quantizer, segments) atomically; a crashed " +
       "rebuild leaves the old index serving") {
    val p = freshPath()
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v1: half the corpus at 8 cells
    IvfIndex.build(embs.filter(col("vec_id") < 250), p, cells = 8)
    val queries = embs.filter(col("vec_id") < 4)
    val before = ranked(IvfIndex.search(spark, p, queries, K, NProbe))
    val m1 = IvfIndex.readManifest(spark, p)
    assert(m1.centroidsFile == "centroids-000000001.txt")
    // crashed rebuild = everything a build writes EXCEPT the manifest:
    // materialize a would-be v2 with different geometry in a twin dir,
    // copy its quantizer + segment over, and do NOT publish
    val twin = freshPath()
    IvfIndex.build(embs, twin, cells = Cells)
    for (name <- Seq("centroids-000000002.txt", "seg-000000002")) {
      val src = new Path(new Path(twin), name match {
        case "centroids-000000002.txt" => "centroids-000000001.txt"
        case _ => "seg-000000001"
      })
      org.apache.hadoop.fs.FileUtil.copy(f, src, f, new Path(p, name),
        false, spark.sparkContext.hadoopConfiguration)
    }
    // readers see the OLD pairing — results unchanged
    assert(IvfIndex.readManifest(spark, p) == m1)
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) == before)
    // a completed rebuild flips in one rename and supersedes everything
    // (it lands at v2 — crash remnants never bumped the manifest — and
    // OVERWRITES them, exactly what a restarted rebuild does)
    IvfIndex.build(embs, p, cells = Cells)
    val m2 = IvfIndex.readManifest(spark, p)
    assert(m2.centroidsFile == "centroids-000000002.txt" &&
      m2.segments == Seq("seg-000000002"))
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) ==
      ranked(Similarity.ivfTopK(queries, embs, K, Cells, NProbe)))
    // vacuum reclaims the superseded v1 quantizer + segments, keeps v2's
    assert(IvfIndex.vacuum(spark, p) > 0L)
    assert(!f.exists(new Path(p, "centroids-000000001.txt")))
    assert(f.exists(new Path(p, "centroids-000000002.txt")))
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) ==
      ranked(Similarity.ivfTopK(queries, embs, K, Cells, NProbe)))
  }

  test("racing untagged appenders both land exactly-once via publish retry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val p = freshPath()
    IvfIndex.build(embs.filter(col("vec_id") < 100), p, Cells)
    val parts = (0 until 4).map(i =>
      embs.filter(col("vec_id") >= 100 && col("vec_id") % 4 === i))
    val futures = parts.map(b => Future(IvfIndex.append(b, p)))
    val versions = Await.result(Future.sequence(futures), 5.minutes)
    // every racer published some version; together they reach v5
    assert(versions.toSet.subsetOf(Set(2L, 3L, 4L, 5L)))
    assert(IvfIndex.readManifest(spark, p).version == 5L)
    assert(IvfIndex.read(spark, p).count() == embs.count())
    // content identical to a serial build over the full corpus's cells
    val queries = embs.filter(col("vec_id") < 4)
    val cents = IvfIndex.readCentroids(spark, p)
    import graft.functions.SketchFunctions.nearestCentroids
    val mismatched = IvfIndex.read(spark, p).withColumn("want",
        nearestCentroids(col("embedding"), cents, 1)(0))
      .filter(col("cell") =!= col("want")).count()
    assert(mismatched == 0L)
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)).nonEmpty)
  }

  test("cellStats equals the full-scan group-by; compact re-tiles " +
       "oversized cells into bounded files") {
    val p = freshPath()
    IvfIndex.build(embs, p, cells = 4) // few cells → every cell oversized
    val queries = embs.filter(col("vec_id") < 4)
    val before = ranked(IvfIndex.search(spark, p, queries, K, nprobe = 2))
    // footer-only stats == full data scan
    def scanCounts() = IvfIndex.read(spark, p).groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def statCounts() = IvfIndex.cellStats(spark, p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(statCounts() == scanCounts() && statCounts().nonEmpty)
    // re-tile: every cell is > 50 rows here, so compaction must split
    // them into multiple files, each within the hard bound
    IvfIndex.compact(spark, p, maxRowsPerFile = 50)
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = IvfIndex.readManifest(spark, p)
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = for {
      seg <- m.segments
      cellDir <- f.listStatus(new Path(p, seg)).toSeq
      if cellDir.getPath.getName.startsWith("cell=")
      st <- f.listStatus(cellDir.getPath).toSeq
      if st.getPath.getName.endsWith(".parquet")
    } yield st
    assert(statuses.nonEmpty)
    val perFileRows = statuses.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally r.close()
    }
    assert(perFileRows.forall(_ <= 50L),
      s"a compacted file exceeds the bound: ${perFileRows.max} rows")
    assert(perFileRows.size > statCounts().size,
      "oversized cells did not split into multiple files")
    // content and serving invariant under the re-tile
    assert(statCounts() == scanCounts())
    assert(ranked(IvfIndex.search(spark, p, queries, K, nprobe = 2)) == before)
  }

  test("on a skewed index, a cold-cell probe's cost is bounded by the " +
       "probed cell's files, never the hottest cell's") {
    import graft.SparkSpec.executedFileScans
    import spark.implicits._
    // 90% of the corpus piles into one direction (one hot cell); three
    // cold directions share the rest. Seeds (smallest ids) span all four.
    def unit(axis: Int, jitter: Float): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(axis) = 1.0f; v(3) = v(3) + jitter; v
    }
    val rows =
      (0 until 4).map(a => (a.toLong, unit(a, 0.0f))) ++
      (4 until 1804).map(i => (i.toLong, unit(0, 0.001f * (i % 7)))) ++
      (1804 until 1868).map(i => (i.toLong, unit(1, 0.001f * (i % 5)))) ++
      (1868 until 1932).map(i => (i.toLong, unit(2, 0.001f * (i % 5)))) ++
      (1932 until 2000).map(i => (i.toLong, unit(3, 0.001f * (i % 5))))
    val skewed = rows.toDF("vec_id", "embedding")
    val p = freshPath()
    IvfIndex.build(skewed, p, cells = 4)
    IvfIndex.compact(spark, p, maxRowsPerFile = 100) // hot cell → many files
    val stats = IvfIndex.cellStats(spark, p)
      .select("cell", "n_rows", "files")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hotFiles = stats.maxBy(_._2)._3
    assert(hotFiles >= 10, s"fixture not skewed enough: $hotFiles hot files")
    // a query on a COLD direction probing 1 cell
    val coldQ = Seq((-1L, unit(1, 0.0f))).toDF("vec_id", "embedding")
    val res = IvfIndex.search(spark, p, coldQ, K, nprobe = 1)
    assert(res.count() == K)
    val filesRead = executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(
        sys.error("scan has no numFiles metric"))).sum
    assert(filesRead <= 2,
      s"cold-cell probe read $filesRead files (hot cell has $hotFiles)")
  }

  test("vacuum's orphan-age guard shields a racing appender's staging") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells)
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a never-referenced young segment + tmp = an in-flight append
    f.mkdirs(new Path(p, "seg-inflight01"))
    f.create(new Path(p, ".index-manifest-2-abc.tmp"), true).close()
    IvfIndex.vacuum(spark, p, keepVersions = 1, orphanMinAgeMs = 3600000L)
    assert(f.exists(new Path(p, "seg-inflight01")),
      "orphan-age guard failed to shield an in-flight segment")
    assert(f.exists(new Path(p, ".index-manifest-2-abc.tmp")))
    // eager default reclaims both
    IvfIndex.vacuum(spark, p)
    assert(!f.exists(new Path(p, "seg-inflight01")))
    assert(!f.exists(new Path(p, ".index-manifest-2-abc.tmp")))
  }

  test("a pinned index version survives vacuum (manifest + segments); " +
       "unpinning releases it; a late pin fails loudly") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells)                  // v1
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v1's segment dirs — referenced by v1 only once compact publishes
    // a folded v2
    val v1Segs = f.listStatus(new Path(p)).map(_.getPath.getName)
      .filter(_.startsWith("seg-")).toSeq
    IvfIndex.compact(spark, p)                      // v2 (fresh segment)
    assert(IvfIndex.pin(spark, p, "evaluator", 1L) == 1L)
    assert(IvfIndex.pins(spark, p) == Map("evaluator" -> 1L))
    IvfIndex.vacuum(spark, p, keepVersions = 1)
    // the pinned manifest AND the segments it references survived
    assert(IvfIndex.versions(spark, p) == Seq(1L, 2L))
    assert(v1Segs.forall(s => f.exists(new Path(p, s))),
      "vacuum reclaimed a pinned version's segments")
    // the live probe is unaffected throughout
    val queries = embs.filter(col("vec_id") < 2)
    assert(IvfIndex.search(spark, p, queries, K, NProbe).count() > 0)
    // released pin → next vacuum reclaims; late re-pin fails loudly
    assert(IvfIndex.unpin(spark, p, "evaluator"))
    IvfIndex.vacuum(spark, p, keepVersions = 1)
    assert(IvfIndex.versions(spark, p) == Seq(2L))
    assert(v1Segs.forall(s => !f.exists(new Path(p, s))),
      "released version's segments were not reclaimed")
    val e = intercept[RuntimeException](IvfIndex.pin(spark, p, "late", 1L))
    assert(e.getMessage.contains("not retained"))
  }

  test("compact folds segments; vacuum reclaims; crash leaves the index intact") {
    val p = freshPath()
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), p, Cells)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), p)
    val queries = embs.filter(col("vec_id") < 4)
    val before = ranked(IvfIndex.search(spark, p, queries, K, NProbe))
    assert(IvfIndex.readManifest(spark, p).segments.size == 2)
    assert(IvfIndex.compact(spark, p) == 3L)
    assert(IvfIndex.readManifest(spark, p).segments.size == 1)
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) == before)
    // crash remnant: an unreferenced segment dir + tmp — vacuum sweeps
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(p, "seg-000000099"))
    assert(IvfIndex.vacuum(spark, p) >= 3L) // 2 old segs + 2 old manifests + orphan
    assert(IvfIndex.versions(spark, p) == Seq(3L))
    assert(!f.exists(new Path(p, "seg-000000099")))
    assert(ranked(IvfIndex.search(spark, p, queries, K, NProbe)) == before)
  }
}
