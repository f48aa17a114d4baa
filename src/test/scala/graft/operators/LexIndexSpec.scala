package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted inverted index (LexIndex.scala): probe ≡ flat BM25 scan
  * (score-identical — the shared tail + exact-integer stats), appends
  * fold in ≡ rebuild, and the probe's executed scan reads only the
  * query terms' bucket partitions with the term filter pushed. */
class LexIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-lex").toString + "/idx"

  private val docsFx = Seq(
    (0L, "spark join fast spark"),
    (1L, "join slow table join join"),
    (2L, "spark spark spark"),
    (3L, "hash merge batch"),
    (4L, "fast fast join spark table"),
    (5L, "merge table scan window"),
    (6L, "window scan scan batch slow"))
  private def docsDf = docsFx.toDF("doc_id", "text")

  private def queriesDf(qs: (Long, Seq[String])*) =
    spark.createDataFrame(qs).toDF("query_id", "terms")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("index probe is score-identical to the flat BM25 scan") {
    val p = freshPath()
    LexIndex.build(docsDf, p)
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("table", "scan"))
    assert(rows(LexIndex.search(spark, p, qs, 3)) ==
      rows(Retrieval.bm25TopK(docsDf, qs, 3)))
  }

  test("append ≡ rebuild: same content, stats summed exactly") {
    val (p1, p2) = (freshPath(), freshPath())
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p1)
    LexIndex.append(rest.toDF("doc_id", "text"), p1)
    LexIndex.build(docsDf, p2)
    val m1 = LexIndex.readManifest(spark, p1)
    val m2 = LexIndex.readManifest(spark, p2)
    assert((m1.nDocs, m1.sumDl) == (m2.nDocs, m2.sumDl))
    assert(m1.segments.size == 2 && m1.version == 2L)
    val qs = queriesDf(1L -> Seq("spark", "window"))
    assert(rows(LexIndex.search(spark, p1, qs, 5)) ==
      rows(LexIndex.search(spark, p2, qs, 5)))
    // and both still equal the flat scan over the full corpus
    assert(rows(LexIndex.search(spark, p1, qs, 5)) ==
      rows(Retrieval.bm25TopK(docsDf, qs, 5)))
  }

  test("probe reads only the probed buckets with the term filter pushed") {
    val p = freshPath()
    LexIndex.build(docsDf, p, buckets = 16)
    val qs = queriesDf(1L -> Seq("spark", "join"))
    val res = LexIndex.search(spark, p, qs, 3)
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty, "no index scan in the executed plan")
    val probedBuckets = Seq("spark", "join")
      .map(LexIndex.termBucket(_, 16)).distinct.size
    // per scan: the probe's candidate read AND the df branch's re-read
    // are each bucket-pruned (the mergeable-df regime reads the pruned
    // postings twice, never a partition outside the probed buckets)
    scans.foreach { s =>
      val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${s.metrics.keys}"))
      assert(parts <= probedBuckets,
        s"a probe scan read $parts bucket partitions for $probedBuckets buckets")
    }
    // the term restriction reaches the parquet scan as a pushed filter
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(f => f.contains("term") && f.contains("In"))),
      "term IN (…) not pushed into the postings scan")
    // the index probe's df is the MERGEABLE aggregate, not a per-term
    // window — no Window node anywhere in the executed plan (a
    // stop-word term would otherwise sort its whole posting list in
    // one task at corpus scale)
    def hasWindow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec] ||
        p.children.exists(hasWindow) || (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            hasWindow(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            hasWindow(q.plan)
          case _ => false
        })
    assert(!hasWindow(res.queryExecution.executedPlan),
      "index probe scored df through a window")
  }

  test("probe df comes from the sidecar statistics (a _df scan, no " +
       "postings re-read); missing sidecars fall back identically") {
    val p = freshPath()
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p)
    LexIndex.append(rest.toDF("doc_id", "text"), p)
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("table"))
    val res = LexIndex.search(spark, p, qs, 3)
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    def isDfScan(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.rootPaths.exists(_.toString.contains("/_df"))
    assert(scans.exists(isDfScan), "no df-sidecar scan in the probe plan")
    // every OTHER index scan is the scoring read (projects tf) — a
    // term-only projection would be the df recompute re-reading postings
    val nonDf = scans.filterNot(isDfScan)
    assert(nonDf.nonEmpty &&
      nonDf.forall(_.requiredSchema.fieldNames.contains("tf")),
      "the probe re-read the postings for df despite sidecars")
    val expected = rows(Retrieval.bm25TopK(docsDf, qs, 3))
    assert(rows(res) == expected)
    // an index written before sidecars existed (simulated by deleting
    // them AND stripping the manifest's df= line — the manifest is the
    // authority probes decide from, no per-segment FS round-trips)
    // serves identically through the bounded per-segment recompute
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    LexIndex.readManifest(spark, p).segments.foreach { s =>
      f.delete(new org.apache.hadoop.fs.Path(p, s"$s/_df"), true)
    }
    val mv = LexIndex.versions(spark, p).last
    val mf = new org.apache.hadoop.fs.Path(p, f"lex-manifest-$mv%09d.txt")
    val mTxt = {
      val in = f.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val out = f.create(mf, true)
    try out.write(mTxt.linesIterator.filterNot(_.startsWith("df="))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val res2 = LexIndex.search(spark, p, qs, 3)
    assert(rows(res2) == expected)
    res2.collect()
    assert(!graft.SparkSpec.executedFileScans(res2).exists(isDfScan))
    // erase keeps the statistics exact: the erase segment brings its own
    // sidecar, skipped buckets stop counting (probe ≡ surviving flat)
    val p2 = freshPath()
    LexIndex.build(docsDf, p2)
    LexIndex.deleteByKey(spark, p2, Seq(0L, 3L))
    assert(rows(LexIndex.search(spark, p2, qs, 3)) ==
      rows(Retrieval.bm25TopK(
        docsFx.filter(d => d._1 != 0L && d._1 != 3L).toDF("doc_id", "text"),
        qs, 3)))
  }

  test("a LEGACY manifest (no df= line) with sidecars ON DISK serves df " +
       "from them via the existence fallback; dfSidecarHealth reports " +
       "the probe's actual regime per segment") {
    val p = freshPath()
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p)
    LexIndex.append(rest.toDF("doc_id", "text"), p)
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("table"))
    val expected = rows(Retrieval.bm25TopK(docsDf, qs, 3))
    def health = LexIndex.dfSidecarHealth(spark, p).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    val h1 = health
    assert(h1.size == 2 && h1.forall(h => h._2 && h._3),
      s"fresh index should be sidecar-served and registered: $h1")
    // strip ONLY the manifest's df= line (sidecars stay on disk) — the
    // pre-df=-line world, where presence WAS the filesystem probe
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mv = LexIndex.versions(spark, p).last
    val mf = new org.apache.hadoop.fs.Path(p, f"lex-manifest-$mv%09d.txt")
    val mTxt = {
      val in = f.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val out = f.create(mf, true)
    try out.write(mTxt.linesIterator.filterNot(_.startsWith("df="))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val h2 = health
    assert(h2.forall(h => h._2 && !h._3),
      s"legacy manifest with on-disk sidecars should serve via fallback: $h2")
    val res = LexIndex.search(spark, p, qs, 3)
    res.collect()
    def isDfScan(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.rootPaths.exists(_.toString.contains("/_df"))
    assert(graft.SparkSpec.executedFileScans(res).exists(isDfScan),
      "legacy manifest recomputed df despite sidecars on disk")
    assert(rows(res) == expected)
    // delete ONE segment's sidecar: health flags exactly that segment,
    // the probe mixes regimes, results stay identical
    val gone = h2.head._1
    f.delete(new org.apache.hadoop.fs.Path(p, s"$gone/_df"), true)
    val h3 = health
    assert(h3.collect { case (s, false, _) => s } == Seq(gone),
      s"health should flag exactly the sidecar-less segment: $h3")
    assert(rows(LexIndex.search(spark, p, qs, 3)) == expected)
  }

  test("wide probes past the term-literal cap stay bucket-pruned: " +
       "3000+ terms read only partitions holding some query term") {
    val p = freshPath()
    val nBuckets = 8192 // spread ≫ probed terms, the at-scale regime
    LexIndex.build(docsDf, p, buckets = nBuckets)
    val wide = (0 until 3000).map(i => s"w$i") ++ Seq("spark", "join")
    assert(wide.size > 2048)
    val qs = queriesDf(1L -> wide)
    val res = LexIndex.search(spark, p, qs, 3)
    res.collect()
    // the corpus partitions a wide probe may legitimately touch: its
    // bucket dirs whose bucket some query term hashes to
    val corpusTerms = docsFx.flatMap(_._2.split("\\s+")).distinct
    val probed = wide.map(LexIndex.termBucket(_, nBuckets)).toSet
    val touchable = corpusTerms.map(LexIndex.termBucket(_, nBuckets))
      .distinct.count(probed.contains)
    val corpusBuckets = corpusTerms.map(LexIndex.termBucket(_, nBuckets))
      .distinct.size
    assert(touchable < corpusBuckets,
      "fixture degenerate: every corpus bucket probed — widen the spread")
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${s.metrics.keys}"))
      assert(parts <= touchable,
        s"a wide-probe scan read $parts partitions; only $touchable " +
          s"of $corpusBuckets corpus buckets are probed")
    }
    // and the result is still the flat scan's, term literals or not
    assert(rows(res) == rows(Retrieval.bm25TopK(docsDf, qs, 3)))
    // wide probes keep the one-postings-read property: df comes from
    // the _df sidecar statistics (joined with the query-term frame
    // past the literal cap), never a term-projected postings re-read
    val allScans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    def isDfScan(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.rootPaths.exists(_.toString.contains("/_df"))
    assert(allScans.exists(isDfScan),
      "wide probe computed df without the sidecar statistics")
    assert(allScans.filterNot(isDfScan)
        .forall(_.requiredSchema.fieldNames.contains("tf")),
      "wide probe re-read the postings (term-only projection) for df")
  }

  test("terms absent from the corpus score nothing; unknown index fails loudly") {
    val p = freshPath()
    LexIndex.build(docsDf, p)
    assert(LexIndex.search(spark, p, queriesDf(1L -> Seq("zebra")), 3).count() == 0)
    val e = intercept[RuntimeException] {
      LexIndex.readManifest(spark, freshPath())
    }
    assert(e.getMessage.contains("not a lexical index"))
  }

  test("hybridServe fuses the two at-rest arms; only index files are read") {
    val lexP = freshPath()
    LexIndex.build(docsDf, lexP)
    val ivfP = freshPath()
    // aligned embeddings: doc_id ≡ vec_id, 4 dims, deterministic
    val embs = docsFx.map { case (id, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    val qs = queriesDf(0L -> Seq("spark", "join"))
    val out = Retrieval.serve(spark, lexP, ivfP, qs, 3,
      depth = 5, vector = Some(ServeVector.Stored(1)))
    out.collect()
    // every executed file scan is an index segment — zero corpus scans
    val scans = graft.SparkSpec.executedFileScans(out)
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))),
      "hybridServe read a non-index file")
    // equals the hand-composed arms (vector arm self-excluded by the
    // fetched-by-id semantics)
    val lex = LexIndex.search(spark, lexP, qs, 5)
      .select("query_id", "doc_id", "rank")
    val vec = IvfIndex.search(spark, ivfP,
        embs.filter(col("vec_id") === 0L), 5, 1)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    assert(rows(out) == rows(Retrieval.rrfFuse(lex, vec, 3)))
    assert(!vec.collect().map(_.getLong(1)).contains(0L))
  }

  test("mmrServe diversifies fully at rest: only index files are read, " +
       "result ≡ the flat mmrTopK over the indexed corpus") {
    val lexP = freshPath()
    LexIndex.build(docsDf, lexP)
    val ivfP = freshPath()
    val embs = docsFx.map { case (id, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    val qs = queriesDf(0L -> Seq("spark", "join"), 1L -> Seq("table"))
    val out = Retrieval.serve(spark, lexP, ivfP, qs, 3, depth = 5,
      mmr = Some(0.7))
    out.collect()
    // zero corpus scans: every executed file scan is an index segment
    val scans = graft.SparkSpec.executedFileScans(out)
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))),
      "mmrServe read a non-index file")
    // the embeddings fetch is id-pushed (vec_id filter in the scan)
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(f => f.contains("vec_id") && f.contains("In"))),
      "the vector fetch should push vec_id IN (…) into the index scan")
    // hash-identity with the flat form over the same corpus
    val flat = Retrieval.mmrTopK(
      Retrieval.bm25TopK(docsDf, qs, 5), embs, 3, 0.7)
    def mrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(mrows(out) == mrows(flat))
  }

  test("a pinned lexical index version survives vacuum (manifest + " +
       "segments); unpinning releases it; a late pin fails loudly") {
    val p = freshPath()
    LexIndex.build(docsDf, p)                       // v1
    val f = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Segs = f.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.startsWith("seg-")).toSeq
    LexIndex.compact(spark, p)                      // v2 (fresh segment)
    assert(LexIndex.pin(spark, p, "evaluator", 1L) == 1L)
    assert(LexIndex.pins(spark, p) == Map("evaluator" -> 1L))
    LexIndex.vacuum(spark, p, keepVersions = 1)
    assert(LexIndex.versions(spark, p) == Seq(1L, 2L))
    assert(v1Segs.forall(s => f.exists(new org.apache.hadoop.fs.Path(p, s))),
      "vacuum reclaimed a pinned version's segments")
    // the live probe is unaffected throughout
    val qs = queriesDf(1L -> Seq("spark", "join"))
    assert(rows(LexIndex.search(spark, p, qs, 3)) ==
      rows(Retrieval.bm25TopK(docsDf, qs, 3)))
    assert(LexIndex.unpin(spark, p, "evaluator"))
    LexIndex.vacuum(spark, p, keepVersions = 1)
    assert(LexIndex.versions(spark, p) == Seq(2L))
    assert(v1Segs.forall(s => !f.exists(new org.apache.hadoop.fs.Path(p, s))),
      "released version's segments were not reclaimed")
    val e = intercept[RuntimeException](LexIndex.pin(spark, p, "late", 1L))
    assert(e.getMessage.contains("not retained"))
  }

  test("hybridServeLiteral: a fresh embedding + keywords serve with NO " +
       "self-exclusion and zero corpus scans; equals the composed arms") {
    val lexP = freshPath()
    LexIndex.build(docsDf, lexP)
    val ivfP = freshPath()
    val embs = docsFx.map { case (id, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    // the query_id COLLIDES with stored doc 0 on purpose, and the
    // literal embedding IS doc 0's stored vector: the literal regime
    // must still rank doc 0 (an external query has no "self")
    val vec0 = Array.tabulate(4)(j => ((0 * 7 + j * 3) % 10 / 10.0f) - 0.4f)
    val qs = spark.createDataFrame(
        Seq((0L, Seq("spark", "join"), vec0.toSeq)))
      .toDF("query_id", "terms", "embedding")
    val out = Retrieval.serve(spark, lexP, ivfP, qs, 3,
      depth = 5, vector = Some(ServeVector.Literal(2)))
    out.collect()
    val scans = graft.SparkSpec.executedFileScans(out)
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))),
      "hybridServeLiteral read a non-index file")
    // equals the hand-composed arms — the vector arm probed by the
    // literal with excludeSelf = false, so doc 0 is its (cosine 1) top hit
    val m = IvfIndex.readManifestFull(spark, ivfP)
    val vec = IvfIndex.searchWith(spark, ivfP, m,
        qs.select(col("query_id").as("vec_id"), col("embedding")), 5, 2,
        IvfScoring.Exact, None, excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    assert(vec.collect().map(_.getLong(1)).contains(0L),
      "the literal arm self-excluded a legitimate hit")
    val lex = LexIndex.search(spark, lexP, qs.select("query_id", "terms"), 5)
      .select("query_id", "doc_id", "rank")
    assert(rows(out) == rows(Retrieval.rrfFuse(lex, vec, 3)))
  }

  test("hybridServe's query vectors flow as a FRAME (the fetch scan sits " +
       "in the probe's own plan) and a missing id still fails loudly") {
    val lexP = freshPath()
    LexIndex.build(docsDf, lexP)
    val ivfP = freshPath()
    val embs = docsFx.map { case (id, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    val qs = queriesDf(0L -> Seq("spark", "join"))
    val out = Retrieval.serve(spark, lexP, ivfP, qs, 3,
      depth = 5, vector = Some(ServeVector.Stored(1)))
    out.collect()
    // TWO scans of the vector index in ONE executed plan — the id-pushed
    // query-vector fetch and the cell-pruned candidate probe. The old
    // driver-side path collected the vectors into a LocalRelation, which
    // left exactly one. The fetch scan carries the pushed vec_id filter.
    val ivfScans = graft.SparkSpec.executedFileScans(out).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(ivfP)))
    assert(ivfScans.size >= 2,
      s"expected fetch + probe scans of the vector index, got ${ivfScans.size}")
    // one id folds isin → EqualTo; either form must reach the scan
    assert(ivfScans.exists(_.metadata.get("PushedFilters")
      .exists(f => f.contains("vec_id") &&
        (f.contains("In(") || f.contains("EqualTo")))),
      "query-vector fetch lost the pushed vec_id filter")
    val e = intercept[IllegalArgumentException] {
      Retrieval.serve(spark, lexP, ivfP, queriesDf(99L -> Seq("spark")), 3,
        depth = 5, vector = Some(ServeVector.Stored(1))).collect()
    }
    assert(e.getMessage.contains("not stored"))
  }

  test("compact folds appends into one segment, content-invariant; " +
       "the probe then reads ≤ probed buckets from the folded segment only") {
    val p = freshPath()
    val thirds = docsFx.grouped(3).toSeq
    LexIndex.build(thirds.head.toDF("doc_id", "text"), p, buckets = 16)
    thirds.tail.foreach(b => LexIndex.append(b.toDF("doc_id", "text"), p))
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("scan"))
    val before = rows(LexIndex.search(spark, p, qs, 5))
    val mBefore = LexIndex.readManifest(spark, p)
    assert(mBefore.segments.size == 3)
    LexIndex.compact(spark, p)
    val m = LexIndex.readManifest(spark, p)
    assert(m.segments.size == 1)
    assert((m.nDocs, m.sumDl, m.buckets) ==
      (mBefore.nDocs, mBefore.sumDl, mBefore.buckets))
    val res = LexIndex.search(spark, p, qs, 5)
    assert(rows(res) == before)
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty)
    // every index scan is rooted in the ONE folded segment
    assert(scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains(f"seg-${m.version}%09d"))),
      "post-compact probe read a superseded segment")
    // per scan (the mergeable-df regime re-reads the pruned postings):
    // each is bounded by the probed buckets
    val probedBuckets = Seq("spark", "join", "scan")
      .map(LexIndex.termBucket(_, 16)).distinct.size
    scans.foreach { s =>
      val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(0L)
      assert(parts <= probedBuckets,
        s"a post-compact scan read $parts partitions for $probedBuckets buckets")
    }
  }

  test("vacuum reclaims superseded segments and crashed-appender orphans; " +
       "the probe survives") {
    val p = freshPath()
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p, buckets = 16)
    LexIndex.append(rest.toDF("doc_id", "text"), p)
    // a crashed appender's orphan: written, never published
    val root = new org.apache.hadoop.fs.Path(p)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(root, "seg-deadbeef/tb=0"))
    val qs = queriesDf(1L -> Seq("spark", "window"))
    val before = rows(LexIndex.search(spark, p, qs, 5))
    LexIndex.compact(spark, p)
    val removed = LexIndex.vacuum(spark, p, keepVersions = 1)
    assert(removed >= 3, s"expected ≥3 reclaimed entries, got $removed")
    val left = f.listStatus(root).map(_.getPath.getName).toSet
    val m = LexIndex.readManifest(spark, p)
    assert(!left.contains("seg-deadbeef"))
    assert(left.filter(_.startsWith("seg-")) == m.segments.toSet)
    assert(left.count(_.startsWith("lex-manifest-")) == 1)
    assert(rows(LexIndex.search(spark, p, qs, 5)) == before)
  }

  test("deleteByKey erases documents from the postings: probes never " +
       "return them, stats adjust exactly, scores equal a flat scan of " +
       "the survivors; idempotent") {
    val p = freshPath()
    LexIndex.build(docsDf, p, buckets = 16)
    val v = LexIndex.deleteByKey(spark, p, Seq(0L, 4L))
    assert(v == 2L)
    val m = LexIndex.readManifest(spark, p)
    // erase = skip entries on the old segment + an erase segment
    assert(m.entries.exists(_.skip.nonEmpty))
    val survivors = docsFx.filterNot(d => d._1 == 0L || d._1 == 4L)
    val survDf = survivors.toDF("doc_id", "text")
    assert(m.nDocs == survivors.size.toLong)
    assert(m.sumDl == survivors.map(_._2.split("\\s+").length.toLong).sum)
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("fast", "table"))
    val got = rows(LexIndex.search(spark, p, qs, 5))
    assert(got == rows(Retrieval.bm25TopK(survDf, qs, 5)))
    assert(!got.exists(r => r._2 == 0L || r._2 == 4L))
    assert(LexIndex.readPostings(spark, p)
      .filter(col("doc_id").isin(0L, 4L)).count() == 0)
    // erasing already-absent docs publishes nothing
    assert(LexIndex.deleteByKey(spark, p, Seq(0L)) == v)
    // physical completion: vacuum reclaims the skipped bucket dirs
    LexIndex.vacuum(spark, p, keepVersions = 1)
    assert(rows(LexIndex.search(spark, p, qs, 5)) == got)
  }

  private val docsAttrFx = docsFx.map { case (id, t) =>
    (id, t, if (id % 2 == 0) "en" else "fr") }
  private def docsAttrDf = docsAttrFx.toDF("doc_id", "text", "lang")

  test("deleteWhere sweeps an attribute slice; NULL-attribute rows survive") {
    val p = freshPath()
    val withNull = docsAttrDf.withColumn("lang",
      when(col("doc_id") === 5L, lit(null)).otherwise(col("lang")))
    LexIndex.build(withNull, p, buckets = 16, attrs = Seq("lang"))
    LexIndex.deleteWhere(spark, p, col("lang") === "fr")
    val leftIds = LexIndex.readPostings(spark, p)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // fr docs (1, 3) erased; doc 5's NULL lang must NOT be swept
    assert(leftIds == Set(0L, 2L, 4L, 5L, 6L))
    val m = LexIndex.readManifest(spark, p)
    assert(m.nDocs == 5L)
  }

  test("attribute-filtered probe: eligibility rides the pruned candidate " +
       "rows (no extra scan or exchange), exactly k matching docs, " +
       "score-identical to the filtered flat scan") {
    val p = freshPath()
    LexIndex.build(docsAttrDf, p, buckets = 16, attrs = Seq("lang"))
    val qs = queriesDf(1L -> Seq("spark", "join", "table"))
    val res = LexIndex.search(spark, p, qs, 3, pred = Some(col("lang") === "en"))
    val got = rows(res)
    assert(got == rows(Retrieval.bm25TopK(docsAttrDf, qs, 3,
      pred = Some(col("lang") === "en"))))
    assert(got.nonEmpty && got.forall(r => r._2 % 2 == 0), s"non-en doc ranked: $got")
    // scores must be the UNFILTERED corpus scoring function (full df/N):
    // every returned (doc, score) appears in the unfiltered ranking too
    val unfiltered = rows(LexIndex.search(spark, p, qs, 7))
    assert(got.forall(r => unfiltered.exists(u => u._2 == r._2 && u._4 == r._4)))
    // the filter adds NOTHING to the plan's weight: same scan count and
    // same exchange count as the unfiltered probe (the predicate is a
    // projected column on rows the probe reads anyway — a pushed scan
    // filter would be WRONG here, shrinking df to the slice)
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      (graft.SparkSpec.executedFileScans(df).size,
       "(?<!Broadcast)Exchange[^\\n]*".r.findAllIn(plan)
         .map(_.replaceAll("#\\d+", "#?")).toSet.size)
    }
    val unf = LexIndex.search(spark, p, qs, 3)
    unf.collect(); res.collect()
    assert(shape(res) == shape(unf),
      s"filtered probe plan grew: ${shape(res)} vs unfiltered ${shape(unf)}")
  }

  test("buildFromLog + syncFromLog tracks a manifested corpus; synced ≡ " +
       "direct appends; re-sync and sync-after-compact are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lexsync").toString
    val (logPath, idxPath, twinPath) = (s"$dir/log", s"$dir/idx", s"$dir/twin")
    def withTs(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").withColumn("ts", col("doc_id").cast("timestamp"))
    val (b1, b2) = docsFx.partition(_._1 < 4)
    ManifestedLog.append(withTs(b1), logPath, dedupKey = Some("doc_id"))
    LexIndex.buildFromLog(spark, logPath, idxPath, buckets = 16)
    assert(LexIndex.syncedVersion(spark, idxPath, logPath).contains(1L))
    ManifestedLog.append(withTs(b2), logPath, dedupKey = Some("doc_id"))
    val (to, _) = LexIndex.syncFromLog(spark, logPath, idxPath)
    assert(to == 2L)
    LexIndex.build(b1.toDF("doc_id", "text"), twinPath, buckets = 16)
    LexIndex.append(b2.toDF("doc_id", "text"), twinPath)
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("scan", "batch"))
    assert(rows(LexIndex.search(spark, idxPath, qs, 5)) ==
      rows(LexIndex.search(spark, twinPath, qs, 5)))
    val m1 = LexIndex.readManifest(spark, idxPath)
    // re-delivered sync: pure no-op
    val (to2, v2) = LexIndex.syncFromLog(spark, logPath, idxPath)
    assert(to2 == 2L && v2 == m1.version)
    assert(LexIndex.readManifest(spark, idxPath).segments == m1.segments)
    // compact folds the sync-tagged segment away — the cursor must
    // survive in the base file or the next sync duplicates the delta
    LexIndex.compact(spark, idxPath)
    assert(LexIndex.syncedVersion(spark, idxPath, logPath).contains(2L))
    val (to3, v3) = LexIndex.syncFromLog(spark, logPath, idxPath)
    assert(to3 == 2L && v3 == m1.version + 1)
    assert(LexIndex.readManifest(spark, idxPath).nDocs == docsFx.size.toLong)
  }

  test("tagged appends are idempotent (exactly-once ingest content)") {
    val p = freshPath()
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p, buckets = 16)
    val v1 = LexIndex.append(rest.toDF("doc_id", "text"), p, batchTag = Some("7"))
    // re-delivery of the same batch tag: no new version, no new segment
    val v2 = LexIndex.append(rest.toDF("doc_id", "text"), p, batchTag = Some("7"))
    assert(v1 == v2)
    val m = LexIndex.readManifest(spark, p)
    assert(m.segments.size == 2 && m.nDocs == docsFx.size.toLong)
  }

  test("auto-bucket sizing: the bucket count tracks √vocabulary and is " +
       "recorded in the manifest") {
    val small = freshPath()
    LexIndex.build(docsDf, small) // ~12 distinct terms → the 16 floor
    assert(LexIndex.readManifest(spark, small).buckets == 16)
    val big = freshPath()
    // ~100× the vocabulary: 1600 distinct synthetic terms
    val wide = (0 until 400).map(i =>
      (i.toLong, (0 until 4).map(j => s"term${(i * 4 + j) % 1600}").mkString(" ")))
      .toDF("doc_id", "text")
    LexIndex.build(wide, big)
    val m = LexIndex.readManifest(spark, big)
    assert(m.buckets == LexIndex.autoBuckets(1600) && m.buckets >= 40,
      s"expected √1600-grade spread, got ${m.buckets}")
  }

  test("zero-token documents: N excludes them on both the flat scan and " +
       "the index, keeping scores engine-identical") {
    val p = freshPath()
    val withEmpty = (docsFx :+ (99L, "   ")).toDF("doc_id", "text")
    LexIndex.build(withEmpty, p, buckets = 16)
    val m = LexIndex.readManifest(spark, p)
    assert(m.nDocs == docsFx.size.toLong) // the whitespace-only doc is not counted
    val qs = queriesDf(1L -> Seq("spark", "join"))
    assert(rows(LexIndex.search(spark, p, qs, 5)) ==
      rows(Retrieval.bm25TopK(withEmpty, qs, 5)))
  }

  test("hybridServe's vector fetch is batched: Spark job count is " +
       "constant in the query-batch size") {
    val lexP = freshPath()
    LexIndex.build(docsDf, lexP, buckets = 16)
    val ivfP = freshPath()
    val embs = docsFx.map { case (id, _) =>
      (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f)) }
      .toDF("vec_id", "embedding")
    IvfIndex.build(embs, ivfP, cells = 2)
    val terms = Seq(Seq("spark", "join"), Seq("table", "scan"),
      Seq("hash", "merge"), Seq("window", "slow"), Seq("fast", "batch"),
      Seq("spark", "table"))
    def serve(n: Int) = countJobs {
      Retrieval.serve(spark, lexP, ivfP,
        queriesDf((0 until n).map(i => i.toLong -> terms(i)): _*),
        3, depth = 5, vector = Some(ServeVector.Stored(1))).collect()
    }
    val j1 = serve(1)
    val j6 = serve(6)
    assert(j6 <= j1 + 1,
      s"hybridServe jobs grew with the batch: $j1 jobs at 1 query, $j6 at 6")
  }

  test("every serving shape reads only index files, and its Spark job " +
       "count is constant in the query-batch size") {
    // one fixture build for every shape: attribute-carrying lexical and
    // IVF indexes (the filtered shape pre-filters both arms on `lang`)
    // and a fielded lexical index
    val (lexP, lexFP, ivfP) = (freshPath(), freshPath(), freshPath())
    LexIndex.build(docsAttrDf, lexP, buckets = 16, attrs = Seq("lang"))
    LexIndex.buildFielded(fieldedDf, lexFP, fields = Seq("title", "text"),
      buckets = 16)
    IvfIndex.build(docsAttrFx.map { case (id, _, lang) =>
        (id, Array.tabulate(4)(j => ((id * 7 + j * 3) % 10 / 10.0f) - 0.4f),
          lang) }.toDF("vec_id", "embedding", "lang"),
      ivfP, cells = 2, attrs = Seq("lang"))
    val terms = Seq(Seq("spark", "join"), Seq("table", "scan"),
      Seq("hash", "merge"), Seq("window", "slow"), Seq("fast", "batch"),
      Seq("spark", "table"))
    // by-id queries name stored vec_ids; literal ones carry fresh vectors
    def byId(n: Int) =
      queriesDf((0 until n).map(i => i.toLong -> terms(i)): _*)
    def literal(n: Int) = spark.createDataFrame((0 until n).map(i =>
        (-1L - i, terms(i), Seq.tabulate(4)(j => (i * 3 + j * 5) % 7 / 7.0f - 0.4f))))
      .toDF("query_id", "terms", "embedding")
    val (stored, lit) = (Some(ServeVector.Stored(1)), Some(ServeVector.Literal(1)))
    val (fielded, mmr) = (LexQuery(scoring = LexQuery.Bm25F(FW)), Some(0.7))
    val shapes: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "by-id fuse" -> (n =>
        Retrieval.serve(spark, lexP, ivfP, byId(n), 3, 5, vector = stored)),
      "literal fuse" -> (n =>
        Retrieval.serve(spark, lexP, ivfP, literal(n), 3, 5, vector = lit)),
      "fielded by-id fuse" -> (n =>
        Retrieval.serve(spark, lexFP, ivfP, byId(n), 3, 5, fielded, stored)),
      "lexical MMR" -> (n =>
        Retrieval.serve(spark, lexP, ivfP, byId(n), 3, 5, mmr = mmr)),
      "by-id MMR" -> (n => Retrieval.serve(spark, lexP, ivfP, byId(n), 3, 5,
        vector = stored, mmr = mmr)),
      "literal MMR" -> (n => Retrieval.serve(spark, lexP, ivfP, literal(n),
        3, 5, vector = lit, mmr = mmr)),
      "filtered by-id fuse" -> (n => Retrieval.serve(spark, lexP, ivfP,
        byId(n), 3, 5, vector = stored, pred = Some(col("lang") === "en"))))
    for ((shape, serve) <- shapes) {
      val j1 = countJobs(serve(1).collect())
      // built inside the count: a serve runs its eager jobs while building
      var out: org.apache.spark.sql.DataFrame = null
      val j6 = countJobs { out = serve(6); out.collect() }
      val scans = graft.SparkSpec.executedFileScans(out)
      assert(scans.nonEmpty && scans.forall(_.relation.location.rootPaths
        .forall(_.toString.contains("/seg-"))), s"$shape read a non-index file")
      info(s"$shape: $j1 jobs at 1 query, $j6 at 6")
      assert(j6 <= j1 + 1,
        s"$shape jobs grew with the batch: $j1 jobs at 1 query, $j6 at 6")
    }
  }

  test("bucketStats: footer totals equal a full-scan group-by; " +
       "erase-skipped buckets are excluded like every reader excludes them") {
    val p = freshPath()
    LexIndex.build(docsDf, p, buckets = 16)
    LexIndex.append(Seq((100L, "spark zebra umbrella")).toDF("doc_id", "text"), p)
    def footer() = LexIndex.bucketStats(spark, p).select("tb", "n_rows")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def scanned() = LexIndex.readPostings(spark, p).groupBy("tb").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(footer() == scanned() && footer().nonEmpty)
    // after an erase, the skipped buckets' superseded bytes must not
    // count — stats still equal what a reader sees
    LexIndex.deleteByKey(spark, p, Seq(0L, 100L))
    assert(footer() == scanned())
    assert(footer().values.sum == LexIndex.readPostings(spark, p).count())
  }

  // ------------------------------------------------- positional / phrase

  private def phrasesDf(qs: (Long, Seq[String])*) =
    spark.createDataFrame(qs).toDF("query_id", "phrase")

  test("phrase probe ≡ flat phrase scan, including duplicate-term and " +
       "single-term phrases") {
    val p = freshPath()
    LexIndex.build(docsDf, p, positions = true)
    val ph = phrasesDf(
      1L -> Seq("spark", "join"),      // doc 0 only (adjacent run)
      2L -> Seq("spark", "spark"),     // duplicate term: doc 2 only
      3L -> Seq("join"),               // single-term: presence
      4L -> Seq("window", "scan", "scan")) // 3-gram, doc 6
    assert(rows(LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Phrase()))) ==
      rows(Retrieval.bm25TopK(docsDf, ph, 5, LexQuery(LexQuery.Phrase()))))
    assert(LexIndex.search(spark, p, ph, 5,
      LexQuery(LexQuery.Phrase())).count() > 0)
  }

  test("phrase adjacency: all terms present but never adjacent is NOT " +
       "a result") {
    val p = freshPath()
    LexIndex.build(docsDf, p, positions = true)
    // doc 4 "fast fast join spark table" holds join AND fast but never
    // the run "join fast"; doc 0 "spark join fast spark" holds it
    val ph = phrasesDf(1L -> Seq("join", "fast"))
    val hits = LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Phrase()))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(0L) && !hits.contains(4L))
    val flat = Retrieval.bm25TopK(docsDf, ph, 5, LexQuery(LexQuery.Phrase()))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat == hits)
  }

  test("phrase probe stays bucket-pruned with the term filter pushed, " +
       "and appends carry positions") {
    val p = freshPath()
    val (half, rest) = docsFx.partition(_._1 % 2 == 0)
    LexIndex.build(half.toDF("doc_id", "text"), p, buckets = 16,
      positions = true)
    LexIndex.append(rest.toDF("doc_id", "text"), p)
    val ph = phrasesDf(1L -> Seq("spark", "join"))
    val res = LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Phrase()))
    res.collect()
    assert(rows(res) == rows(Retrieval.bm25TopK(docsDf, ph, 5,
      LexQuery(LexQuery.Phrase()))))
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty, "no index scan in the executed plan")
    val probedBuckets = Seq("spark", "join")
      .map(LexIndex.termBucket(_, 16)).distinct.size
    scans.foreach { s =>
      val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${s.metrics.keys}"))
      // per-scan: each branch reads at most the probed buckets of its
      // segment (two segments → two branches per arm)
      assert(parts <= probedBuckets,
        s"phrase probe read $parts bucket partitions for $probedBuckets")
    }
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(f => f.contains("term") && f.contains("In"))),
      "term IN (…) not pushed into the phrase probe's postings scan")
  }

  test("positions cost nothing on non-phrase probes (column-pruned), " +
       "and only the adjacency branch reads them on phrase probes") {
    val p = freshPath()
    LexIndex.build(docsDf, p, positions = true)
    val qs = queriesDf(1L -> Seq("spark", "join"))
    val res = LexIndex.search(spark, p, qs, 3)
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty)
    assert(scans.forall(!_.requiredSchema.fieldNames.contains("positions")),
      "a non-phrase probe read the positions column")
    // the positional probe still scores identically to the flat scan
    assert(rows(res) == rows(Retrieval.bm25TopK(docsDf, qs, 3)))
    // phrase probe: scoring branch column-pruned too — positions only
    // in the adjacency branch
    val phr = LexIndex.search(spark, p,
      phrasesDf(1L -> Seq("spark", "join")), 3, LexQuery(LexQuery.Phrase()))
    phr.collect()
    val phrScans = graft.SparkSpec.executedFileScans(phr)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(phrScans.exists(_.requiredSchema.fieldNames.contains("positions")))
    assert(phrScans.exists(s =>
      !s.requiredSchema.fieldNames.contains("positions") &&
        s.requiredSchema.fieldNames.contains("tf")),
      "the scoring branch should not read positions")
  }

  private val fieldedFx = Seq(
    (0L, "spark", "join table join join"),
    (1L, "merge", "spark spark spark join"),
    (2L, "spark fast", "spark join fast"),
    (3L, "table", "slow scan window"),
    (4L, "", "fast fast join"),
    // null title, real body — must index as dl 0 / no title postings,
    // not corrupt the per-field sums with size(null) = -1
    (5L, null.asInstanceOf[String], "spark scan join"))
  private def fieldedDf = fieldedFx.toDF("doc_id", "title", "text")
  private val FW = Seq("title" -> 2.0, "text" -> 1.0)

  test("fielded probe ≡ flat BM25F scan at any probe-time weighting; " +
       "append ≡ rebuild; plain probes on a fielded index fail loudly") {
    val p = freshPath()
    LexIndex.buildFielded(fieldedDf, p, fields = Seq("title", "text"))
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("table"))
    for (ws <- Seq(FW, Seq("title" -> 1.0, "text" -> 1.0),
                   Seq("title" -> 5.0, "text" -> 0.5))) {
      assert(rows(LexIndex.search(spark, p, qs, 5,
        LexQuery(scoring = LexQuery.Bm25F(ws)))) ==
        rows(Retrieval.bm25TopK(fieldedDf, qs, 5,
          LexQuery(scoring = LexQuery.Bm25F(ws)))),
        s"weighting $ws")
    }
    // manifest: per-field exact sums, N counts any-field docs
    val m = LexIndex.readManifest(spark, p)
    assert(m.fields.contains(Seq("title", "text")))
    def dlOf(s: String) =
      if (s == null) 0L else s.split("\\s+").count(_.nonEmpty).toLong
    assert(m.fieldSums == Seq(
      fieldedFx.map(t => dlOf(t._2)).sum,
      fieldedFx.map(t => dlOf(t._3)).sum))
    assert(m.nDocs == 6L)
    // append ≡ rebuild (stats summed per field, content identical)
    val (p1, p2) = (freshPath(), freshPath())
    val (half, rest) = fieldedFx.partition(_._1 % 2 == 0)
    LexIndex.buildFielded(half.toDF("doc_id", "title", "text"), p1,
      fields = Seq("title", "text"), buckets = 16)
    LexIndex.append(rest.toDF("doc_id", "title", "text"), p1)
    LexIndex.buildFielded(fieldedDf, p2, fields = Seq("title", "text"),
      buckets = 16)
    val (m1, m2) = (LexIndex.readManifest(spark, p1),
      LexIndex.readManifest(spark, p2))
    assert(m1.fieldSums == m2.fieldSums && m1.nDocs == m2.nDocs)
    assert(rows(LexIndex.search(spark, p1, qs, 5,
      LexQuery(scoring = LexQuery.Bm25F(FW)))) ==
      rows(LexIndex.search(spark, p2, qs, 5,
        LexQuery(scoring = LexQuery.Bm25F(FW)))))
    // guards: plain probe on fielded, fielded probe on plain, bad names
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, qs, 5)
    }.getMessage.contains("FIELDED"))
    val plain = freshPath()
    LexIndex.build(docsDf, plain)
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, plain, qs, 5, LexQuery(scoring = LexQuery.Bm25F(FW)))
    }.getMessage.contains("fielded"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, qs, 5,
        LexQuery(scoring = LexQuery.Bm25F(Seq("text" -> 1.0))))
    }.getMessage.contains("fields in order"))
  }

  test("fielded probe stays bucket-pruned with df from the sidecar " +
       "statistics — one postings read, no corpus scan") {
    val p = freshPath()
    LexIndex.buildFielded(fieldedDf, p, fields = Seq("title", "text"),
      buckets = 16)
    val qs = queriesDf(1L -> Seq("spark", "join"))
    val res = LexIndex.search(spark, p, qs, 3,
      LexQuery(scoring = LexQuery.Bm25F(FW)))
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
    assert(scans.nonEmpty && scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))), "fielded probe read non-index files")
    def isDfScan(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.rootPaths.exists(_.toString.contains("/_df"))
    assert(scans.exists(isDfScan),
      "fielded probe computed df without the sidecar statistics")
    val postings = scans.filterNot(isDfScan)
    assert(postings.nonEmpty &&
      postings.forall(_.requiredSchema.fieldNames.contains("tf")),
      "fielded probe re-read the postings (term-only projection) for df")
    val probedBuckets = Seq("spark", "join")
      .map(LexIndex.termBucket(_, 16)).distinct.size
    postings.foreach { s =>
      val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${s.metrics.keys}"))
      assert(parts <= probedBuckets,
        s"fielded probe read $parts bucket partitions for $probedBuckets")
    }
  }

  test("searchFieldedFull (Robertson–Zaragoza) ≡ flat full scan at any " +
       "probe-time (w, b, k1) tuning over the SAME index searchFielded " +
       "probes; guards fail loudly") {
    val p = freshPath()
    LexIndex.buildFielded(fieldedDf, p, fields = Seq("title", "text"))
    val qs = queriesDf(1L -> Seq("spark", "join"), 2L -> Seq("table"))
    for (ps <- Seq(
        Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75)),
        Seq(("title", 1.0, 0.0), ("text", 1.0, 1.0)),
        Seq(("title", 5.0, 0.75), ("text", 0.5, 0.3)))) {
      assert(rows(LexIndex.search(spark, p, qs, 5,
        LexQuery(scoring = LexQuery.Bm25FFull(ps)))) ==
        rows(Retrieval.bm25TopK(fieldedDf, qs, 5,
          LexQuery(scoring = LexQuery.Bm25FFull(ps)))),
        s"params $ps")
    }
    // k1 is probe-time too
    assert(rows(LexIndex.search(spark, p, qs, 5,
      LexQuery(scoring =
        LexQuery.Bm25FFull(Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75)), 0.4)))) ==
      rows(Retrieval.bm25TopK(fieldedDf, qs, 5,
        LexQuery(scoring =
          LexQuery.Bm25FFull(Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75)), 0.4)))))
    // and the SAME index still serves the simplified form (x130's probe)
    assert(rows(LexIndex.search(spark, p, qs, 5,
      LexQuery(scoring = LexQuery.Bm25F(FW)))) ==
      rows(Retrieval.bm25TopK(fieldedDf, qs, 5,
        LexQuery(scoring = LexQuery.Bm25F(FW)))))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, qs, 5,
        LexQuery(scoring =
          LexQuery.Bm25FFull(Seq(("text", 1.0, 0.75), ("title", 2.0, 0.3)))))
    }.getMessage.contains("fields in order"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, qs, 5,
        LexQuery(scoring =
          LexQuery.Bm25FFull(Seq(("title", 2.0, 1.5), ("text", 1.0, 0.75)))))
    }.getMessage.contains("b must be in [0,1]"))
    val plain = freshPath()
    LexIndex.build(docsDf, plain)
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, plain, qs, 5,
        LexQuery(scoring =
          LexQuery.Bm25FFull(Seq(("title", 2.0, 0.3), ("text", 1.0, 0.75)))))
    }.getMessage.contains("fielded"))
  }

  test("fielded PHRASE/SLOPPY probes ≡ the flat fielded scans (within-" +
       "field streams); slop 0 ≡ exact; append ≡ rebuild; guards both " +
       "ways; zero corpus scans with positions column-pruned off scoring") {
    val p = freshPath()
    LexIndex.buildFielded(fieldedDf, p, fields = Seq("title", "text"),
      buckets = 16, positions = true)
    def phrases(qs: (Long, Seq[String])*) =
      spark.createDataFrame(qs).toDF("query_id", "phrase")
    val ph = phrases(
      1L -> Seq("spark", "fast"),   // doc 2's TITLE adjacent
      2L -> Seq("spark", "join"),   // docs 1/2/5 body runs
      3L -> Seq("join",  "join"))   // doc 0 body duplicate run
    for (field <- Seq("title", "text")) {
      assert(rows(LexIndex.search(spark, p, ph, 5,
        LexQuery(LexQuery.Phrase(Some(field)), LexQuery.Bm25F(FW)))) ==
        rows(Retrieval.bm25TopK(fieldedDf, ph, 5,
          LexQuery(LexQuery.Phrase(Some(field)), LexQuery.Bm25F(FW)))),
        s"exact field $field")
      for (sl <- Seq(0, 2))
        assert(rows(LexIndex.search(spark, p, ph, 5,
          LexQuery(LexQuery.Sloppy(sl, Some(field)), LexQuery.Bm25F(FW)))) ==
          rows(Retrieval.bm25TopK(fieldedDf, ph, 5,
            LexQuery(LexQuery.Sloppy(sl, Some(field)), LexQuery.Bm25F(FW)))),
          s"sloppy field $field slop $sl")
    }
    // slop 0 ≡ the exact fielded phrase probe, row for row
    assert(rows(LexIndex.search(spark, p, ph, 5,
      LexQuery(LexQuery.Sloppy(0, Some("text")), LexQuery.Bm25F(FW)))) ==
      rows(LexIndex.search(spark, p, ph, 5,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))))
    // the probe genuinely discriminates by field: "spark fast" sits in
    // doc 2's TITLE stream only (its body has join between)
    assert(LexIndex.search(spark, p,
        phrases(1L -> Seq("spark", "fast")), 5,
          LexQuery(LexQuery.Phrase(Some("title")), LexQuery.Bm25F(FW)))
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
    // append ≡ rebuild on the positional fielded layout
    val (p1, p2) = (freshPath(), freshPath())
    val (half, rest) = fieldedFx.partition(_._1 % 2 == 0)
    LexIndex.buildFielded(half.toDF("doc_id", "title", "text"), p1,
      fields = Seq("title", "text"), buckets = 16, positions = true)
    LexIndex.append(rest.toDF("doc_id", "title", "text"), p1)
    LexIndex.buildFielded(fieldedDf, p2,
      fields = Seq("title", "text"), buckets = 16, positions = true)
    assert(rows(LexIndex.search(spark, p1, ph, 5,
      LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))) ==
      rows(LexIndex.search(spark, p2, ph, 5,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))))
    // zero corpus scans; adjacency reads positions, scoring does not
    val res = LexIndex.search(spark, p,
      phrases(1L -> Seq("spark", "join")), 3,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))
    res.collect()
    val scans = graft.SparkSpec.executedFileScans(res)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/seg-")))
    assert(scans.nonEmpty && scans.exists(
      _.requiredSchema.fieldNames.contains("positions")))
    assert(scans.exists(s =>
      !s.requiredSchema.fieldNames.contains("positions") &&
        s.requiredSchema.fieldNames.contains("tf")),
      "the scoring branch should not read positions")
    assert(graft.SparkSpec.executedFileScans(res).forall(
      _.relation.location.rootPaths.forall(p0 =>
        p0.toString.contains("/seg-") || p0.toString.contains("/_df"))),
      "fielded phrase probe read non-index files")
    // every branch stays bucket-pruned: no scan reads more partitions
    // than the spoken terms' buckets (adjacency, scoring AND df alike)
    val probedBuckets = Seq("spark", "join")
      .map(LexIndex.termBucket(_, 16)).distinct.size
    scans.foreach { sc =>
      val parts = sc.metrics.get("numPartitions").map(_.value).getOrElse(
        sys.error(s"scan has no partition metric: ${sc.metrics.keys}"))
      assert(parts <= probedBuckets,
        s"a fielded phrase scan read $parts bucket partitions for " +
          s"$probedBuckets probed buckets")
    }
    // guards: plain phrase probes reject the fielded layout, the
    // fielded probe rejects non-positional / plain indexes, proximity
    // rejects fielded, bad field name fails loudly
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Phrase()))
    }.getMessage.contains("FIELDED"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Sloppy(1)))
    }.getMessage.contains("FIELDED"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p,
        queriesDf(1L -> Seq("spark", "join")), 5, LexQuery(LexQuery.Window(4)))
    }.getMessage.contains("FIELDED"))
    val noPos = freshPath()
    LexIndex.buildFielded(fieldedDf, noPos, fields = Seq("title", "text"),
      buckets = 16)
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, noPos, ph, 5,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))
    }.getMessage.contains("positional"))
    val plain = freshPath()
    LexIndex.build(docsDf, plain, positions = true)
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, plain, ph, 5,
        LexQuery(LexQuery.Phrase(Some("text")), LexQuery.Bm25F(FW)))
    }.getMessage.contains("fielded"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, ph, 5,
        LexQuery(LexQuery.Phrase(Some("nope")), LexQuery.Bm25F(FW)))
    }.getMessage.contains("phrase field"))
  }

  test("fielded erase subtracts per-field stats exactly; compact is " +
       "content-invariant; post-erase probe ≡ flat scan of survivors") {
    val p = freshPath()
    LexIndex.buildFielded(fieldedDf, p, fields = Seq("title", "text"),
      buckets = 16)
    LexIndex.deleteByKey(spark, p, Seq(1L, 4L))
    val m = LexIndex.readManifest(spark, p)
    val surv = fieldedFx.filterNot(d => d._1 == 1L || d._1 == 4L)
    assert(m.nDocs == surv.size.toLong)
    def dlOf(s: String) =
      if (s == null) 0L else s.split("\\s+").count(_.nonEmpty).toLong
    assert(m.fieldSums == Seq(
      surv.map(t => dlOf(t._2)).sum,
      surv.map(t => dlOf(t._3)).sum))
    val qs = queriesDf(1L -> Seq("spark", "join"))
    val expected = rows(Retrieval.bm25TopK(
      surv.toDF("doc_id", "title", "text"), qs, 5,
        LexQuery(scoring = LexQuery.Bm25F(FW))))
    assert(rows(LexIndex.search(spark, p, qs, 5,
      LexQuery(scoring = LexQuery.Bm25F(FW)))) == expected)
    LexIndex.compact(spark, p)
    assert(rows(LexIndex.search(spark, p, qs, 5,
      LexQuery(scoring = LexQuery.Bm25F(FW)))) == expected)
  }

  test("sloppy probe ≡ flat sloppy scan; ordered (unlike proximity), " +
       "slop 0 ≡ the exact phrase probe; zero corpus scans") {
    val p = freshPath()
    LexIndex.build(docsDf, p, positions = true)
    val ph = phrasesDf(
      1L -> Seq("spark", "fast"),         // doc 0 in order; doc 4 only reversed
      2L -> Seq("join", "spark", "table"), // doc 4 adjacent 3-gram
      3L -> Seq("join", "join"),          // duplicate: strict chain
      4L -> Seq("window", "batch"))       // doc 6 window@1 … batch@4
    val idx = LexIndex.search(spark, p, ph, 5, LexQuery(LexQuery.Sloppy(2)))
    val flat = Retrieval.bm25TopK(docsDf, ph, 5, LexQuery(LexQuery.Sloppy(2)))
    assert(rows(idx) == rows(flat) && idx.count() > 0)
    // ordered: "spark fast" at slop 2 admits doc 0 (spark@1 → fast@3),
    // not doc 4 (fast only BEFORE spark) — proximity window 3 admits both
    val q1 = idx.filter(col("query_id") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q1 == Set(0L))
    val prox = LexIndex.search(spark, p,
        queriesDf(1L -> Seq("spark", "fast")), 5, LexQuery(LexQuery.Window(3)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prox == Set(0L, 4L))
    // slop 0 is the exact phrase probe, row for row
    val ph0 = phrasesDf(1L -> Seq("spark", "join"), 2L -> Seq("scan", "scan"))
    assert(rows(LexIndex.search(spark, p, ph0, 5, LexQuery(LexQuery.Sloppy(0)))) ==
      rows(LexIndex.search(spark, p, ph0, 5, LexQuery(LexQuery.Phrase()))))
    // zero corpus scans, as every index probe
    idx.collect()
    val scans = graft.SparkSpec.executedFileScans(idx)
    assert(scans.nonEmpty && scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))))
    // a non-positional index fails loudly
    val p2 = freshPath()
    LexIndex.build(docsDf, p2)
    val e = intercept[IllegalArgumentException] {
      LexIndex.search(spark, p2, ph, 5, LexQuery(LexQuery.Sloppy(1)))
    }
    assert(e.getMessage.contains("positions"))
  }

  test("proximity probe ≡ flat proximity scan; sits strictly between " +
       "phrase and bag-of-words") {
    val p = freshPath()
    LexIndex.build(docsDf, p, positions = true)
    // doc 0 "spark join fast spark": spark+fast within 3 (0,2) though
    // never adjacent; doc 4 "fast fast join spark table": within 3 too
    // (fast@1, spark@3); doc 1 has neither term pair
    val qs = spark.createDataFrame(Seq(
        1L -> Seq("spark", "fast"),
        2L -> Seq("join", "table", "slow")))
      .toDF("query_id", "terms")
    val idx = LexIndex.search(spark, p, qs, 5, LexQuery(LexQuery.Window(3)))
    val flat = Retrieval.bm25TopK(docsDf, qs, 5, LexQuery(LexQuery.Window(3)))
    assert(rows(idx) == rows(flat) && idx.count() > 0)
    // q2 "join table slow" within 3: doc 1 "join slow table join join"
    // holds all three in (slow@1? no: join@0 slow@1 table@2) — window 3
    val q2hits = idx.filter(col("query_id") === 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q2hits == Set(1L))
    // proximity(window = dl_max) degenerates to bag-of-words presence;
    // window = 2 on an adjacent pair behaves like the unordered phrase
    val wide = LexIndex.search(spark, p,
      spark.createDataFrame(Seq(1L -> Seq("spark", "fast")))
        .toDF("query_id", "terms"), 7, LexQuery(LexQuery.Window(100)))
    val bagDocs = docsFx.filter { case (_, t) =>
      val toks = t.split(" ").toSet; toks("spark") && toks("fast") }
      .map(_._1).toSet
    assert(wide.select("doc_id").collect().map(_.getLong(0)).toSet == bagDocs)
    // zero corpus scans, as every index probe
    idx.collect()
    val scans = graft.SparkSpec.executedFileScans(idx)
    assert(scans.nonEmpty && scans.forall(_.relation.location.rootPaths
      .forall(_.toString.contains("/seg-"))))
  }

  test("phrase probe on a non-positional index fails loudly; " +
       "maintenance preserves the positional layout") {
    val p = freshPath()
    LexIndex.build(docsDf, p)
    val e = intercept[IllegalArgumentException] {
      LexIndex.search(spark, p, phrasesDf(1L -> Seq("spark")), 3,
        LexQuery(LexQuery.Phrase()))
    }
    assert(e.getMessage.contains("positional"))
    // compact + erase on a positional index keep the layout and the
    // phrase results
    val p2 = freshPath()
    LexIndex.build(docsDf, p2, positions = true)
    val ph = phrasesDf(1L -> Seq("spark", "join"))
    val before = rows(LexIndex.search(spark, p2, ph, 5,
      LexQuery(LexQuery.Phrase())))
    LexIndex.compact(spark, p2)
    assert(LexIndex.readManifest(spark, p2).positional)
    assert(rows(LexIndex.search(spark, p2, ph, 5,
      LexQuery(LexQuery.Phrase()))) == before)
    // erasure adjusts the manifest stats, so scores recompute over the
    // survivors — the pin is probe ≡ flat scan of the surviving corpus
    LexIndex.deleteByKey(spark, p2, Seq(1L))
    assert(rows(LexIndex.search(spark, p2, ph, 5, LexQuery(LexQuery.Phrase()))) ==
      rows(Retrieval.bm25TopK(
        docsFx.filter(_._1 != 1L).toDF("doc_id", "text"), ph, 5,
          LexQuery(LexQuery.Phrase()))))
  }

  test("a racing manifest version fails loudly (atomic publish)") {
    val p = freshPath()
    LexIndex.build(docsDf, p)
    // simulate the loser: a second build targeting the same next version
    // publishes fine (build reads newest version first), so force the
    // collision through a stale manifest write — append's retry covers
    // the benign case; here we just pin newest-wins reads
    val v2 = LexIndex.append(Seq((100L, "spark zebra")).toDF("doc_id", "text"), p)
    assert(v2 == 2L)
    assert(LexIndex.readManifest(spark, p).version == 2L)
    assert(LexIndex.readManifest(spark, p).nDocs == docsFx.size + 1L)
  }

  test("racing untagged appenders both land exactly-once via publish retry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val p = freshPath()
    LexIndex.build(docsDf.filter(col("doc_id") < 3), p)
    val parts = (3 until 7).map(i => docsDf.filter(col("doc_id") === i))
    val futures = parts.map(b => Future(LexIndex.append(b, p)))
    val versions = Await.result(Future.sequence(futures), 5.minutes)
    // every racer published its own version; together they reach v5
    assert(versions.sorted == Seq(2L, 3L, 4L, 5L))
    val m = LexIndex.readManifest(spark, p)
    assert(m.version == 5L && m.segments.size == 5)
    // stats summed exactly: identical to a one-shot build of the corpus
    val whole = freshPath()
    LexIndex.build(docsDf, whole)
    val w = LexIndex.readManifest(spark, whole)
    assert((m.nDocs, m.sumDl) == (w.nDocs, w.sumDl))
    val qs = queriesDf(1L -> Seq("spark", "join", "window", "batch"))
    assert(rows(LexIndex.search(spark, p, qs, 7)) ==
      rows(Retrieval.bm25TopK(docsDf, qs, 7)))
  }

  test("vacuum's orphan-age guard shields a racing appender's staging") {
    import org.apache.hadoop.fs.Path
    val p = freshPath()
    LexIndex.build(docsDf, p)
    val f = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a never-referenced young segment + tmp = an in-flight append
    f.mkdirs(new Path(p, "seg-inflight01"))
    f.create(new Path(p, ".lex-manifest-2-abc.tmp"), true).close()
    assert(LexIndex.vacuum(spark, p, keepVersions = 1,
      orphanMinAgeMs = 3600000L) == 0L)
    assert(f.exists(new Path(p, "seg-inflight01")),
      "orphan-age guard failed to shield an in-flight segment")
    assert(f.exists(new Path(p, ".lex-manifest-2-abc.tmp")))
    // eager default reclaims both
    assert(LexIndex.vacuum(spark, p) == 2L)
    assert(!f.exists(new Path(p, "seg-inflight01")))
    assert(!f.exists(new Path(p, ".lex-manifest-2-abc.tmp")))
    assert(LexIndex.search(spark, p,
      queriesDf(1L -> Seq("spark")), 3).count() == 3L)
  }
}
