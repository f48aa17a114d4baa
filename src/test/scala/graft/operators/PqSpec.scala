package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: deterministic training, argmin encoding, ADC
  * scoring bit-equal to a hand recompute, and the IVF-PQ index serving
  * from codes without ever reading the float vectors. */
class PqSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val M = 8
  private val Ksub = 256
  private val K = 5
  private val Cells = 16
  private val NProbe = 4

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-pq").toString + "/index"

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  test("training is deterministic and shaped m×ksub×subDim") {
    val a = Pq.train(embs, M, Ksub, iters = 2)
    val b = Pq.train(embs, M, Ksub, iters = 2)
    assert(a.m == M && a.ksub == Ksub && a.subDim == 64 / M)
    assert(a.flat.length == M * Ksub)
    assert(a.flat.zip(b.flat).forall { case (x, y) => x.sameElements(y) })
    // refinement moved the seeds (the corpus is not 16 points)
    val seeds = Pq.sliceSeeds(embs, M, Ksub)
    assert(a.flat.zip(seeds.flat).exists { case (x, y) => !x.sameElements(y) })
  }

  test("encoding is the sqrt-L2 argmin with ties to the smaller code") {
    val cb = Pq.train(embs, M, Ksub, iters = 1)
    val rows = Pq.encode(embs.limit(50), cb)
      .select("embedding", "codes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val codes = r.getAs[Array[Byte]](1)
      assert(codes.length == M)
      for (s <- 0 until M) {
        val dists = (0 until Ksub).map { j =>
          val e = cb.flat(s * Ksub + j)
          var acc = 0.0
          for (i <- 0 until cb.subDim) {
            val d = v(s * cb.subDim + i).toDouble - e(i).toDouble
            acc += d * d
          }
          math.sqrt(acc)
        }
        val want = dists.zipWithIndex.minBy { case (d, j) => (d, j) }._2
        assert((codes(s) & 0xff) == want, s"subspace $s")
      }
    }
  }

  test("ADC equals the explicit lookup-table recompute, bit for bit") {
    val cb = Pq.train(embs, M, Ksub)
    val queries = embs.filter(col("vec_id") < 3)
    val got = Pq.adcTopK(queries, embs, cb, K)
    val qVecs = queries.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = Pq.encode(embs, cb).select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    def adc(q: Array[Float], cs: Array[Byte]): Double = {
      def dot(s: Int, j: Int): Double = {
        val e = cb.flat(s * Ksub + j)
        var acc = 0.0
        for (i <- 0 until cb.subDim)
          acc += q(s * cb.subDim + i).toDouble * e(i).toDouble
        acc
      }
      var total = dot(0, cs(0) & 0xff)
      for (s <- 1 until M) total += dot(s, cs(s) & 0xff)
      total
    }
    val rows = got.collect()
    assert(rows.length == 3 * K)
    rows.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(1)
      assert(r.getDouble(3) == adc(qVecs(q), codes(n)),
        s"ADC mismatch for ($q, $n)")
    }
  }

  test("ADC ranking recalls most of the exact top-k on the fixture") {
    val cb = Pq.train(embs, M, Ksub)
    val queries = embs.filter(col("vec_id") < 8)
    val approx = Pq.adcTopK(queries, embs, cb, K).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(queries, embs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"PQ(m=$M, ksub=$Ksub) recall@$K = $recall%.2f")
    assert(recall >= 0.5, f"recall@$K = $recall%.2f — PQ degraded badly")
  }

  test("exact re-rank restores recall; full re-rank IS brute force") {
    val cb = Pq.train(embs, M, Ksub)
    val queries = embs.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(queries, embs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Pq.adcTopKRefined(queries, embs, cb, K, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (refined & exact).size.toDouble / exact.size
    info(f"PQ+rerank50 recall@$K = $recall%.2f")
    assert(recall >= 0.85, f"refined recall@$K = $recall%.2f")
    // rerank >= |corpus| degenerates to the exact formulation, scores and
    // ranks bit-identical (same cosine kernel, same top-k reduction)
    val n = embs.count().toInt
    assert(ranked(Pq.adcTopKRefined(queries, embs, cb, K, rerank = n)) ==
      ranked(Similarity.bruteForceTopK(queries, embs, K)))
  }

  test("the IVF-PQ index at full probe equals flat ADC over the corpus") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, pq = Some(Pq.PqParams(M, Ksub)))
    val cb = IvfIndex.readPq(spark, p).get
    val queries = embs.filter(col("vec_id") < 8)
    val got = ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Adc))
    val want = ranked(Pq.adcTopK(queries, embs, cb, K))
    assert(got == want && got.nonEmpty)
  }

  test("an ADC probe reads only probed cells and never the float vectors") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells, pq = Some(Pq.PqParams(M, Ksub)))
    val oneQuery = embs.filter(col("vec_id") === 3)
    val res = IvfIndex.search(spark, p, oneQuery, K, NProbe, IvfScoring.Adc)
    res.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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
    // column pruning: the data columns materialized by the probe are the
    // id and the m-byte code word — the float vectors stay on disk
    indexScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(!read.contains("embedding"),
        s"ADC probe read the float vectors: $read")
      assert(read == Set("vec_id", "codes"), s"unexpected read schema $read")
    }
  }

  test("appends encode against the FROZEN codebooks; compact preserves") {
    val p = freshPath()
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    // ksub=64: the halved fixture has 250 vectors, fewer than 256 seeds
    IvfIndex.build(half1, p, Cells, pq = Some(Pq.PqParams(M, 64)))
    val cb = IvfIndex.readPq(spark, p).get
    IvfIndex.append(half2, p)
    // codebooks unchanged by the append
    val cb2 = IvfIndex.readPq(spark, p).get
    assert(cb.flat.zip(cb2.flat).forall { case (a, b) => a.sameElements(b) })
    val queries = embs.filter(col("vec_id") < 8)
    // exhaustive probe over the two-segment index == flat ADC with the
    // half1-trained codebooks over the whole corpus
    val got = ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Adc))
    assert(got == ranked(Pq.adcTopK(queries, embs, cb, K)))
    // compaction folds segments without touching codes
    IvfIndex.compact(spark, p)
    assert(ranked(IvfIndex.search(spark, p, queries, K, Cells, IvfScoring.Adc)) == got)
  }

  test("streamed ingest into a PQ index serves ADC bit-identically") {
    import spark.implicits._
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    // batch-built reference
    val p = freshPath()
    IvfIndex.build(half1, p, Cells, pq = Some(Pq.PqParams(M, 64)))
    IvfIndex.append(half2, p)
    // streaming twin over the same bootstrap
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-stream").toString
    val sp = s"$dir/index"
    IvfIndex.build(half1, sp, Cells, pq = Some(Pq.PqParams(M, 64)))
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
      val queries = embs.filter(col("vec_id") < 4)
      val got = ranked(IvfIndex.search(spark, sp, queries, K, NProbe, IvfScoring.Adc))
      assert(got == ranked(IvfIndex.search(spark, p, queries, K, NProbe, IvfScoring.Adc)))
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("searchAdc on a PQ-less index fails loudly") {
    val p = freshPath()
    IvfIndex.build(embs, p, Cells)
    val queries = embs.filter(col("vec_id") < 2)
    val e = intercept[RuntimeException] {
      IvfIndex.search(spark, p, queries, K, NProbe, IvfScoring.Adc)
    }
    assert(e.getMessage.contains("no PQ layer"))
  }
}
