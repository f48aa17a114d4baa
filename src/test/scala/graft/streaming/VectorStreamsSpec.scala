package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.operators.{IvfIndex, IvfScoring, Pq}

/** Streaming query serving ≡ batch probes.
  *
  * A MemoryStream of query vectors probes the persisted index in
  * micro-batches through [[Serving.serve]]; the accumulated
  * output must equal ONE batch [[IvfIndex.search]] (exact or ADC) over
  * the union of all queries (per-query results are independent, so
  * batching boundaries must not show). Restart-replay of a batch must
  * leave the output unchanged (per-batch-directory overwrite
  * idempotence). */
class VectorStreamsSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private val K = 5
  private val NProbe = 4
  private val Cells = 16

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-vstream").toString

  private def stopQuietly(q: StreamingQuery): Unit =
    try q.stop() catch { case _: Exception => () }

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  test("streamed probes equal one batch search over the union of queries") {
    val dir = freshDir()
    val index = s"$dir/index"
    IvfIndex.build(embs, index, cells = Cells)

    val queryRows = embs.filter(col("vec_id") < 9)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Serving.serve(stream.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe)
    }
    try {
      // three uneven micro-batches — boundaries must not show
      stream.addData(queryRows.take(2))
      q.processAllAvailable()
      stream.addData(queryRows.slice(2, 3))
      q.processAllAvailable()
      stream.addData(queryRows.drop(3))
      q.processAllAvailable()
    } finally stopQuietly(q)

    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema))
    val batch = ranked(IvfIndex.search(spark,
      index, embs.filter(col("vec_id") < 9), K, NProbe))
    assert(streamed == batch)
  }

  test("PQ layer streams too, and batch replay is idempotent") {
    val dir = freshDir()
    val index = s"$dir/index"
    IvfIndex.build(embs, index, cells = Cells,
      pq = Some(Pq.PqParams(8, 256)))

    val queryRows = embs.filter(col("vec_id") < 4)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Serving.serve(stream.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe, IvfScoring.Adc)
    }
    try {
      stream.addData(queryRows.take(2))
      q.processAllAvailable()
      stream.addData(queryRows.drop(2))
      q.processAllAvailable()
    } finally stopQuietly(q)

    val once = ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema))
    val batch = ranked(IvfIndex.search(spark,
      index, embs.filter(col("vec_id") < 4), K, NProbe, IvfScoring.Adc))
    assert(once == batch)

    // simulate a restart re-delivering the LAST batch: a fresh stream
    // with the same output dir re-serves the same queries under the
    // same batch ids — the per-batch overwrite leaves content unchanged
    val stream2 = MemoryStream[(Long, Array[Float])]
    val q2 = Serving.serve(stream2.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt2") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe, IvfScoring.Adc)
    }
    try {
      stream2.addData(queryRows.take(2))
      q2.processAllAvailable()
      stream2.addData(queryRows.drop(2))
      q2.processAllAvailable()
    } finally stopQuietly(q2)
    assert(ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema)) == once)
  }

  test("the SQ8 layer streams too") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val index = s"$dir/index"
    IvfIndex.build(embs, index, cells = Cells, sq8 = true)
    val queryRows = embs.filter(col("vec_id") < 4)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Serving.serve(stream.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe, IvfScoring.Sq8)
    }
    try {
      stream.addData(queryRows.take(2))
      q.processAllAvailable()
      stream.addData(queryRows.drop(2))
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema))
    val batch = ranked(IvfIndex.search(spark,
      index, embs.filter(col("vec_id") < 4), K, NProbe, IvfScoring.Sq8))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("a rebuilt index is picked up at the next batch boundary") {
    val dir = freshDir()
    val index = s"$dir/index"
    // index over HALF the corpus, then rebuild over all of it mid-stream
    val half = embs.filter(col("vec_id") % 2 === 0)
    IvfIndex.build(half, index, cells = Cells)

    val queryRows = embs.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Serving.serve(stream.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe)
    }
    try {
      stream.addData(Seq(queryRows.head))
      q.processAllAvailable()
      IvfIndex.build(embs, index, cells = Cells) // atomic quantizer+segment flip
      stream.addData(Seq(queryRows(1)))
      q.processAllAvailable()
    } finally stopQuietly(q)

    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema))
    // batch 0 probed the half-corpus index, batch 1 the full one
    val dirHalf = s"$dir/indexHalf"
    IvfIndex.build(half, dirHalf, cells = Cells)
    val b0 = ranked(IvfIndex.search(spark, dirHalf,
      embs.filter(col("vec_id") === queryRows.head._1), K, NProbe))
    val b1 = ranked(IvfIndex.search(spark, index,
      embs.filter(col("vec_id") === queryRows(1)._1), K, NProbe))
    assert(streamed == (b0 ++ b1).sorted)
  }
  test("served() of a stream that has not yet written a batch is an " +
       "empty frame with the serving schema, not an AnalysisException") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsempty").toString
    // outPath not created at all
    val none = Serving.served(spark, s"$dir/out", Serving.VectorSchema)
    assert(none.columns.toSeq ==
      Seq("query_id", "neighbor_id", "rank", "score"))
    assert(none.count() == 0L)
    // outPath exists but holds no batch= dir yet (checkpoint staging)
    new java.io.File(s"$dir/out2").mkdirs()
    assert(Serving.served(spark, s"$dir/out2", Serving.VectorSchema).count() == 0L)
  }
  test("a filtered serve pushes the predicate into every batch's probe; " +
       "stream equals the filtered batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vsfilt").toString
    val index = s"$dir/index"
    IvfIndex.build(embs, index, cells = Cells, attrs = Seq("label"))
    val queryRows = embs.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val pred = Some(col("label") === 3)
    val q = Serving.serve(stream.toDF().toDF("vec_id", "embedding"), s"$dir/out",
      s"$dir/ckpt") { b =>
      IvfIndex.search(b.sparkSession, index, b, K, NProbe, pred = pred)
    }
    try {
      stream.addData(queryRows)
      q.processAllAvailable()
    } finally stopQuietly(q)
    val streamed = ranked(Serving.served(spark, s"$dir/out", Serving.VectorSchema))
    val batch = ranked(IvfIndex.search(spark, index,
      embs.filter(col("vec_id") < 2), K, NProbe, pred = pred))
    assert(streamed == batch && streamed.nonEmpty)
    // every served neighbor matches the predicate
    val matching = embs.filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed.forall { case (_, n, _, _) => matching.contains(n) })
  }
}
