package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming serving: a continuous stream of queries probes a persisted
  * index as it arrives — the online half of the serving story, where
  * the stores' `ingest` is the write half. The probe is any batch
  * surface over the query frame: [[graft.operators.LexIndex.search]]
  * of a [[graft.operators.LexQuery]], the at-rest hybrids of
  * [[graft.operators.Retrieval]], or [[graft.operators.IvfIndex]]'s
  * exact / ADC / int8 probes.
  *
  * Shape: `foreachBatch`, because a probe's bounded driver work
  * (manifest read, probed-term or probed-cell collect) happens per
  * micro-batch by design — each batch probes the index AS OF that
  * moment, so a concurrent ingest/compact/rebuild is picked up at the
  * next batch boundary (the manifest flip is atomic; a batch never
  * sees a torn index).
  *
  * Replay safety: each batch writes its results to its OWN
  * `batch=<id>` directory with overwrite semantics, so a restarted
  * stream that re-delivers a batch rewrites the same directory with
  * the same deterministic content — duplicate-free output without a
  * dedup pass (the per-batch-directory idempotence recipe, not the
  * log's batch-tag one, because results are per-batch-partitioned
  * reads downstream, not one merged table). */
object Serving {

  /** The lexical and hybrid probes' output schema. */
  val LexicalSchema: StructType = StructType.fromDDL(
    "query_id BIGINT, doc_id BIGINT, rank BIGINT, score DOUBLE")

  /** The vector probes' output schema. */
  val VectorSchema: StructType = StructType.fromDDL(
    "query_id BIGINT, neighbor_id BIGINT, rank BIGINT, score DOUBLE")

  /** Serve a streaming query frame through `probe`: every non-empty
    * micro-batch's result lands under `outPath/batch=<id>/` as parquet. */
  def serve(queries: DataFrame, outPath: String, checkpoint: String)
           (probe: DataFrame => DataFrame): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          probe(batch).write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
      .start()

  /** Everything the stream has served so far, across batches, in
    * `schema`'s columns. A stream that has not yet written a batch (or
    * an `outPath` not created yet) reads as an EMPTY result with the
    * serving schema — "nothing served yet" is a normal state for a
    * monitor polling a fresh stream, not an AnalysisException. */
  def served(spark: SparkSession, outPath: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatch = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
    if (!hasBatch)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read
        .option("basePath", outPath)
        .parquet(outPath)
        .select(schema.fieldNames.map(col).toSeq: _*)
  }
}
