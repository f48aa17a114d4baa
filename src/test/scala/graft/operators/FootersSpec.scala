package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** [[Footers]] reads what a scan of the same file computes, and the
  * stores' footer statistics describe the manifest they are given. */
class FootersSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-footers").toString

  test("footer row counts and ts bounds equal a Spark count/min/max per file") {
    val log = freshDir() + "/log"
    val events = Events.load(spark, graft.SparkEntry.EntrySfDir).drop("ts_us")
      .filter(col("event_id") < 60)
    ManifestedLog.write(events, log)
    val conf = spark.sparkContext.hadoopConfiguration
    val (_, days) = ManifestedLog.readManifest(spark, log)
    val checked = days.values.toSeq.sorted.flatMap { d =>
      val dayDir = new Path(log, d)
      Sidecars.dirStats(spark, dayDir, "ts").map { st =>
        val file = new Path(dayDir, st.name).toString
        val r = spark.read.parquet(file)
          .agg(count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .head()
        assert((st.rows, st.minV, st.maxV) ==
          (r.getLong(0), Some(r.getLong(1)), Some(r.getLong(2))), file)
        assert(Footers.rowCount(conf, file) == r.getLong(0), file)
        st.rows
      }
    }
    assert(checked.size >= 2 && checked.sum == events.count())
  }

  test("cellStatsOf / bucketStatsOf on a retained older manifest report " +
       "that manifest's segments only") {
    val base = freshDir()
    val (ivf, lex) = (base + "/ivf", base + "/lex")
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array((i % 3).toFloat, (i / 3).toFloat * 0.5f)))
      .toDF("vec_id", "embedding")
    IvfIndex.build(vecs.filter(col("vec_id") < 8), ivf, cells = 3)
    val ivfV1 = IvfIndex.cellStats(spark, ivf).collect().toSet
    IvfIndex.append(vecs.filter(col("vec_id") >= 8), ivf)
    val ivfOld = IvfIndex.footerStats(spark, new Path(ivf),
      IvfIndex.readManifestAt(spark, ivf, 1L)).collect().toSet
    assert(ivfOld == ivfV1)
    assert(IvfIndex.cellStats(spark, ivf).collect().toSet != ivfV1)

    val docs = Seq((0L, "spark join fast"), (1L, "join slow table"),
      (2L, "spark merge"), (3L, "hash merge batch")).toDF("doc_id", "text")
    LexIndex.build(docs.filter(col("doc_id") < 2), lex, buckets = 4)
    val lexV1 = LexIndex.bucketStats(spark, lex).collect().toSet
    LexIndex.append(docs.filter(col("doc_id") >= 2), lex)
    val lexOld = LexIndex.footerStats(spark, new Path(lex),
      LexIndex.readManifestAt(spark, lex, 1L)).collect().toSet
    assert(lexOld == lexV1)
    assert(LexIndex.bucketStats(spark, lex).collect().toSet != lexV1)
  }
}
