package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Events, ManifestedLog}
import graft.sources.Sources

/** Maintenance micro-benchmark for the manifested table's write paths —
  * the operational twin of [[Bench]] (which times the query surface).
  * Measures, on a throwaway copy of the events fixture:
  *
  *  1. a BACKFILL append: the full multi-day corpus in ONE append
  *     (>8 touched days → the one-pass dt-partitioned staging regime);
  *  2. the same corpus through the PER-DAY regime, forced by appending
  *     ≤8-day slices (each slice pays one filter pass + one write job
  *     per touched day — the shape the backfill regime replaces);
  *  3. a steady-state HOT append (one day re-delivered — the idempotent
  *     copy-on-write no-op a streaming trigger pays every batch).
  *
  * Usage: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.MaintBench [sfDir]"` —
  * prints one JSON line with seconds per shape.
  */
object MaintBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus, "graft-maint-bench")
    spark.sparkContext.setLogLevel("WARN")
    val ev = Events.load(spark, sfDir).drop("ts_us")
    ev.count() // warm the scan

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val base = java.nio.file.Files.createTempDirectory("graft-maint-bench")

    val tBackfill = timed {
      ManifestedLog.append(ev, s"$base/backfill")
    }
    val days = ev.select(Events.utcDt(col("ts")).as("dt")).distinct()
      .collect().map(_.getString(0)).sorted
    val tPerDay = timed {
      days.grouped(8).foreach { slice =>
        ManifestedLog.append(
          ev.filter(Events.utcDt(col("ts")).isin(slice.toSeq: _*)),
          s"$base/sliced")
      }
    }
    val hotDay = days.last
    val tHot = timed {
      ManifestedLog.append(
        ev.filter(Events.utcDt(col("ts")) === hotDay), s"$base/backfill")
    }
    // 4. physical erasure: one EVENT (Bloom-bounded — should rewrite ~1
    //    day) vs one USER (legitimately rewrites the days it lived in)
    val someEvent = ev.select("event_id").head().getLong(0)
    val tDeleteEvent = timed {
      ManifestedLog.deleteByKey(spark, s"$base/backfill", "event_id",
        Seq(someEvent))
    }
    val someUser = ev.select("user_id").head().getLong(0)
    val tDeleteUser = timed {
      ManifestedLog.deleteByKey(spark, s"$base/backfill", "user_id",
        Seq(someUser))
    }
    // 5. IVF index lifecycle: build over the embeddings fixture, append
    //    a re-keyed copy (cost ∝ batch against frozen centroids), one
    //    pruned probe
    val emb = Sources.table(spark, sfDir, "embeddings")
    emb.count()
    val idx = s"$base/ivf_index"
    val tIndexBuild = timed {
      graft.operators.IvfIndex.build(emb, idx, cells = 16)
    }
    val tIndexAppend = timed {
      graft.operators.IvfIndex.append(
        emb.withColumn("vec_id", col("vec_id") + 10000000L), idx)
    }
    val tIndexSearch = timed {
      graft.operators.IvfIndex.search(spark, idx,
        emb.filter(col("vec_id") < 8), k = 5, nprobe = 4).count()
    }
    println(
      f"""{"metric":"maint_append","sf":"$sfDir","days":${days.length},""" +
      f""""backfill_one_pass_sec":$tBackfill%.2f,""" +
      f""""per_day_regime_sec":$tPerDay%.2f,""" +
      f""""hot_single_day_sec":$tHot%.2f,""" +
      f""""delete_event_sec":$tDeleteEvent%.2f,""" +
      f""""delete_user_sec":$tDeleteUser%.2f,""" +
      f""""ivf_build_sec":$tIndexBuild%.2f,""" +
      f""""ivf_append_sec":$tIndexAppend%.2f,""" +
      f""""ivf_search_sec":$tIndexSearch%.2f}""")
    spark.stop()
  }
}
