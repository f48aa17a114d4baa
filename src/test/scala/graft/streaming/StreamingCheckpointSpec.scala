package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{Sessions, SparkSpec}
import graft.operators.LexIndex

/** Streaming checkpoints write through the sessions' local filesystem
  * ([[Sessions.CheckpointFileManagerConf]]): a served stream starts no
  * `chmod` or `readlink` process for its checkpoint files, and it
  * leaves the same checkpoint file set as Spark's `FileContext`-based
  * manager. */
class StreamingCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val (managerKey, nioManager) = Sessions.CheckpointFileManagerConf
  private val fileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def freshDir(): String =
    Files.createTempDirectory("graft-ckpt").toString

  /** Three keyword micro-batches served against a small index through
    * [[Serving.serve]], checkpointed under `dir/ckpt`: the processes
    * they start. */
  private def threeBatches(dir: String): Seq[(String, Seq[String])] = {
    val index = s"$dir/index"
    LexIndex.build(Seq((0L, "spark join fast"), (1L, "join slow table"),
      (2L, "spark merge")).toDF("doc_id", "text"), index, buckets = 4)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    val q = Serving.serve(stream.toDF().toDF("query_id", "terms"),
        s"$dir/out", s"$dir/ckpt") { b =>
      LexIndex.search(b.sparkSession, index, b, 2)
    }
    val started = SparkSpec.processStarts {
      try (0 until 3).foreach { i =>
        stream.addData(Seq(i.toLong -> Seq("spark", "join")))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(Serving.served(spark, s"$dir/out", Serving.LexicalSchema)
      .select("query_id").distinct().count() == 3L)
    started
  }

  private def named(started: Seq[(String, Seq[String])], tools: Set[String]) =
    started.map(_._1).filter(c =>
      tools.contains(Paths.get(c.trim.split("\\s+").head).getFileName.toString))

  /** Relative paths under `root`, random ids normalized. */
  private def fileSet(root: String): Seq[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.map(p => r.relativize(p).toString.replaceAll(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID"))
      .toSeq.sorted
    finally s.close()
  }

  test("a served stream's checkpoints start no chmod or readlink process") {
    assert(spark.conf.get(managerKey) == nioManager)
    val started = threeBatches(freshDir())
    val forked = named(started, Set("chmod", "readlink"))
    assert(forked.isEmpty,
      s"${forked.size} chmod/readlink processes, e.g. ${forked.take(3).mkString("; ")}")
    info(s"process starts, 3 batches: ${started.size}")
  }

  test("the checkpoint file set equals the FileContext manager's") {
    val (nio, stock) = (freshDir(), freshDir())
    threeBatches(nio)
    spark.conf.set(managerKey, fileContextManager)
    val stockStarted = try threeBatches(stock) finally spark.conf.set(managerKey, nioManager)
    info(s"process starts, 3 batches, FileContext manager: ${stockStarted.size} " +
      s"(${named(stockStarted, Set("chmod")).size} chmod, " +
      s"${named(stockStarted, Set("readlink")).size} readlink)")
    assert(fileSet(s"$nio/ckpt") == fileSet(s"$stock/ckpt"))
    assert(fileSet(s"$nio/ckpt").exists(_.startsWith("commits/")))
  }
}
