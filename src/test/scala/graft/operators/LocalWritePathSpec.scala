package graft.operators

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{NioLocalFileSystem, SparkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The local write path the sessions register ([[NioLocalFileSystem]]):
  * every store write starts no process, and every file and directory it
  * makes carries the POSIX bits the stock `LocalFileSystem` gives it. */
class LocalWritePathSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-localfs").toString

  /** Full POSIX mode (rwx plus setuid/setgid/sticky) of a local path. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (relative path, mode) of `root` and everything under it; the
    * random job ids in written file names are normalized. */
  private def modes(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.map { p =>
      r.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID") ->
        f"${mode(p)}%04o"
    }.toSeq.sorted
    finally s.close()
  }

  /** The same calls through `fsClass`, under `umask`, into `root`: the
    * FileSystem API verbs the stores use and one partitioned parquet
    * write, whose driver and tasks open `root` through `fsClass`. */
  private def writeTree(fsClass: Class[_ <: FileSystem], umask: Option[String],
                        root: String): Unit = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    val fs = fsClass.getDeclaredConstructor().newInstance()
    fs.initialize(URI.create("file:///"), conf)
    try {
      val r = new Path(root)
      assert(fs.mkdirs(new Path(r, "a/b/c")))
      val out = fs.create(new Path(r, "a/f.txt"))
      try out.write("x\n".getBytes("UTF-8")) finally out.close()
      fs.create(new Path(r, "new/parent/g.txt"), true).close()
      fs.setPermission(new Path(r, "a/f.txt"), new FsPermission(Integer.parseInt("640", 8).toShort))
      // the sticky bit is the fallback to the stock path
      assert(fs.mkdirs(new Path(r, "sticky")))
      fs.setPermission(new Path(r, "sticky"), new FsPermission(Integer.parseInt("1755", 8).toShort))
    } finally fs.close()
    val w = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k").write
      .option("fs.file.impl", fsClass.getName)
      .option("fs.file.impl.disable.cache", "true")
    umask.fold(w)(w.option("fs.permissions.umask-mode", _))
      .partitionBy("k").parquet(root + "/pq")
  }

  for (umask <- Seq(None, Some("077"))) {
    test(s"write path sets the stock POSIX bits (umask ${umask.getOrElse("default")})") {
      val base = freshDir()
      writeTree(classOf[LocalFileSystem], umask, base + "/stock")
      writeTree(classOf[NioLocalFileSystem], umask, base + "/nio")
      val (stock, nio) = (modes(base + "/stock"), modes(base + "/nio"))
      assert(nio == stock)
      assert(nio.exists { case (p, m) => p == "sticky" && m == "1755" })
      assert(nio.exists(_._1.endsWith(".parquet.crc")), "the write went through the checksum layer")
      val (file, dir) = if (umask.isEmpty) ("0644", "0755") else ("0600", "0700")
      assert(nio.exists { case (p, m) => p.startsWith("pq/k=a/part-") && m == file })
      assert(nio.exists { case (p, m) => p == "pq/k=a" && m == dir })
    }
  }

  /** Processes started while `body` runs from inside a Hadoop filesystem
    * call or graft code (by the frames of the starting stack). Spark
    * forks on its own schedule too — `getconf PAGESIZE` at the first
    * heartbeat, `rm -rf` when it cleans up a collected session's
    * artifacts — and those are not the store verbs' work. */
  private def processStarts(body: => Unit): Seq[String] =
    SparkSpec.processStarts(body).collect {
      case (command, frames) if frames.exists(cls =>
          cls.startsWith("org.apache.hadoop.fs.") || cls.startsWith("graft.")) =>
        command
    }

  test("store appends, compaction and vacuum start no process through the filesystem") {
    val base = freshDir()
    val (lex, ivf, log) = (base + "/lex", base + "/ivf", base + "/log")
    val docs = Seq((0L, "spark join fast"), (1L, "join slow table"),
      (2L, "spark merge"), (3L, "hash merge batch")).toDF("doc_id", "text")
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array((i % 3).toFloat, (i / 3).toFloat * 0.5f)))
      .toDF("vec_id", "embedding")
    val events = Events.load(spark, graft.SparkEntry.EntrySfDir).drop("ts_us")
    LexIndex.build(docs.filter(col("doc_id") < 2), lex, buckets = 4)
    IvfIndex.build(vecs.filter(col("vec_id") < 8), ivf, cells = 3)
    ManifestedLog.write(events.filter(col("event_id") < 40), log)
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
    val started = processStarts {
      LexIndex.append(docs.filter(col("doc_id") >= 2), lex)
      LexIndex.compact(spark, lex)
      IvfIndex.append(vecs.filter(col("vec_id") >= 8), ivf)
      IvfIndex.compact(spark, ivf)
      ManifestedLog.append(events.filter(col("event_id") >= 40 &&
        col("event_id") < 50), log)
      ManifestedLog.vacuum(spark, log, keepVersions = 1)
    }
    assert(started.isEmpty,
      s"${started.size} processes started, e.g. ${started.take(3).mkString("; ")}")
  }
}
