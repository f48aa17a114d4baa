package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench/verify execution posture is explicit, not inherited: the
  * recorded BENCH numbers depend on AQE's runtime coalescing and
  * skew-join splitting (plus shuffle parallelism = worker count and the
  * UTC session the timestamp oracles assume), so the session factory
  * must pin all of it — an upstream default flip must not silently
  * change what the benchmarks measure. The local filesystem class is
  * pinned the same way: the store benchmarks measure its write path. */
class SessionConfigSpec extends AnyFunSuite {

  test("session factory pins AQE on: coalescing + skew-join active") {
    // applying the factory's builder to the shared test JVM session sets
    // its runtime SQL confs — the same confs the Bench/Verify mains run
    // under; read them back from the live session
    val s = Sessions.builder("4", "graft-config-spec").getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "AQE must be pinned on, not riding the Spark default")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled").toBoolean,
      "post-shuffle partition coalescing must be active in bench runs")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled").toBoolean,
      "runtime skew-join splitting must back the deterministic salted join")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4",
      "shuffle parallelism tracks the worker count, not the 200 default")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "timestamp oracles assume a UTC session")
  }

  test("session factory opens local paths through NioLocalFileSystem") {
    val s = Sessions.builder("4", "graft-config-spec").getOrCreate()
    assert(s.conf.get("spark.hadoop.fs.file.impl") ==
      classOf[NioLocalFileSystem].getName)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), s.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NioLocalFileSystem],
      "local writes must not fork a chmod per file")
    assert(s.conf.get(Sessions.CheckpointFileManagerConf._1) ==
      Sessions.CheckpointFileManagerConf._2,
      "streaming checkpoints open through the same filesystem")
  }
}
