package graft

import org.apache.spark.sql.SparkSession

/** Local session factory for the CLI mains (Run/Eval/Verify/Bench): one
  * place that makes the execution posture EXPLICIT instead of inherited
  * from Spark defaults —
  *
  *  - shuffle parallelism = the worker count (local[N] has N task slots;
  *    the 200-partition default schedules 6× empty tasks at local scale),
  *  - AQE pinned ON with runtime partition coalescing and skew-join
  *    splitting. Spark 4 defaults to all three, but the recorded bench
  *    numbers DEPEND on them (post-shuffle coalescing on the small SFs,
  *    runtime splitting as the backstop behind the deterministic salted
  *    join), so the dependency lives in code and is asserted in
  *    SessionConfigSpec rather than riding an upstream default,
  *  - UTC session time, which every timestamp oracle assumes,
  *  - local paths through [[NioLocalFileSystem]]: this Hadoop build has
  *    no native library, so the stock local filesystem forks a `chmod`
  *    process for every directory, data file and `.crc` file a write
  *    creates — 2,192 of the 2,198 processes one `store_ingest`
  *    benchmark run (seed 41) starts; 6 start with this class, which
  *    sets the same bits with one syscall,
  *  - streaming checkpoints through that same filesystem: Spark's
  *    default checkpoint manager goes through `FileContext`, whose
  *    `file:` binding ignores `fs.file.impl` and forks `readlink` and
  *    `chmod` for checkpoint files — 341 process starts for one
  *    3-batch memory-sink query.
  */
object Sessions {

  /** The `file` scheme's filesystem class, shared with the test session
    * so specs write through the same path. */
  val LocalFileSystemConf: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName

  /** The streaming checkpoint manager: the `FileSystem`-API one, which
    * opens checkpoints through [[LocalFileSystemConf]]'s class. Shared
    * with the test session. */
  val CheckpointFileManagerConf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  def local(cpus: String, appName: String): SparkSession =
    builder(cpus, appName).getOrCreate()

  def builder(cpus: String, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default parquet timestamp encoding is the deprecated
      // INT96, which carries NO column statistics — a silently
      // pruning-hostile layout: a pushed ts predicate can't skip a
      // single row group of our own written event logs, and footer-based
      // file stats (ManifestedLog sidecars) read as unknown. INT64
      // micros restores both and matches TimestampType semantics exactly.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config(LocalFileSystemConf._1, LocalFileSystemConf._2)
      .config(CheckpointFileManagerConf._1, CheckpointFileManagerConf._2)
}
