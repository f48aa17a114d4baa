package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sources — the engine's scan surface (SURVEY.md §2.2 S1/S2).
  *
  * CSV mirrors the reference's `pd.read_csv` semantics: first row is the
  * header, dtypes inferred (agentic_workflow_transformation.py:307).
  * Parquet is this engine's primary format (columnar, splittable,
  * predicate-pushdown-able — the right scan at 100 TB; TESTDATA.md tables
  * are parquet).
  */
object Sources {

  /** S1 — CSV scan with header + inferred schema.
    * At scale prefer an explicit schema (inferSchema is a full extra pass);
    * pass `schemaDdl` to skip inference. */
  def csv(spark: SparkSession, path: String, schemaDdl: Option[String] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schemaDdl match {
      case Some(ddl) => base.schema(ddl).csv(path)
      case None      => base.option("inferSchema", "true").csv(path)
    }
  }

  /** Primary columnar scan. Filters/projections over this are pushed into
    * the parquet reader by Catalyst (PushedFilters / ReadSchema).
    * Reuses the schema inferred by an earlier read of the same files
    * under the same conf; see [[table]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      // nothing at `path`: Spark raises its own error
      case None => spark.read.parquet(path)
      case Some((qualified, fp)) =>
        Option(schemas.get(qualified)).filter(_._1 == fp).map(_._2) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(qualified, (fp, df.schema))
            df
        }
    }

  /** JSON-lines scan — the file form of the reference's row-dict records
    * (S2). Schema inferred unless `schemaDdl` given (at scale always give
    * it: inference is a full extra pass). */
  def jsonLines(spark: SparkSession, path: String,
                schemaDdl: Option[String] = None): DataFrame =
    schemaDdl match {
      case Some(ddl) => spark.read.schema(ddl).json(path)
      case None      => spark.read.json(path)
    }

  /** ORC scan — the other splittable columnar format Spark ships a
    * vectorized, pushdown-capable reader for; interchange with
    * Hive-lineage warehouses. Same scan guarantees as [[parquet]]. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Named testdata table from a scale-factor directory (TESTDATA.md).
    * Every engine read of a testdata table goes through here.
    *
    * Schemas are cached process-wide, keyed by the qualified path, the
    * sorted leaf-file listing as (path, length, modification time), and
    * every session conf whose key contains `parquet` plus the confs
    * partition inference reads. `spark.read.parquet` runs a one-task
    * footer-reading job to infer the schema on every call; on an sf0.01
    * description on `local[4]` that job is about half the latency. A
    * hit instead returns `spark.read.schema(cached).parquet(path)`: no
    * job, and a fresh relation with fresh attribute ids. A miss reads
    * exactly as an uncached read does. DataFrames are never cached: a
    * shared relation would make self-joins ambiguous and pin a stale
    * file index. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** What `spark.read.parquet(path).schema` depends on besides the path:
    * the leaf files (path, length, modification time) and the session
    * confs the parquet and partition inference read. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
                                       confs: Seq[(String, String)])

  /** Qualified path → the fingerprint its schema was inferred under.
    * One entry per path: a changed listing or conf replaces it. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** Non-parquet confs that partition-column inference reads. */
  private val partitionInferenceConfs = Set(
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private def fingerprint(spark: SparkSession, path: String): Option[(String, Fingerprint)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    Option(fs.globStatus(qualified)).filter(_.nonEmpty).map { roots =>
      val files = roots.toSeq.flatMap(leaves)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      val confs = spark.conf.getAll.toSeq
        .filter { case (k, _) => k.contains("parquet") || partitionInferenceConfs(k) }.sorted
      (qualified.toString, Fingerprint(files, confs))
    }
  }

  /** S2 — in-memory records source (the reference's inline `List[Dict]`
    * fallback, agentic_workflow_transformation.py:321-325). */
  def inMemory(spark: SparkSession, rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("name", "age", "city")
  }

  /** The reference's canonical 10-row fixture (input.csv:1-11), used by
    * unit tests and the eval harness when no CSV is supplied. */
  def canonicalSample(spark: SparkSession): DataFrame = inMemory(spark, Seq(
    ("Alice", 25L, "New York"),
    ("Bob", 35L, "Los Angeles"),
    ("Charlie", 32L, "Chicago"),
    ("Diana", 45L, "Seattle"),
    ("Ethan", 29L, "Boston"),
    ("Fiona", 41L, "San Francisco"),
    ("George", 38L, "Denver"),
    ("Hannah", 22L, "Miami"),
    ("Ian", 50L, "Austin"),
    ("Jasmine", 31L, "Portland")))
}
