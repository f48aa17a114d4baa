package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive content fingerprint of a result: its row count
  * and the sum of its rows' hashes (floating columns rounded to 6
  * decimals, so a last-bit difference in a summation order is not a
  * different answer). */
final case class Fp(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
}

/** What an operation's result is checked against, outside the timed
  * window and never through the timed code path. */
sealed trait Oracle
object Oracle {
  /** SQL that DuckDB runs over the workload's input tables; `exact`
    * compares values bit for bit, otherwise floats within 1e-9. */
  final case class Sql(sql: String, exact: Boolean) extends Oracle
  /** The expected result, computed by Spark without the timed path
    * (e.g. read-your-write: the rows just appended). */
  final case class Twin(df: () => DataFrame) extends Oracle
  /** Checked as part of a workload-wide check (see [[Workload.finish]]). */
  case object Deferred extends Oracle
}

/** The outcome of certifying one operation key. `ok = None` leaves the
  * verdict to the DuckDB comparison of `resultDir` against `sql`. */
final case class Check(key: String, ok: Option[Boolean], reason: String,
                       sql: Option[String] = None,
                       resultDir: Option[String] = None,
                       exact: Boolean = true)

/** One operation of a closed loop. */
trait Op {
  def key: String
  def kind: String
  /** The store directory the operation writes and reads back. */
  def store: Option[String] = None
  /** Bytes of user data the operation hands to a store. */
  def userBytes: Long = 0L
  /** Performs the operation through the harness's layer spans and
    * returns the fingerprint of the result it fully materialized. */
  def run(h: Harness): Fp
  def oracle: Oracle
}

/** A query: optionally parse a description, build a DataFrame through
  * the engine, materialize it through the `noop` sink. */
final case class QueryOp(key: String, kind: String,
                         description: Option[String],
                         build: Option[graft.plans.Plan] => DataFrame,
                         oracle: Oracle) extends Op {
  def run(h: Harness): Fp = {
    val plan = description.map(d => h.tracer.span("parse")(graft.Engine.plan(d)))
    val df = h.tracer.span("compile")(build(plan))
    h.tracer.span("exec")(h.materialize(df))
  }
  /** Builds the result again (to write it for the DuckDB oracle, and
    * for the count() bridge). */
  def rebuild(h: Harness): DataFrame = build(description.map(graft.Engine.plan))
}

/** Shared services of a run: the session, the tracer, materialization
  * and fingerprints, and the run's scratch directory. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val dataDir: String, val workDir: String,
                    val seed: Long) {

  private def fpColumns(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _ => c
      }
    }

  private def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(fpColumns(df): _*), lit(2147483647L))), lit(0L)).as("h"))

  private def fpOf(obs: Observation): Fp = {
    val m = obs.get
    Fp(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Fully materializes `df` through the `noop` sink (every column of
    * every row is computed; nothing is written) and returns its
    * fingerprint, observed in the same pass. */
  def materialize(df: DataFrame): Fp = {
    val obs = new Observation()
    observed(df, obs).write.format("noop").mode("overwrite").save()
    fpOf(obs)
  }

  /** Writes `df` as parquet under `dir` and returns its fingerprint. */
  def dump(df: DataFrame, dir: String): Fp = {
    val obs = new Observation()
    observed(df, obs).write.mode("overwrite").parquet(dir)
    fpOf(obs)
  }


  def table(name: String): DataFrame = graft.sources.Sources.table(spark, dataDir, name)
}
