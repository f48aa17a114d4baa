package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** ONE short machine-parsable summary, printed as the FINAL stdout
    * line: `CORRECTNESS_r19/r20.json` both arrived empty because the
    * driver greps a 1,000s sbt log for per-query output and loses it to
    * truncation — a short tail line survives any truncated capture. */
  private[graft] def summaryLine(nOk: Int, failed: Seq[String]): String =
    if (failed.isEmpty) s"VERIFY_OK n=$nOk"
    else s"VERIFY_FAIL ${failed.sorted.mkString(",")}"

  /** The local session the query drivers run on, sized by
    * `SPARK_GRAFT_CPUS` (default 4). */
  private[graft] def session(name: String): SparkSession = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), name)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `action` on each selected [[SparkEntry]] query's frame. A query
    * whose build or action throws is reported on stderr under `tag` and
    * does not stop the rest. Returns (queries done, names that failed). */
  private[graft] def eachQuery(spark: SparkSession, sfDir: String, tag: String,
      selected: String => Boolean)(
      action: (String, DataFrame) => Unit): (Int, Seq[String]) = {
    var nOk = 0
    val failed = Seq.newBuilder[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try { action(name, fn(spark, sfDir)); nOk += 1 }
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          failed += name
        }
    }
    (nOk, failed.result())
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — dev-only filter
    // for fast single-query iteration; the driver always passes two args
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val (nOk, failed) = eachQuery(spark, sfDir, "verify", selected) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // summary BEFORE stop(): shutdown-hook output interleaving on
    // stdout could otherwise displace the tail line the driver greps
    // for — it only needs to be short and near the tail
    println(summaryLine(nOk, failed))
    spark.stop()
  }
}
