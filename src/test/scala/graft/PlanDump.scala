package graft

import java.nio.file.{Files, Paths}

/** Plan-identity dump: every [[SparkEntry]] query's optimized logical
  * plan, one normalized text file per query, so a refactor that must
  * not move any plan is checked by one `diff -r` of two dumps:
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump /root/testdata/sf0.001 /tmp/plans_new"
  * # the same in a checkout of the parent commit → /tmp/plans_old
  * diff -r /tmp/plans_old /tmp/plans_new && echo PLANS_IDENTICAL
  * }}}
  *
  * Building a query's frame runs the eager work its operators do at
  * build time (index builds, manifest reads, bounded collects); only the
  * optimized plan is written, never executed. Run-to-run noise is
  * normalized away: expression ids (`#12`), `plan_id=` tags, lambda
  * variable counters (`lambda x_7`), JVM lambda class names, `@<hash>`
  * identities, and the working directory (two checkouts dump from two
  * roots). A query that fails to build makes the run exit non-zero, so
  * the `&&` chain above stops instead of comparing two dumps that both
  * lack its file. */
object PlanDump {

  private val cwd = Paths.get("").toAbsolutePath.toString

  private[graft] def normalize(plan: String): String =
    plan.replace(cwd, "<cwd>")
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("lambda (\\w+?)_\\d+", "lambda $1_N")
      .replaceAll("\\$\\$Lambda[$/][\\w$./]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}\\b", "@H")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Verify.session("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    val (n, bad) = Verify.eachQuery(spark, sfDir, "plandump", _ => true) { (name, df) =>
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        normalize(df.queryExecution.optimizedPlan.toString))
    }
    println(if (bad.isEmpty) s"PLANDUMP_OK n=$n"
            else s"PLANDUMP_FAIL ${bad.sorted.mkString(",")}")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
