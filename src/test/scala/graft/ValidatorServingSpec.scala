package graft

import org.apache.spark.sql.functions._

/** The validator's serving-path opt-out: a TableOp-led plan (index
  * probe, maintenance, time travel) replaces the input with a table
  * read, so count-based invariants are meaningless against the original
  * frame — and on the hot serving path the two count() actions would be
  * an extra pass over the table per spoken probe. Pin: validate() of a
  * probe-shaped plan triggers ZERO Spark jobs, and a spoken probe via
  * Engine.invoke (no sink) runs only the probe's own bounded driver
  * actions. */
class ValidatorServingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("validate() of a probe-shaped plan triggers zero Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vs").toString
    val p = s"$dir/index"
    graft.operators.IvfIndex.build(embs, p, 16)
    val desc = "Search the index for top 5 similar to 3 probing 4 cells."
    val plan = Engine.plan(desc)
    val input = graft.operators.IvfIndex.read(spark, p)
    val result = Engine.run(desc, input, tablePath = Some(p))
    val jobs = countJobs {
      val rep = Validator.validate(plan, input, result)
      assert(rep.valid, rep.errors.mkString("; "))
    }
    assert(jobs == 0, s"validator ran $jobs jobs on a probe plan")
    // a maintenance plan with a trailing projection: structural checks
    // still run (and still catch a mismatch), count checks stay off
    val desc2 = "Vacuum the index keeping 1 versions and select columns " +
      "vec_id and cell."
    val plan2 = Engine.plan(desc2)
    val result2 = Engine.run(desc2, input, tablePath = Some(p))
    val jobs2 = countJobs {
      assert(Validator.validate(plan2, input, result2).valid)
    }
    assert(jobs2 == 0)
  }

  test("non-serving plans keep their count-based invariants") {
    import spark.implicits._
    val input = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    // a row-preserving plan that ILLEGALLY changed the count must still
    // be caught — the opt-out is scoped to TableOp plans only
    val plan = Engine.plan("Rename name to label.")
    val bad = input.limit(1).withColumnRenamed("name", "label")
    val rep = Validator.validate(plan, input, bad)
    assert(!rep.valid && rep.errors.exists(_.contains("changed count")))
  }
}
