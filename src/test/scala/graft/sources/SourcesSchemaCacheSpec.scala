package graft.sources

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructType}

import graft.SparkSpec

/** The schema cache behind [[Sources.table]] / [[Sources.parquet]]: a
  * cached read must look exactly like a fresh `spark.read.parquet`, skip
  * the inference job on a repeat, and follow the files and the conf. */
class SourcesSchemaCacheSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsFresh(path: String): DataFrame = {
    val cached = Sources.parquet(spark, path)
    val fresh = spark.read.parquet(path)
    assert(cached.schema == fresh.schema, path)
    assert(cached.queryExecution.analyzed.output.map(_.dataType) ==
      fresh.queryExecution.analyzed.output.map(_.dataType), path)
    cached
  }

  test("every fixture table reads with the schema and types of a fresh read") {
    val sfDir = graft.SparkEntry.EntrySfDir
    val tables = new java.io.File(sfDir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.size >= 10, tables)
    tables.foreach { t =>
      // the first call may fill the cache, the later ones are hits
      val reads = Seq.fill(3)(Sources.table(spark, sfDir, t))
      val fresh = spark.read.parquet(s"$sfDir/$t.parquet")
      val outputs = reads.map(_.queryExecution.analyzed.output)
      assert(reads.forall(_.schema == fresh.schema), t)
      assert(outputs.forall(_.map(_.dataType) ==
        fresh.queryExecution.analyzed.output.map(_.dataType)), t)
      // no shared relation: each read gets its own attribute ids
      val ids = outputs.flatten.map(_.exprId)
      assert(ids.distinct.size == ids.size, t)
    }
    // a self-join over two reads of one table resolves
    val a = Sources.table(spark, sfDir, "nation")
    val b = Sources.table(spark, sfDir, "nation")
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() > 0)
  }

  test("the first read of a path runs one inference job, a repeat runs none") {
    val path = s"${tempDir("graft-cache-jobs")}/t.parquet"
    spark.range(100).selectExpr("id", "cast(id as string) AS s")
      .write.parquet(path)
    // let the listener bus deliver the write's jobs before counting
    Thread.sleep(1000)
    assert(countJobs(Sources.parquet(spark, path)) == 1)
    assert(countJobs(Sources.parquet(spark, path)) == 0)
    assert(countJobs(Sources.parquet(spark, path).schema) == 0)
  }

  test("a table overwritten in place is read with its new schema and rows") {
    val path = s"${tempDir("graft-cache-overwrite")}/t.parquet"
    spark.range(5).selectExpr("id", "cast(id as int) AS v").write.parquet(path)
    assertSameAsFresh(path)
    val before = assertSameAsFresh(path)
    assert(before.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(before.schema("v").dataType == IntegerType)

    spark.range(3).selectExpr("id", "concat('x', id) AS v", "id * 1.5 AS w")
      .write.mode("overwrite").parquet(path)
    val after = assertSameAsFresh(path)
    assert(after.schema.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(after.schema("v").dataType == StringType)
    assert(rows(after) == Seq("[0,x0,0.0]", "[1,x1,1.5]", "[2,x2,3.0]"))
  }

  test("the schema follows spark.sql.parquet.binaryAsString like a fresh read") {
    // Spark's own writer stores its schema in the footer, which inference
    // prefers over the conf; a plain parquet writer leaves `b` a bare
    // BINARY whose Spark type the conf decides
    val path = s"${tempDir("graft-cache-conf")}/t.parquet"
    val fileSchema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$path/part-0.parquet"))
      .withType(fileSchema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(fileSchema)
    try (0 until 3).foreach(i => writer.write(groups.newGroup().append("id", i.toLong).append("b", s"b$i")))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(assertSameAsFresh(path).schema("b").dataType == BinaryType)
      assertSameAsFresh(path)
      spark.conf.set(key, "true")
      val asString = assertSameAsFresh(path)
      assert(asString.schema("b").dataType == StringType)
      assert(rows(asString.select("b")) == Seq("[b0]", "[b1]", "[b2]"))
      spark.conf.set(key, "false")
      assert(assertSameAsFresh(path).schema("b").dataType == BinaryType)
    } finally spark.conf.unset(key)
  }

  test("a partitioned directory reads with the schema and rows of an uncached read") {
    val path = s"${tempDir("graft-cache-parts")}/t.parquet"
    spark.range(40).selectExpr("id", "cast(id % 4 as int) AS p", "concat('d', id % 3) AS d")
      .write.partitionBy("p", "d").parquet(path)
    assertSameAsFresh(path)
    val hit = assertSameAsFresh(path)
    assert(hit.schema.fieldNames.toSeq == Seq("id", "p", "d"))
    assert(rows(hit) == rows(spark.read.parquet(path)))
    assert(rows(hit.filter("p = 2")) == rows(spark.read.parquet(path).filter("p = 2")))
  }

  test("concurrent readers all get equal schemas") {
    val path = s"${tempDir("graft-cache-threads")}/t.parquet"
    spark.range(10).selectExpr("id", "id * 2 AS twice").write.parquet(path)
    val expected = spark.read.parquet(path).schema
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(_ => pool.submit(new Callable[Seq[StructType]] {
        def call(): Seq[StructType] = (0 until 5).map(_ => Sources.parquet(spark, path).schema)
      }))
      val schemas = futures.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(schemas.size == 20 && schemas.forall(_ == expected))
    } finally pool.shutdown()
  }
}
