package graft.operators

import graft.SparkSpec

/** The shared versioned-directory core as every store sees it. */
class VersionedDirSpec extends SparkSpec {

  private def missing(): String =
    java.nio.file.Files.createTempDirectory("graft-missing").toString +
      "/never-written"

  test("a missing store path fails vacuum and pin with the store's own " +
       "error, never a raw FileNotFoundException") {
    val vacuums: Seq[(String, String => Any)] = Seq(
      "log" -> (p => ManifestedLog.vacuum(spark, p)),
      "ivf" -> (p => IvfIndex.vacuum(spark, p)),
      "lex" -> (p => LexIndex.vacuum(spark, p)),
      "snapshot" -> (p => SnapshotTable.vacuum(spark, p)))
    vacuums.foreach { case (store, vacuum) =>
      val p = missing()
      val e = intercept[IllegalArgumentException](vacuum(p))
      assert(e.getMessage.contains(s"under $p"), s"$store: ${e.getMessage}")
    }
    // java.io.FileNotFoundException is not a RuntimeException, so a raw
    // listing failure fails these intercepts
    val pins: Seq[(String, String => Any)] = Seq(
      "log" -> (p => ManifestedLog.pin(spark, p, "reader", 1L)),
      "ivf" -> (p => IvfIndex.pin(spark, p, "reader", 1L)),
      "lex" -> (p => LexIndex.pin(spark, p, "reader", 1L)))
    pins.foreach { case (store, pin) =>
      val e = intercept[RuntimeException](pin(missing()))
      assert(e.getMessage.contains("not retained"), s"$store: ${e.getMessage}")
    }
  }
}
