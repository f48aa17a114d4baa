package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet footer reads on the caller's Hadoop conf — the one path
  * behind [[IvfIndex.cellStats]], [[LexIndex.bucketStats]] and the
  * [[Sidecars]] file statistics. `ParquetFileReader.open(InputFile)`
  * alone builds default read options, and with them a fresh
  * `Configuration` per file: the XML defaults parsed again after a
  * classpath scan, ~12 ms a footer. */
private[operators] object Footers {

  def read(conf: Configuration, file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try r.getFooter finally r.close()
  }

  def rowCount(conf: Configuration, file: String): Long = {
    import scala.jdk.CollectionConverters._
    read(conf, new Path(file)).getBlocks.asScala.map(_.getRowCount).sum
  }
}
