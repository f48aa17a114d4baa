package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.sql.{Column, SparkSession}

/** Per-file statistics sidecars — the data-skipping layer shared by
  * [[ManifestedLog]] (ts bounds + key Blooms on the event log's day
  * directories) and [[SnapshotTable]] (key bounds + key Bloom on the
  * materialized CDC state), cf. the public Iceberg manifest-entry /
  * Delta add-file stats designs.
  *
  * A directory's `_stats.txt` lists, per parquet file, its row count and
  * the [min, max] of a BOUNDS column — read from the parquet FOOTERS at
  * write time (no data scan) — plus `#bloom` meta lines carrying a
  * per-file Bloom filter of each requested key column. The sidecar is
  * written before the directory is first referenced by a manifest or
  * commit marker, so it shares the directory's immutability: once
  * published it never changes, and a reader goes manifest → sidecar →
  * exact file set without listing the directory or opening a footer.
  *
  * Write-path shape (the part that must hold at 100 TB):
  *  - ONE Spark aggregate job covers EVERY directory of a sweep and
  *    BOTH Bloom columns — a 30-day backfill pays one pass over the
  *    written bytes' key columns, not 2 jobs × 30 days of driver
  *    round-trips;
  *  - the per-file bit sets stream back to the driver in file-path
  *    order (range-partitioned to a few files per partition), and each
  *    directory's sidecar is written incrementally as its rows arrive —
  *    driver memory stays O(a few files × filter size), never
  *    O(files-in-day × 1 MiB);
  *  - map-side partial OR-merge: per-partition bit sets cross the wire,
  *    never keys.
  *
  * A file whose footer lacks usable bounds statistics records `?` and is
  * never skipped — conservative inclusion, never wrong results. A file
  * whose key column is entirely null (or absent under schema evolution)
  * records an all-zero Bloom and is correctly skippable for every value.
  */
private[operators] object Sidecars {

  val StatsHeader = "graft-day-stats-v1"
  val StatsFile = "_stats.txt"

  /** A parsed `_stats.txt`: the column the per-file [min, max] bounds
    * were captured for (from the `#bounds` header line; None for
    * sidecars predating it) plus the per-file stats. Bounds pruning must
    * be COLUMN-AWARE: a caller probing a different column than the one
    * recorded at write time must not compare its keys against another
    * column's range — that produces false NEGATIVES (silently skipped
    * matching files), the one failure mode a prune may never have. The
    * helpers below apply the bounds only when the queried column matches
    * and fall back to conservative inclusion otherwise. */
  final case class DirStats(boundsCol: Option[String], files: Seq[FileStat]) {
    /** Files that could hold rows with `col` in `[fromV, toV)` —
      * bounds-pruned only when `col` is the recorded bounds column. */
    def overlapping(col: String, fromV: Long, toV: Long): Seq[FileStat] =
      if (boundsCol.contains(col)) files.filter(_.overlaps(fromV, toV))
      else files
    /** Is `f` a candidate for holding any of `values` in `col`?
      * Conservative true when the bounds are for a different column. */
    def mightHold(f: FileStat, col: String, values: Seq[Long]): Boolean =
      !boundsCol.contains(col) || f.mightHold(values)
  }

  final case class FileStat(
      name: String, rows: Long, minV: Option[Long], maxV: Option[Long]) {
    /** Could this file hold rows with the bounds column in
      * `[fromV, toV)`? Unknown → yes. */
    def overlaps(fromV: Long, toV: Long): Boolean = (minV, maxV) match {
      case (Some(lo), Some(hi)) => hi >= fromV && lo < toV
      case _ => true
    }
    /** Could this file hold any of `values` (closed-interval check,
      * for point lookups on the bounds column)? Unknown → yes. */
    def mightHold(values: Seq[Long]): Boolean = (minV, maxV) match {
      case (Some(lo), Some(hi)) => values.exists(v => v >= lo && v <= hi)
      case _ => true
    }
  }

  /** Row count and bounds of one parquet file, from its footer only.
    * Timestamp-typed bounds columns convert to epoch-µs from the
    * logical-type unit (µs native; ns floor-divides — the truncation
    * [[Events.normalizeEventTime]] applies to the data itself, so the
    * bounds are exact for the normalized values readers see); plain
    * INT64/INT32 columns use their raw values. */
  private def footerStat(conf: org.apache.hadoop.conf.Configuration,
                         file: Path, boundsCol: String): FileStat = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    val footer = Footers.read(conf, file)
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val toV: Option[Long => Long] =
      footer.getFileMetaData.getSchema.getFields.asScala
        .find(f => f.getName == boundsCol && f.isPrimitive)
        .flatMap { f =>
          val prim = f.asPrimitiveType
          Option(prim.getLogicalTypeAnnotation) match {
            case Some(t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some((n: Long) => n)
                case LogicalTypeAnnotation.TimeUnit.NANOS =>
                  Some((n: Long) => Math.floorDiv(n, 1000L))
                case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                  Some((n: Long) => Math.multiplyExact(n, 1000L))
                case _ => None
              }
            case Some(_: LogicalTypeAnnotation.IntLogicalTypeAnnotation) | None =>
              prim.getPrimitiveTypeName match {
                case PrimitiveType.PrimitiveTypeName.INT64
                   | PrimitiveType.PrimitiveTypeName.INT32 =>
                  Some((n: Long) => n)
                case _ => None
              }
            case _ => None
          }
        }
    val bounds: Option[(Long, Long)] = toV.flatMap { cv =>
      val perBlock = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == boundsCol).flatMap { cc =>
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            cc.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (lo: java.lang.Long, hi: java.lang.Long) =>
              Some((cv(lo.longValue), cv(hi.longValue)))
            case (lo: java.lang.Integer, hi: java.lang.Integer) =>
              Some((cv(lo.longValue), cv(hi.longValue)))
            case _ => None
          }
        }
      }
      // every row group must report bounds, else the file is unknown
      if (perBlock.exists(_.isEmpty) || perBlock.isEmpty) None
      else Some((perBlock.flatten.map(_._1).min, perBlock.flatten.map(_._2).max))
    }
    FileStat(file.getName, rows, bounds.map(_._1), bounds.map(_._2))
  }

  /** Footer stats for every parquet file of a directory. */
  def dirStats(spark: SparkSession, dir: Path, boundsCol: String): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs(spark, dir).listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => footerStat(conf, s.getPath, boundsCol)).sortBy(_.name).toSeq
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base64Of(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def longsOf(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Up-to-two-column Bloom aggregation buffer (Encoders.product). */
  final case class BloomBufs(a: Array[Long], b: Array[Long])

  /** Write `_stats.txt` into every directory of a sweep. Must be called
    * strictly BEFORE the directories are referenced by a manifest /
    * commit marker, so no reader can observe one without its sidecar.
    * `tableSchema` is the authoritative schema when the caller holds it
    * (skips a per-directory inference read); None infers from the first
    * directory. Bloom filters are sized from the largest file's footer
    * row count across the sweep (~16 bits/row, 4 Ki..8 Mi bits) and
    * built for the `bloomCols` (max 2) present with an integral type —
    * a lossy cast would silently produce false NEGATIVES, the one
    * failure mode a Bloom prune must never have. */
  def write(spark: SparkSession, dirs: Seq[Path], tableSchema: Option[StructType],
            boundsCol: String, bloomCols: Seq[String]): Unit = {
    require(bloomCols.size <= 2, s"at most 2 bloom columns, got $bloomCols")
    if (dirs.isEmpty) return
    import graft.functions.BloomKernel
    val f = fs(spark, dirs.head)
    val statsByDir: Seq[(Path, Seq[FileStat])] =
      dirs.map(d => d -> dirStats(spark, d, boundsCol))
    val schema = tableSchema.getOrElse(
      spark.read.parquet(dirs.head.toString).schema)
    val liveBloomCols = bloomCols.filter { c =>
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType | IntegerType) => true
        case _ => false
      }
    }
    val maxRows = statsByDir.flatMap(_._2).map(_.rows).maxOption.getOrElse(0L)
    val numBits = {
      val target = math.min(1L << 23, math.max(1L << 12, maxRows * 16L))
      java.lang.Long.highestOneBit(target * 2L - 1L).toInt // round up to pow2
    }
    val numHashes = 6

    def headerLines(stats: Seq[FileStat]): Seq[String] =
      StatsHeader +: s"#bounds\t$boundsCol" +: stats.map { st =>
        s"${st.name}\t${st.rows}\t${st.minV.fold("?")(_.toString)}" +
          s"\t${st.maxV.fold("?")(_.toString)}"
      }

    if (liveBloomCols.isEmpty) {
      statsByDir.foreach { case (dir, stats) =>
        val out = f.create(new Path(dir, StatsFile), true)
        try out.write(headerLines(stats).mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
      }
      return
    }

    // ONE aggregate job over every directory and both key columns: only
    // the key columns are read (columnar, proportional to the sweep; the
    // write path already paid orders of magnitude more to produce the
    // files). Missing columns (schema evolution) read as null through
    // the explicit schema and produce an all-zero — correctly skippable
    // — filter.
    import spark.implicits._
    val readSchema = StructType(
      schema.fields.filter(fd => liveBloomCols.contains(fd.name)))
    val keyCols: Seq[Column] =
      liveBloomCols.map(c => col(c).cast("long")) ++
        Seq.fill(2 - liveBloomCols.size)(lit(null).cast("long"))
    val words = BloomKernel.words(numBits)
    val agg = new org.apache.spark.sql.expressions.Aggregator[
        (String, Option[Long], Option[Long]), BloomBufs, BloomBufs] {
      override def zero: BloomBufs =
        BloomBufs(new Array[Long](words), new Array[Long](words))
      override def reduce(buf: BloomBufs,
                          kv: (String, Option[Long], Option[Long])): BloomBufs = {
        kv._2.foreach(BloomKernel.insert(buf.a, _, numHashes))
        kv._3.foreach(BloomKernel.insert(buf.b, _, numHashes))
        buf
      }
      override def merge(x: BloomBufs, y: BloomBufs): BloomBufs = {
        var i = 0
        while (i < x.a.length) { x.a(i) |= y.a(i); x.b(i) |= y.b(i); i += 1 }
        x
      }
      override def finish(r: BloomBufs): BloomBufs = r
      override def bufferEncoder: org.apache.spark.sql.Encoder[BloomBufs] =
        org.apache.spark.sql.Encoders.product
      override def outputEncoder: org.apache.spark.sql.Encoder[BloomBufs] =
        org.apache.spark.sql.Encoders.product
    }
    val cols = liveBloomCols // stable copy for the closure
    val bits = numBits; val hashes = numHashes
    val nFiles = statsByDir.map(_._2.size).sum
    // a few files per range partition → the driver's toLocalIterator
    // buffer holds a few MiB of bit sets, independent of sweep size
    val nParts = math.max(spark.sessionState.conf.numShufflePartitions,
                          (nFiles + 3) / 4)
    val lines = spark.read.schema(readSchema)
      .parquet(dirs.map(_.toString): _*)
      .select((input_file_name().as("_f") +: keyCols): _*)
      .as[(String, Option[Long], Option[Long])]
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .map { case (file, bufs) =>
        val short = file.substring(file.lastIndexOf('/') + 1)
        val parent = {
          val noFile = file.substring(0, file.lastIndexOf('/'))
          noFile.substring(noFile.lastIndexOf('/') + 1)
        }
        val bloomLines = cols.zipWithIndex.map { case (c, i) =>
          val bitset = if (i == 0) bufs.a else bufs.b
          s"#bloom\t$short\t$c\t$bits\t$hashes\t" + base64Of(bitset)
        }
        (parent, short, bloomLines)
      }
      .repartitionByRange(nParts, col("_1"), col("_2"))
      .sortWithinPartitions(col("_1"), col("_2"))

    // stream the sorted (dir, file, lines) rows: directories arrive
    // contiguously, so each sidecar opens once, writes its stat lines,
    // appends bloom lines as they stream in, and closes when the next
    // directory starts — O(partition) driver memory, never O(sweep)
    val statsByName: Map[String, (Path, Seq[FileStat])] =
      statsByDir.map { case (d, st) => d.getName -> ((d, st)) }.toMap
    var curDir: String = null
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    val opened = scala.collection.mutable.HashSet.empty[String]
    def closeCur(): Unit = if (out != null) { out.write('\n'); out.close(); out = null }
    def openDir(name: String): Unit = {
      val (dir, stats) = statsByName.getOrElse(name, sys.error(
        s"bloom aggregate returned rows for unknown directory '$name'"))
      out = f.create(new Path(dir, StatsFile), true)
      out.write(headerLines(stats).mkString("\n").getBytes("UTF-8"))
      opened += name
      curDir = name
    }
    // The drain holds one open stream across the iterator; a failure
    // mid-stream (task retry exhaustion, unknown-directory error) must
    // not leak it or leave a torn sidecar behind — the directory is
    // unreferenced until publish, but that invariant should not be the
    // only thing standing between a crash and a half-written _stats.txt
    // with a truncated base64 #bloom line. On failure, close the stream
    // and DELETE the partial file so the directory reads as
    // sidecar-less (conservative full scan), never as a corrupt prune.
    try {
      val it = lines.toLocalIterator()
      while (it.hasNext) {
        val (dirName, _, bloomLines) = it.next()
        if (dirName != curDir) { closeCur(); openDir(dirName) }
        bloomLines.foreach(l => out.write(s"\n$l".getBytes("UTF-8")))
      }
      closeCur()
    } catch {
      case e: Throwable =>
        if (out != null) {
          try out.close() catch { case _: Throwable => () }
          out = null
          if (curDir != null) statsByName.get(curDir).foreach { case (dir, _) =>
            try f.delete(new Path(dir, StatsFile), false)
            catch { case _: Throwable => () }
          }
        }
        throw e
    }
    // directories whose files produced no aggregate rows (empty files)
    // still get a stats-only sidecar
    statsByDir.foreach { case (dir, stats) =>
      if (!opened.contains(dir.getName)) {
        val o = f.create(new Path(dir, StatsFile), true)
        try o.write(headerLines(stats).mkString("", "\n", "\n").getBytes("UTF-8"))
        finally o.close()
      }
    }
  }

  /** The sidecar of a published directory; None for directories written
    * before sidecars existed (readers fall back to the whole-directory
    * scan — older tables keep working unchanged). The `#bounds` header
    * line names the column the min/max were captured for; a sidecar
    * predating that line parses with `boundsCol = None` and its bounds
    * are never applied (conservative include). */
  def read(spark: SparkSession, dir: Path): Option[DirStats] = {
    val f = fs(spark, dir)
    val p = new Path(dir, StatsFile)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val lines = text.linesIterator.toList
    if (!lines.headOption.contains(StatsHeader)) return None
    def parse(s: String): Option[Long] = if (s == "?") None else Some(s.toLong)
    val boundsCol = lines.collectFirst {
      case l if l.startsWith("#bounds\t") => l.stripPrefix("#bounds\t").trim
    }.filter(_.nonEmpty)
    val files = lines.drop(1).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split('\t') match {
        case Array(name, rows, lo, hi) =>
          FileStat(name, rows.toLong, parse(lo), parse(hi))
        case _ => sys.error(s"malformed stats line in $p: '$l'")
      }
    }
    Some(DirStats(boundsCol, files))
  }

  /** `(file, col) → (bits, numHashes)` from a directory's sidecar
    * `#bloom` lines; empty for sidecars predating blooms. */
  def readBlooms(spark: SparkSession, dir: Path)
      : Map[(String, String), (Array[Long], Int)] = {
    val f = fs(spark, dir)
    val p = new Path(dir, StatsFile)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    text.linesIterator.filter(_.startsWith("#bloom\t")).map { l =>
      l.split('\t') match {
        case Array(_, file, c, _, k, b64) =>
          (file, c) -> ((longsOf(java.util.Base64.getDecoder.decode(b64)), k.toInt))
        case _ => sys.error(s"malformed #bloom line in $p: '$l'")
      }
    }.toMap
  }
}
