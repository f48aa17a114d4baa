package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-backed day-partitioned event log — the table-format answer
  * to [[Events.compactDay]]'s documented rename window (cf. the public
  * Iceberg/Delta designs: immutable data directories + an atomic
  * pointer).
  *
  * Layout:
  * {{{
  *   <root>/manifest-000000001.txt      # newest version wins
  *   <root>/dt=2024-01-10.v1/ ...       # immutable once referenced
  *   <root>/dt=2024-01-10.v2/ ...       # compaction writes a NEW dir
  * }}}
  *
  * Invariants that make every operation crash-safe and reader-safe:
  *  - data directories are IMMUTABLE once a manifest references them;
  *    compaction writes a fresh `dt=<day>.v<n+1>` directory and never
  *    touches the old one;
  *  - the only mutation is publishing the next manifest file, and that
  *    is write-tmp → rename-to-new-name — atomic on HDFS and local
  *    filesystems (the target never exists, so no delete window);
  *  - readers resolve the newest manifest ONCE per query and then read
  *    only directories it lists: a concurrent compaction publishes a
  *    new manifest without disturbing the directories an in-flight
  *    reader already resolved;
  *  - a crash anywhere before the manifest rename leaves the table
  *    exactly as it was — the half-written `.v<n+1>` directory is
  *    unreferenced garbage for [[vacuum]].
  *
  * The manifest format is deliberately trivial (header line + one
  * `day<TAB>dirname` line per day): zero parsing dependencies, diffable,
  * and the version number lives in the FILENAME so "newest" needs no
  * file reads. At 100 TB the per-day granularity keeps the manifest at
  * O(days) lines, not O(files) — file enumeration stays inside each
  * day's directory listing, which [[loadRange]] only does for days that
  * survive pruning.
  */
object ManifestedLog {

  private val Header = "graft-event-log-manifest-v1"

  // Per-file statistics sidecars (`_stats.txt`: ts bounds + key Blooms)
  // live in [[Sidecars]] — shared with [[SnapshotTable]]. At 100 TB the
  // sidecars turn a range read's planning cost from O(files) footer
  // round-trips into O(days-in-range) small-file reads, and the
  // manifest itself stays O(days) lines.

  /** Key columns that get a per-file Bloom filter in the sidecar (when
    * present with an integral type). user_id is THE unclustered
    * point-lookup key of an event log ("all events of user X");
    * event_id covers the single-record ops lookup ("find this exact
    * event") — together they cost ONE key-column aggregate pass at
    * write time (both filters build in the same job), and files tile on
    * ts, so without them either query scans every file of every day. */
  private val SidecarBloomCols = Seq("user_id", "event_id")

  private def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(spark: SparkSession, path: String): VersionedDir = {
    val root = new Path(path)
    new VersionedDir(fs(spark, root), root, "manifest")
  }

  /** All table writes force INT64-micros timestamps: Spark's default
    * INT96 encoding ships no column statistics, which would void both
    * the footer-derived `_stats.txt` sidecars and in-file row-group
    * pruning (Sessions.builder sets this globally; repeated here for
    * sessions built elsewhere).
    *
    * Writes also enable parquet's NATIVE per-row-group Bloom filter on
    * the point-lookup key (adaptive sizing — parquet picks the filter
    * size from the actual NDV instead of a 1 MiB default that would
    * dwarf small files): the sidecar Bloom prunes FILES without opening
    * them, and inside a surviving file the pushed `user_id = X`
    * predicate then Bloom-prunes ROW GROUPS — the reader applies footer
    * blooms automatically under Spark's parquet filter pushdown. */
  private def ensureMicrosWrites(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val hc = spark.sparkContext.hadoopConfiguration
    SidecarBloomCols.foreach { c =>
      hc.set(s"parquet.bloom.filter.enabled#$c", "true")
    }
    hc.set("parquet.bloom.filter.adaptive.enabled", "true")
  }

  /** (version, day → data-dir name) of the newest manifest. */
  def readManifest(spark: SparkSession, path: String): (Long, Map[String, String]) = {
    val m = newest(spark, path)
    (m.version, m.days)
  }

  /** All manifest versions still on disk, ascending — the table's
    * retained history ([[vacuum]] trims it to the newest). */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    dir(spark, path).versions

  /** Day map of a SPECIFIC retained manifest version — time travel.
    * Versions are immutable once published and their data directories
    * survive until [[vacuum]], so pinning a version pins the exact byte
    * content a training run read ("train on table@v12" reproducibility).
    * Fails loudly when the version was vacuumed — a reproducibility
    * claim must never silently degrade to "newest". */
  def readManifestAt(spark: SparkSession, path: String,
                     version: Long): Map[String, String] =
    manifestAt(spark, path, version).days

  /** Full read of a pinned version (time travel). */
  def loadAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val m = manifestAt(spark, path, version)
    val dirs = m.days.toSeq.sortBy(_._1)
      .map { case (_, dir) => new Path(new Path(path), dir).toString }
    require(dirs.nonEmpty, s"manifest version $version of $path lists no days")
    Events.normalizeEventTime(readDirs(spark, dirs, m.schema))
  }

  /** As [[readManifest]], but None for an uninitialized/absent table —
    * the state [[append]] bootstraps from. */
  def readManifestOpt(spark: SparkSession,
                      path: String): Option[(Long, Map[String, String])] =
    newestOpt(spark, path).map(m => (m.version, m.days))

  /** A parsed manifest: its version, the day → directory map and the
    * table schema, from one open of the file — every call reads its
    * manifest through [[newest]]/[[manifestAt]] once.
    * The schema line (`#schema<TAB><StructType json>`) is what makes
    * SCHEMA EVOLUTION cheap at scale: readers take the authoritative
    * current schema from the manifest (parquet fills columns missing in
    * older files with null) instead of merging O(files) footers; early
    * manifests without the line fall back to footer inference. */
  private final case class Manifest(version: Long, days: Map[String, String],
                                    schema: Option[StructType])

  private def newestOpt(spark: SparkSession, path: String): Option[Manifest] = {
    val d = dir(spark, path)
    d.versions.lastOption.map(parseManifest(d, _))
  }

  private def newest(spark: SparkSession, path: String): Manifest =
    newestOpt(spark, path).getOrElse(
      sys.error(s"no manifest under $path — not a manifested event log"))

  /** A retained version; fails loudly when it was vacuumed. */
  private def manifestAt(spark: SparkSession, path: String,
                         version: Long): Manifest = {
    val d = dir(spark, path)
    if (!d.exists(version)) sys.error(
      s"manifest version $version of $path is not retained " +
        s"(have: ${d.versions.mkString(", ")}) — vacuumed history " +
        "cannot be time-traveled to")
    parseManifest(d, version)
  }

  private def parseManifest(d: VersionedDir, v: Long): Manifest = {
    val (meta, dayLines) = d.lines(v, Header).partition(_.startsWith("#"))
    val schema = meta.collectFirst {
      case l if l.startsWith("#schema\t") =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("#schema\t"))
          .asInstanceOf[StructType]
    }
    Manifest(v, dayLines.map { l =>
      l.split('\t') match {
        case Array(day, dir) => day -> dir
        case _ => sys.error(s"malformed manifest line in ${d.file(v)}: '$l'")
      }
    }.toMap, schema)
  }

  /** Publish `days` as manifest version `version` — atomically, through
    * [[VersionedDir.publish]]: a version a concurrent writer already
    * holds throws [[ConcurrentWriteException]], which [[append]] absorbs
    * by retrying from the new manifest. */
  private def publish(spark: SparkSession, path: String, version: Long,
                      days: Map[String, String],
                      schema: Option[StructType]): Unit =
    dir(spark, path).publish(version, Header +:
      (schema.map(s => s"#schema\t${s.json}").toSeq ++
        days.toSeq.sortBy(_._1).map { case (day, name) => s"$day\t$name" }))

  /** Logical version of a day directory name
    * `dt=<day>.v<n>[-<token>]` — append-written dirs carry the writer
    * token suffix, [[write]]/compaction dirs do not. */
  private def dirVersion(dir: String): Long =
    dir.substring(dir.lastIndexOf(".v") + 2).takeWhile(_.isDigit).toLong

  /** The table schema recorded in a manifest (newest, or a pinned
    * version); None for early tables predating the schema line, which
    * read by footer inference instead. */
  def readSchemaAt(spark: SparkSession, path: String,
                   version: Long): Option[StructType] =
    manifestAt(spark, path, version).schema

  def readSchema(spark: SparkSession, path: String): Option[StructType] =
    newest(spark, path).schema

  /** Read a set of day directories under the table's authoritative
    * schema when one is recorded: columns added by later appends
    * surface as null in days written before them, with zero footer
    * merging. */
  private def readDirs(spark: SparkSession, dirs: Seq[String],
                       schema: Option[StructType]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  /** The schema an append publishes: existing columns keep their
    * position and type, brand-new incoming columns are appended. A
    * same-name type conflict fails loudly — silent coercion at 100 TB
    * is how a table corrupts. */
  private def mergeSchemas(current: Option[StructType],
                           incoming: StructType): StructType =
    current match {
      case None => incoming
      case Some(cur) =>
        incoming.fields.foreach { fNew =>
          cur.fields.find(_.name == fNew.name).foreach { fOld =>
            if (fOld.dataType != fNew.dataType) sys.error(
              s"schema conflict on column '${fNew.name}': table has " +
                s"${fOld.dataType.simpleString}, batch has " +
                s"${fNew.dataType.simpleString} — evolve by ADDING columns, " +
                "not retyping them")
          }
        }
        val known = cur.fieldNames.toSet
        StructType(cur.fields ++ incoming.fields.filterNot(f => known(f.name)))
    }

  /** Initialize the table: one `dt=<day>.v1` directory per UTC day plus
    * manifest version 1. Same shuffle-free sorted write as
    * [[Events.writeDayPartitioned]] (files ascend by ts → tight row
    * groups), then the flat partition tree is renamed into versioned
    * day directories before the first manifest publishes — readers can
    * never observe a half-built table. */
  def write(events: DataFrame, path: String): Unit = {
    val spark = events.sparkSession
    ensureMicrosWrites(spark)
    val root = new Path(path)
    val f = fs(spark, root)
    val staging = new Path(root, ".staging-v1")
    events
      .withColumn("dt", Events.utcDt(col("ts")))
      .sortWithinPartitions(col("dt"), col("ts"))
      .write.mode("overwrite").partitionBy("dt").parquet(staging.toString)
    val days = f.listStatus(staging).map(_.getPath.getName)
      .filter(_.startsWith("dt=")).sorted
    val mapping = days.map { dirName =>
      val day = dirName.stripPrefix("dt=")
      val target = new Path(root, s"dt=$day.v1")
      if (f.exists(target)) f.delete(target, true)
      if (!f.rename(new Path(staging, dirName), target))
        sys.error(s"staging rename failed for $dirName")
      day -> s"dt=$day.v1"
    }.toMap
    f.delete(staging, true)
    writeSidecars(spark, root, mapping.values.toSeq, Some(events.schema))
    publish(spark, path, 1L, mapping, Some(events.schema))
  }

  /** One sidecar sweep over freshly-written day directories — a single
    * Spark job builds every directory's per-file ts bounds and BOTH key
    * Blooms (see [[Sidecars.write]]); must run before the dirs are
    * referenced by a manifest. */
  private def writeSidecars(spark: SparkSession, root: Path,
                            dirNames: Seq[String],
                            schema: Option[StructType]): Unit =
    Sidecars.write(spark, dirNames.sorted.map(new Path(root, _)),
      schema, boundsCol = "ts", bloomCols = SidecarBloomCols)

  /** Range read `[fromUs, toUs)`: three pruning layers, each cheaper
    * than the one below it —
    *  1. DAY pruning against the MANIFEST (no filesystem access outside
    *     qualifying days);
    *  2. FILE pruning against each qualifying day's `_stats.txt`
    *     sidecar: only files whose recorded [min, max] ts intersects
    *     the range are handed to the scan — no directory listing, no
    *     footer reads for skipped files (days written before sidecars
    *     existed fall back to the whole-directory read);
    *  3. the native-type pushed predicate prunes ROW GROUPS within the
    *     surviving files. */
  def loadRange(spark: SparkSession, path: String,
                fromUs: Long, toUs: Long): DataFrame = {
    val Manifest(_, days, schema) = newest(spark, path)
    val fromDt = Events.usLocalDateTime(fromUs).toLocalDate.toString
    val toDt   = Events.usLocalDateTime(toUs - 1L).toLocalDate.toString
    val root = new Path(path)
    val paths = days.toSeq
      .filter { case (d, _) => d >= fromDt && d <= toDt }
      .sortBy(_._1)
      .flatMap { case (_, dir) =>
        val dayDir = new Path(root, dir)
        Sidecars.read(spark, dayDir) match {
          case Some(ds) => ds.overlapping("ts", fromUs, toUs)
            .map(st => new Path(dayDir, st.name).toString)
          case None => Seq(dayDir.toString)
        }
      }
    if (paths.isEmpty) {
      // preserve the schema without reading data: scan any one day, keep 0 rows
      val any = days.toSeq.sortBy(_._1).headOption.getOrElse(
        sys.error(s"manifested log at $path lists no days"))
      return Events.normalizeEventTime(readDirs(spark,
        Seq(new Path(root, any._2).toString), schema).limit(0))
    }
    Events.normalizeEventTime(
      Events.timeRange(readDirs(spark, paths, schema), fromUs, toUs))
  }

  /** Point lookup on an UNCLUSTERED key: all rows with `keyCol` in
    * `values`, reading only the files whose sidecar Bloom filter might
    * contain one of the values. Files tile on ts, so without this every
    * file of every day is opened for a "all events of user X" query; with
    * it the read set shrinks to the ~fp-rate fraction that can match
    * (no false negatives — [[graft.functions.BloomKernel]]'s contract —
    * so the result equals the full-scan filter exactly; the pushed
    * equality predicate still row-group-prunes within surviving files).
    * Files or days without a Bloom for `keyCol` are conservatively
    * included. Planning cost: O(days) sidecar reads, zero data reads for
    * skipped files. */
  def loadByKey(spark: SparkSession, path: String, keyCol: String,
                values: Seq[Long]): DataFrame =
    loadByKeyRange(spark, path, keyCol, values, Long.MinValue, Long.MaxValue)

  /** [[loadByKey]] restricted to `[fromUs, toUs)` — "user X last week",
    * the realistic point query. All three metadata layers compose:
    * manifest day pruning on the range, then per-file sidecar ts-bounds
    * AND key-Bloom (a file survives only if it can match BOTH), then
    * the pushed conjunction prunes row groups in the survivors. */
  def loadByKeyRange(spark: SparkSession, path: String, keyCol: String,
                     values: Seq[Long], fromUs: Long, toUs: Long): DataFrame = {
    import graft.functions.BloomKernel
    require(values.nonEmpty, "loadByKey needs at least one key value")
    val Manifest(_, days, schema) = newest(spark, path)
    val root = new Path(path)
    // each bound clamps INDEPENDENTLY: a half-open range (one sentinel
    // end) must not push its extreme through usLocalDateTime (throws) or
    // into the data predicate (overflows) — only the finite side prunes
    val fromOpt = if (fromUs == Long.MinValue) None else Some(fromUs)
    val toOpt   = if (toUs == Long.MaxValue) None else Some(toUs)
    val fromDt = fromOpt.map(u => Events.usLocalDateTime(u).toLocalDate.toString)
    val toDt   = toOpt.map(u => Events.usLocalDateTime(u - 1L).toLocalDate.toString)
    val paths = days.toSeq
      .filter { case (d, _) => fromDt.forall(d >= _) && toDt.forall(d <= _) }
      .sortBy(_._1)
      .flatMap { case (_, dir) =>
        val dayDir = new Path(root, dir)
        Sidecars.read(spark, dayDir) match {
          case Some(ds) =>
            val blooms = Sidecars.readBlooms(spark, dayDir)
            ds.overlapping("ts", fromUs, toUs).filter { st =>
              blooms.get((st.name, keyCol)) match {
                case Some((bits, k)) =>
                  values.exists(v => BloomKernel.mightContain(bits, v, k))
                case None => true // no bloom recorded: never skip
              }
            }.map(st => new Path(dayDir, st.name).toString)
          case None => Seq(dayDir.toString)
        }
      }
    val pred = if (values.size == 1) col(keyCol) === values.head
               else col(keyCol).isin(values: _*)
    if (paths.isEmpty) {
      val any = days.toSeq.sortBy(_._1).headOption.getOrElse(
        sys.error(s"manifested log at $path lists no days"))
      return Events.normalizeEventTime(readDirs(spark,
        Seq(new Path(root, any._2).toString), schema).limit(0))
    }
    val base = readDirs(spark, paths, schema).filter(pred)
    Events.normalizeEventTime(Events.timeRangeOpen(base, fromOpt, toOpt))
  }

  /** Per-day table profile from METADATA ONLY — the manifest names the
    * days, each day's sidecar carries per-file rows and ts bounds, and
    * nothing reads a data byte (a day predating sidecars pays one
    * footer pass, still no data). At 100 TB this is the monitoring /
    * planning query ("how big is each day, is ingest current, where are
    * the bounds") that must not cost a table scan. Row counts are exact
    * (footer counts); bounds are exact for the normalized µs values.
    * Returns one row per day: dt, n_files, n_rows, min_ts_us, max_ts_us. */
  def dayStats(spark: SparkSession, path: String): DataFrame = {
    val (_, days) = readManifest(spark, path)
    val root = new Path(path)
    val rows = days.toSeq.sortBy(_._1).map { case (day, dir) =>
      val dayDir = new Path(root, dir)
      // a sidecar whose recorded bounds are for some other column would
      // misreport ts bounds — recompute from footers in that case (the
      // log always writes ts-bounds sidecars, so this is a guard, not a
      // hot path)
      val stats = Sidecars.read(spark, dayDir)
        .filter(_.boundsCol.contains("ts")).map(_.files)
        .getOrElse(Sidecars.dirStats(spark, dayDir, "ts"))
      val bounds = stats.map(s => (s.minV, s.maxV))
      val known = bounds.forall { case (lo, hi) => lo.isDefined && hi.isDefined }
      (day, stats.size.toLong, stats.map(_.rows).sum,
        if (known && bounds.nonEmpty) bounds.map(_._1.get).min else null.asInstanceOf[Any],
        if (known && bounds.nonEmpty) bounds.map(_._2.get).max else null.asInstanceOf[Any])
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dt", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("n_files", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("min_ts_us", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("max_ts_us", org.apache.spark.sql.types.LongType, true)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5)).asJava,
      schema)
  }

  /** Full-table read (all days of the newest manifest). */
  def load(spark: SparkSession, path: String): DataFrame = {
    val m = newest(spark, path)
    val dirs = m.days.toSeq.sortBy(_._1)
      .map { case (_, dir) => new Path(new Path(path), dir).toString }
    require(dirs.nonEmpty, s"manifested log at $path lists no days")
    Events.normalizeEventTime(readDirs(spark, dirs, m.schema))
  }

  /** Compact one day into ~targetBytes ts-range-tiled files, then flip
    * the manifest. The old version directory is untouched (in-flight
    * readers keep a consistent view); [[vacuum]] reclaims it. Returns
    * the new file count. */
  def compactDay(spark: SparkSession, path: String, dt: String,
                 targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    ensureMicrosWrites(spark)
    val root = new Path(path)
    val f = fs(spark, root)
    val Manifest(version, days, schema) = newest(spark, path)
    val currentDir = days.getOrElse(dt,
      sys.error(s"day $dt is not in the manifest of $path"))
    val nextDir = s"dt=$dt.v${dirVersion(currentDir) + 1}"
    val target = new Path(root, nextDir)
    if (f.exists(target)) f.delete(target, true) // unreferenced leftover
    val dayPath = new Path(root, currentDir)
    val totalBytes = f.getContentSummary(dayPath).getLength
    val parts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    // compacting under the table schema also MIGRATES the day: columns
    // added by later appends materialize (as null) in the rewritten files
    readDirs(spark, Seq(dayPath.toString), schema)
      .repartitionByRange(parts, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(target.toString)
    f.delete(new Path(target, "_SUCCESS"), false)
    writeSidecars(spark, root, Seq(nextDir), schema)
    publish(spark, path, version + 1, days.updated(dt, nextDir), schema)
    parts.toLong
  }

  /** Compaction discovery over the manifest: rewrite every CLOSED day
    * (entirely at or before `watermarkUs` — the open day and anything
    * late data can still reach are skipped) that is FRAGMENTED (more
    * files than the `targetBytes` tiling needs), then flip the manifest
    * ONCE — unlike per-day [[compactDay]] loops, readers go from the
    * old layout to the fully-compacted one in a single atomic step, and
    * a crash mid-run leaves only unreferenced `.v<n+1>` garbage for
    * [[vacuum]]. Discovery reads the manifest (O(days) lines, no
    * listing) plus one file-status listing per closed day; an
    * already-compact day costs a listing to skip, never a data read.
    *
    * Returns day → new file count for exactly the days rewritten; an
    * empty map publishes nothing.
    *
    * RACING INGEST: the scheduled maintenance sweep legitimately runs
    * beside live appenders (the maintain-vs-ingest pair). When an
    * appender wins the manifest version mid-sweep, the sweep's publish
    * throws [[ConcurrentWriteException]]; this method deletes its stale
    * rewrites and retries discovery against the fresh manifest (bounded
    * — a compacted-by-the-retry day may now include the appender's new
    * rows, which is exactly right). Two MAINTAINERS racing remains a
    * deployment error by contract; the retry merely also absorbs it. */
  def compactClosedDays(spark: SparkSession, path: String, watermarkUs: Long,
                        targetBytes: Long = 128L << 20): Map[String, Long] = {
    var attempt = 0
    var last: ConcurrentWriteException = null
    while (attempt <= MaxAppendRetries) {
      try return compactClosedDaysOnce(spark, path, watermarkUs, targetBytes)
      catch {
        case e: ConcurrentWriteException => last = e; attempt += 1
      }
    }
    throw ConcurrentWriteException(
      s"compaction sweep of $path lost the manifest race $attempt times " +
        s"(last: ${last.getMessage})")
  }

  private def compactClosedDaysOnce(spark: SparkSession, path: String,
                                    watermarkUs: Long,
                                    targetBytes: Long): Map[String, Long] = {
    require(targetBytes > 0, "targetBytes must be positive")
    ensureMicrosWrites(spark)
    val root = new Path(path)
    val f = fs(spark, root)
    val Manifest(version, days, schema) = newest(spark, path)
    val rewritten = days.toSeq.sortBy(_._1).flatMap { case (dt, dir) =>
      if (Events.dayBoundsUs(dt)._2 > watermarkUs) None
      else {
        val dayPath = new Path(root, dir)
        val files = f.listStatus(dayPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val needed = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        if (files.length <= needed) None
        else {
          val nextDir = s"dt=$dt.v${dirVersion(dir) + 1}"
          val target = new Path(root, nextDir)
          if (f.exists(target)) f.delete(target, true) // unreferenced leftover
          readDirs(spark, Seq(dayPath.toString), schema)
            .repartitionByRange(needed.toInt, col("ts"))
            .sortWithinPartitions(col("ts"))
            .write.mode("overwrite").parquet(target.toString)
          f.delete(new Path(target, "_SUCCESS"), false)
          Some((dt, nextDir, needed))
        }
      }
    }
    if (rewritten.isEmpty) return Map.empty
    writeSidecars(spark, root, rewritten.map(_._2), schema)
    try publish(spark, path, version + 1,
      days ++ rewritten.map { case (dt, dir, _) => dt -> dir }, schema)
    catch {
      case e: ConcurrentWriteException =>
        // an appender won the version: these rewrites are stale (the
        // retry re-discovers against the fresh manifest, which may have
        // grown the very days just rewritten) — delete eagerly
        rewritten.foreach { case (_, dir, _) =>
          try f.delete(new Path(root, dir), true)
          catch { case _: Throwable => () }
        }
        throw e
    }
    rewritten.map { case (dt, _, n) => dt -> n }.toMap
  }

  /** Incremental batch append — the every-batch ingest shape of a
    * growing log. Days not yet in the manifest get a fresh `v1`
    * directory; days that exist are rewritten copy-on-write
    * (`v<n+1>` = old ∪ new), then ONE manifest publish covers the whole
    * batch atomically — readers see all of the batch or none of it.
    *
    * With `dedupKey` set (the default, `event_id`), the union
    * deduplicates latest-wins by key within each rewritten day AND new
    * days drop in-batch duplicates, so re-delivering the same batch is
    * a no-op — append is IDEMPOTENT, which upgrades at-least-once
    * delivery (streaming `foreachBatch` retries, job restarts) to
    * effective exactly-once without a commit log. Pass None for
    * append-only logs whose duplicates are meaningful.
    *
    * Copy-on-write cost is proportional to the TOUCHED days, not the
    * log: with event-time-bucketed arrivals a batch touches the open
    * day (small, recent) and a late-data tail — the standard hot/cold
    * asymmetry this layout is built around.
    *
    * SCHEMA EVOLUTION: a batch may carry columns the table doesn't have
    * yet — they append to the table schema in the published manifest and
    * surface as null in untouched days; a batch may also OMIT existing
    * columns (null-filled in the rewritten days). A same-name type
    * conflict fails loudly. Returns the new manifest version.
    *
    * TWO WRITE REGIMES, picked by touched-day count (both publish the
    * identical table — pinned in ManifestedLogSpec):
    *  - ≤ [[BackfillDays]] days (the hot/cold ingest shape): per-day
    *    copy-on-write — each day is one filter pass over the batch plus
    *    one write job, and the batch stays cached-scan-sized;
    *  - more days (a backfill / replay batch): the per-day loop would
    *    re-scan the batch once per day and pay O(days) driver
    *    round-trip write jobs, so instead ONE dt-partitioned job writes
    *    the whole union (touched old days ∪ batch, deduped per
    *    (day, key)) into a staging tree that renames into the versioned
    *    day directories — a 30-day backfill pays one pass, not 30.
    *
    * CONCURRENT APPENDERS both land exactly-once: every append
    * attempt's day directories carry a writer-unique token suffix
    * (`dt=<day>.v<n>-<token>`), so two racers never touch each other's
    * staged bytes — the only contended step is the atomic manifest
    * rename. The loser's publish throws [[ConcurrentWriteException]];
    * append deletes its now-stale staged dirs, re-reads the winner's
    * manifest (whose new day content it then unions), and retries, up
    * to [[MaxAppendRetries]] times before surfacing the error. The
    * result under any interleaving is the union of both batches in one
    * linear version chain (spec: two threaded appenders, both
    * regimes). */
  def append(events: DataFrame, path: String,
             dedupKey: Option[String] = Some("event_id")): Long = {
    var attempt = 0
    var last: ConcurrentWriteException = null
    while (attempt <= MaxAppendRetries) {
      try return appendOnce(events, path, dedupKey)
      catch {
        case e: ConcurrentWriteException => last = e; attempt += 1
      }
    }
    throw ConcurrentWriteException(
      s"append to $path lost the manifest race $attempt times — " +
        s"writer contention is pathological (last: ${last.getMessage})")
  }

  /** Retry budget for [[append]]'s manifest race. Each retry means a
    * competitor PUBLISHED (the system made progress), so this bounds
    * starvation reporting, not correctness. */
  private val MaxAppendRetries = 5

  private def appendOnce(events: DataFrame, path: String,
                         dedupKey: Option[String]): Long = {
    val spark = events.sparkSession
    ensureMicrosWrites(spark)
    val root = new Path(path)
    val f = fs(spark, root)
    // bootstrap: appending to an uninitialized table creates version 1
    val Manifest(version, days, recorded) =
      newestOpt(spark, path).getOrElse(Manifest(0L, Map.empty, None))
    // the table's current schema: from the manifest when recorded, by
    // one-off footer merge for tables predating the schema line
    val current: Option[StructType] =
      if (version == 0L) None
      else recorded.orElse {
        val dirs = days.toSeq.sortBy(_._1)
          .map { case (_, dir) => new Path(root, dir).toString }
        Some(spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema)
      }
    val merged = mergeSchemas(current, events.schema)
    val staged = events.withColumn("dt", Events.utcDt(col("ts")))
    val batchDays = staged.select(col("dt")).distinct()
      .collect().map(_.getString(0)).sorted
    if (batchDays.isEmpty) return version

    // every dir this attempt writes carries the attempt's token, so a
    // racing appender can never overwrite it; a lost race deletes them
    val token = VersionedDir.token()
    def nextDirName(day: String): String = days.get(day) match {
      case Some(cur) => s"dt=$day.v${dirVersion(cur) + 1}-$token"
      case None => s"dt=$day.v1-$token"
    }

    val updated: Map[String, String] =
      if (batchDays.length <= BackfillDays) {
        // hot/cold regime: per-day copy-on-write
        batchDays.map { day =>
          val incoming = staged.filter(col("dt") === day).drop("dt")
          val data = days.get(day) match {
            case Some(cur) =>
              readDirs(spark, Seq(new Path(root, cur).toString), current)
                .unionByName(incoming, allowMissingColumns = true)
            case None => incoming
          }
          val deduped = dedupKey match {
            case Some(key) => data.dropDuplicates(key)
            case None => data
          }
          val nextDir = nextDirName(day)
          val target = new Path(root, nextDir)
          if (f.exists(target)) f.delete(target, true) // unreferenced leftover
          deduped.sortWithinPartitions(col("ts"))
            .write.mode("overwrite").parquet(target.toString)
          f.delete(new Path(target, "_SUCCESS"), false)
          day -> nextDir
        }.toMap
      } else {
        // backfill regime: one dt-partitioned staging write of
        // (touched old days ∪ batch), then O(days) renames. Dedup is
        // per (day, key) — identical to the per-day regime, where each
        // day deduped its own union (a key recurring across DIFFERENT
        // days survives in both, in both regimes). The range shuffle
        // clusters each day into few contiguous tasks so the staging
        // tree lands ~1 file per day per overlapping partition instead
        // of days × partitions fragments.
        // token-named like the day dirs: two racing backfills must not
        // share (and mutually delete) one staging tree
        val stagingRoot = new Path(root, s".staging-append-v${version + 1}-$token")
        if (f.exists(stagingRoot)) f.delete(stagingRoot, true)
        val oldDirs = batchDays.toSeq.flatMap(d =>
          days.get(d).map(dir => new Path(root, dir).toString))
        val unioned = if (oldDirs.isEmpty) staged else
          readDirs(spark, oldDirs, current)
            .withColumn("dt", Events.utcDt(col("ts")))
            .unionByName(staged, allowMissingColumns = true)
        val deduped = dedupKey match {
          case Some(key) => unioned.dropDuplicates("dt", key)
          case None => unioned
        }
        deduped
          .repartitionByRange(col("dt"), col("ts"))
          .sortWithinPartitions(col("dt"), col("ts"))
          .write.mode("overwrite").partitionBy("dt").parquet(stagingRoot.toString)
        val mapping = f.listStatus(stagingRoot).map(_.getPath.getName)
          .filter(_.startsWith("dt=")).sorted.map { dirName =>
            val day = dirName.stripPrefix("dt=")
            val nextDir = nextDirName(day)
            val target = new Path(root, nextDir)
            if (f.exists(target)) f.delete(target, true) // unreferenced leftover
            if (!f.rename(new Path(stagingRoot, dirName), target))
              sys.error(s"staging rename failed for $dirName")
            day -> nextDir
          }.toMap
        f.delete(stagingRoot, true)
        mapping
      }
    writeSidecars(spark, root, updated.values.toSeq, Some(merged))
    try publish(spark, path, version + 1, days ++ updated, Some(merged))
    catch {
      case e: ConcurrentWriteException =>
        // stale staged output: token-named, referenced by nothing, and
        // about to be rebuilt against the winner's manifest — delete
        // eagerly rather than leaving it for vacuum
        updated.values.foreach { d =>
          try f.delete(new Path(root, d), true)
          catch { case _: Throwable => () }
        }
        throw e
    }
    version + 1
  }

  /** Touched-day count above which [[append]] switches from per-day
    * copy-on-write to the one-pass dt-partitioned staging write (the
    * same break-even the change feed uses for its consolidated join). */
  private val BackfillDays = 8

  /** PHYSICAL delete of every row whose `keyCol` is in `values` — the
    * compliance-erasure operation ("forget user X"), distinct from the
    * LOGICAL delete that flows through the CDC tombstone path. Cost is
    * bounded by the sidecar Blooms: only days with a file that MIGHT
    * contain one of the values are rewritten (copy-on-write `v<n+1>`
    * dir, anti-filter, fresh sidecar), everything else keeps its
    * directory untouched — at 100 TB a single-user erasure rewrites the
    * ~fp-rate fraction of days that can match, not the log. One atomic
    * manifest flip covers all rewritten days; the pre-delete version
    * stays readable until [[vacuum]] reclaims it. Erasure is COMPLETE
    * only once vacuum has removed the superseded dirs — run it promptly
    * after a compliance delete, and note that [[pin]]ned versions pin
    * the old bytes: retention policy is the caller's, and
    * [[versions]]/[[pins]] report exactly what still holds them.
    *
    * CHANGE-FEED CAVEAT, by design: [[changesBetween]] diffs ADDED keys
    * (appends are insert-only per key), so a physical delete emits NO
    * delta — downstream snapshots must re-bootstrap past a delete
    * ([[SnapshotTable.update]] with a fresh snapshot path, or delete
    * the snapshot dir first; spec-pinned recipe). Returns the new
    * manifest version — unchanged if no file could contain the keys. */
  def deleteByKey(spark: SparkSession, path: String, keyCol: String,
                  values: Seq[Long]): Long = {
    import graft.functions.BloomKernel
    require(values.nonEmpty, "deleteByKey needs at least one key value")
    ensureMicrosWrites(spark)
    val root = new Path(path)
    val f = fs(spark, root)
    val Manifest(version, days, schema) = newest(spark, path)
    val touched = days.toSeq.sortBy(_._1).filter { case (_, dir) =>
      val dayDir = new Path(root, dir)
      Sidecars.read(spark, dayDir) match {
        case Some(ds) =>
          val blooms = Sidecars.readBlooms(spark, dayDir)
          ds.files.exists { st =>
            ds.mightHold(st, keyCol, values) &&
              (blooms.get((st.name, keyCol)) match {
                case Some((bits, k)) =>
                  values.exists(BloomKernel.mightContain(bits, _, k))
                case None => true
              })
          }
        case None => true // no sidecar: conservatively rewrite
      }
    }
    if (touched.isEmpty) return version
    val pred = if (values.size == 1) col(keyCol) =!= values.head
               else !col(keyCol).isin(values: _*)
    val rewritten = touched.map { case (day, dir) =>
      val nextDir = s"dt=$day.v${dirVersion(dir) + 1}"
      val target = new Path(root, nextDir)
      if (f.exists(target)) f.delete(target, true) // unreferenced leftover
      // keep null keys: a delete names concrete values, and null ∉ values
      readDirs(spark, Seq(new Path(root, dir).toString), schema)
        .filter(pred || col(keyCol).isNull)
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(target.toString)
      f.delete(new Path(target, "_SUCCESS"), false)
      day -> nextDir
    }
    writeSidecars(spark, root, rewritten.map(_._2), schema)
    publish(spark, path, version + 1, days ++ rewritten, schema)
    version + 1
  }

  /** Incremental consumption — the table's CHANGE FEED. Returns the
    * rows ADDED between two retained manifest versions, so a downstream
    * pipeline (feature build, index refresh, replication) processes only
    * the delta instead of rescanning the table — at 100 TB the
    * difference between a per-batch job and a per-day one.
    *
    * Day-level diffing against the manifests keeps the cost proportional
    * to the TOUCHED days: a day whose directory name is unchanged
    * between the versions is skipped without listing or reading it; a
    * brand-new day contributes wholesale; a rewritten day contributes
    * its new keys via an anti-join of new-dir against old-dir keys
    * ([[append]] is insert-only per key, so new keys ARE the delta —
    * and a pure compaction rewrite, which changes the directory but not
    * the content, anti-joins to empty rather than re-emitting the day).
    * `key` is assumed unique table-wide (event_id is — [[append]]'s
    * dedup makes re-deliveries no-ops), which is what lets the
    * many-days regime consolidate the per-day joins into one.
    * Both versions must still be retained ([[vacuum]] window); a
    * vacuumed bound fails loudly like [[loadAt]]. */
  def changesBetween(spark: SparkSession, path: String,
                     fromVersion: Long, toVersion: Long,
                     key: String = "event_id"): DataFrame = {
    require(fromVersion <= toVersion,
      s"change feed runs forward: $fromVersion > $toVersion")
    val from = readManifestAt(spark, path, fromVersion)
    val Manifest(_, to, schema) = manifestAt(spark, path, toVersion)
    val root = new Path(path)
    def dir(name: String): String = new Path(root, name).toString
    val (rewrites, adds) = to.toSeq.sortBy(_._1).flatMap { case (day, d) =>
      from.get(day) match {
        case Some(old) if old == d => None // untouched day: zero cost
        case Some(old) => Some((dir(d), Some(dir(old))))
        case None => Some((dir(d), None))
      }
    }.partition(_._2.isDefined)
    // Two join regimes, picked by touched-day count (keys are unique
    // table-wide, so both compute the same delta): a hot/cold batch
    // touches FEW days — per-day anti-joins broadcast each old day's
    // bounded key set and shuffle nothing; a backfill/bench batch
    // touches MANY days — per-day joins would run one broadcast-build
    // job per day (driver round-trips dominate), so consolidate into
    // ONE scan of all new dirs anti-joined against one scan of all old
    // keys, letting Spark pick broadcast vs shuffle from actual sizes.
    val rewritten: Option[DataFrame] =
      if (rewrites.isEmpty) None
      else if (rewrites.size <= 8) Some(rewrites.map { case (d, old) =>
        readDirs(spark, Seq(d), schema).join(
          spark.read.parquet(old.get).select(key), Seq(key), "left_anti")
      }.reduce(_.unionByName(_)))
      else Some(
        readDirs(spark, rewrites.map(_._1), schema).join(
          spark.read.parquet(rewrites.map(_._2.get): _*).select(key),
          Seq(key), "left_anti"))
    val added: Option[DataFrame] =
      if (adds.isEmpty) None
      else Some(readDirs(spark, adds.map(_._1), schema))
    val delta = (rewritten.toSeq ++ added.toSeq)
      .reduceOption(_.unionByName(_)).getOrElse {
        val any = to.toSeq.sortBy(_._1).headOption.getOrElse(
          sys.error(s"manifest version $toVersion of $path lists no days"))
        readDirs(spark, Seq(dir(any._2)), schema).limit(0)
      }
    Events.normalizeEventTime(delta)
  }

  /** Incremental-consumer loop shape: the delta since `sinceVersion`
    * and the version it runs to. Persist the returned version as the
    * consumer's cursor and call again on the next schedule. */
  def changesSince(spark: SparkSession, path: String,
                   sinceVersion: Long): (Long, DataFrame) = {
    val (newest, _) = readManifest(spark, path)
    (newest, changesBetween(spark, path, sinceVersion, newest))
  }

  /** Streaming ingest twin: each micro-batch runs [[append]] via
    * `foreachBatch`. Delivery is at-least-once across restarts, but the
    * default key-dedup makes re-appended batches no-ops, so the TABLE
    * converges to exactly-once content; each batch is one atomic
    * manifest flip, so downstream pruned readers never see a partial
    * batch (and compaction/vacuum can run concurrently — they advance
    * the same manifest chain, colliding versions fail loudly rather
    * than corrupt). */
  def ingest(events: DataFrame, path: String, checkpoint: String,
             dedupKey: Option[String] = Some("event_id"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch, path, dedupKey); ()
      }
      .start()

  /** One-call maintenance sweep — the scheduled-job shape of this table:
    * compact the closed fragmented days behind `watermarkUs` (ONE atomic
    * manifest flip for all of them), advance the optional materialized
    * snapshot through the change feed ([[SnapshotTable.update]], cost ∝
    * delta), then trim history on both tables to `keepVersions`. Order
    * matters: the snapshot advances BEFORE vacuum so its cursor always
    * lands inside the retained window, and every step is individually
    * atomic — a crash between steps leaves two consistent tables plus
    * reclaimable garbage, never a torn view. Returns the compacted
    * day → file-count map and the snapshot's new version.
    *
    * External change-feed consumers protect their cursors with [[pin]]s
    * (honored by both vacuums below — a pinned log version keeps its
    * manifest AND its snapshot commit); unpinned consumers older than
    * `keepVersions` lose them at vacuum (the standard table-format
    * retention trade) — pin, or size `keepVersions` to the slowest
    * consumer. `minAgeMs` additionally shields just-published versions
    * from the sweep (in-flight readers that resolved moments ago). */
  def maintain(spark: SparkSession, path: String, watermarkUs: Long,
               snapshotPath: Option[String] = None,
               keepVersions: Int = 2,
               targetBytes: Long = 128L << 20,
               minAgeMs: Long = 0L,
               orphanMinAgeMs: Long = 0L): (Map[String, Long], Option[Long]) = {
    val compacted = compactClosedDays(spark, path, watermarkUs, targetBytes)
    val snapV = snapshotPath.map(sp => SnapshotTable.update(spark, path, sp))
    val pinned = pins(spark, path).values.toSet
    vacuum(spark, path, keepVersions, minAgeMs, orphanMinAgeMs)
    snapshotPath.foreach(sp =>
      SnapshotTable.vacuum(spark, sp, keepVersions, alsoKeep = pinned))
    (compacted, snapV)
  }

  // ------------------------------------------------------------------
  // Reader pins — retention as a MECHANISM, not a sizing convention.
  // A long-running consumer (training run, slow replica) registers a
  // named pin on the manifest version it resolved; [[vacuum]] then
  // keeps that manifest and every data directory it lists, regardless
  // of `keepVersions`, until [[unpin]]. Pins are tiny files under
  // `_pins/` — no coordination service, same crash-safety idiom as the
  // manifests themselves.
  // ------------------------------------------------------------------

  /** Register (or move) the named pin onto a RETAINED version — the
    * publish-then-verify half of [[VersionedDir]]'s pin-vs-vacuum
    * handshake. Returns the pinned version; fails LOUDLY if a racing
    * sweep already reclaimed it. */
  def pin(spark: SparkSession, path: String, name: String, version: Long): Long =
    dir(spark, path).pin(name, version)

  /** Drop the named pin; true if it existed. */
  def unpin(spark: SparkSession, path: String, name: String): Boolean =
    dir(spark, path).unpin(name)

  /** All registered pins, name → version. */
  def pins(spark: SparkSession, path: String): Map[String, Long] =
    dir(spark, path).pins

  /** Delete data directories no RETAINED manifest references, manifests
    * older than the retention window, and dot-tmp leftovers. Retention
    * is the UNION of three guards, each a mechanism a different consumer
    * relies on:
    *  - `keepVersions`: the newest K manifests (time-travel window);
    *  - [[pin]]s: every pinned manifest survives until unpinned, so a
    *    pinned `loadAt(v)` / change-feed cursor cannot lose its data to
    *    a concurrent maintenance sweep;
    *  - `minAgeMs`: manifests PUBLISHED within the last `minAgeMs`
    *    are never reclaimed (by file modification time), covering the
    *    unpinned in-flight reader that resolved a manifest moments
    *    before the sweep.
    * Every data directory any surviving manifest lists survives with
    * it. Returns the number of paths removed.
    *
    * NOTE: once pins exist, the retained set may be NON-CONTIGUOUS
    * (e.g. pinned v1 plus newest v3, with v2 reclaimed). A change-feed
    * consumer must therefore advance its cursor to the next *retained*
    * version ([[versions]] lists them), not blindly to `v+1` —
    * [[changesBetween]] on a reclaimed intermediate version fails
    * loudly, and day-level diffing across a gap still yields exactly
    * the rows added in between (appends are insert-only per key).
    *
    * `orphanMinAgeMs` guards dirs/tmp files NO manifest has EVER
    * referenced: an in-flight [[append]]'s token-named day dirs and
    * staging tree are exactly such entries until its publish, so a
    * vacuum racing a live appender would otherwise delete the bytes a
    * manifest is about to reference — corrupting the table the moment
    * the appender wins its rename. With the guard, never-referenced
    * entries are reclaimed only once older than the cutoff; dirs that
    * WERE referenced by a now-deleted manifest are superseded published
    * data and reclaim immediately regardless (no writer can be
    * mid-write in a published dir). Production sweeps that run beside
    * live ingest should set it comfortably above the longest append
    * (e.g. 1h); the 0 default preserves eager cleanup for single-writer
    * use and tests. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             minAgeMs: Long = 0L, orphanMinAgeMs: Long = 0L): Long = {
    require(minAgeMs >= 0L, s"minAgeMs must be >= 0, got $minAgeMs")
    val d = dir(spark, path)
    val f = fs(spark, new Path(path))
    val cutoffMs = System.currentTimeMillis() - minAgeMs
    def young(v: Long): Boolean = minAgeMs > 0L &&
      f.getFileStatus(d.file(v)).getModificationTime > cutoffMs
    d.vacuum(keepVersions, orphanMinAgeMs, _.filter(young))(
      readManifestAt(spark, path, _).values)(identity,
      _.startsWith("dt="))._2
  }
}
