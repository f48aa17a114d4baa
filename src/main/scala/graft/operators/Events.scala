package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.Sources

/** Event-time operators over the `events` table (extension X4): tumbling
  * windows and gap-based sessionization, batch-first with streaming
  * equivalents in [[graft.streaming.EventStreams]].
  *
  * Timestamp handling is schema-adaptive (see [[normalizeEventTime]]):
  * the fixture has shipped `ts` both as parquet TIMESTAMP(NANOS) (read
  * as raw BIGINT under `spark.sql.legacy.parquet.nanosAsLong=true`) and
  * as native µs TIMESTAMP / TIMESTAMP_NTZ. All encodings normalize to
  * the same two columns — `ts_us` (epoch micros, long) and `ts`
  * (TimestampType) — with values integer-exact against DuckDB's µs
  * TIMESTAMP view of the same file, so window starts, session bounds
  * and gaps compare across engines without tolerance.
  */
object Events {

  /** Events with `ts_us` (epoch micros, long) and `ts` (TimestampType),
    * whichever of the three encodings the parquet carries. */
  def load(spark: SparkSession, sfDir: String): DataFrame = {
    // no-op for µs/NTZ fixtures; required at all for TIMESTAMP(NANOS)
    // (Spark's reader otherwise rejects it with [PARQUET_TYPE_ILLEGAL])
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTime(Sources.table(spark, sfDir, "events"))
  }

  /** Dispatch on the physical `ts` type and emit `ts_us` + TimestampType
    * `ts` for every encoding:
    *  - `LongType` — legacy nanos-as-long. Integer `div`, not `/`:
    *    epoch-nanos ≈ 1.7e18 exceeds double's 53-bit mantissa, so
    *    floating division would corrupt low-order digits; `div 1000` is
    *    the same truncation DuckDB applies coercing ns to µs.
    *  - `TimestampType` — native µs; `unix_micros` is exact.
    *  - `TimestampNTZType` — native µs without zone; the session runs
    *    UTC (Sessions.builder), so the cast to TimestampType is a
    *    micros-identity, after which `unix_micros` is exact.
    * Anything else fails with a named error — a schema drift in the
    * fixture should say so, not surface as 20 cryptic plan errors. */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampType =>
        df.withColumn("ts_us", unix_micros(col("ts")))
      case TimestampNTZType =>
        // NTZ carries a wall time; the fixture's convention is that wall
        // time IS UTC. Under a UTC session the plain cast is a
        // micros-identity AND comparisons on the cast still reach the
        // scan (Catalyst unwraps it), so keep that plan for the standard
        // path. Under any other session zone the plain cast would shift
        // every instant by the zone offset — re-render the wall time
        // into the session zone first so the cast recovers the true UTC
        // instant (correct everywhere, at the cost of pushdown on the
        // NORMALIZED column; the raw-column paths loadRange /
        // loadRangePartitioned filter before normalizing and keep full
        // pruning either way).
        val sessionTz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        val utcSession =
          java.time.ZoneId.of(sessionTz).normalized() == java.time.ZoneOffset.UTC
        val tsUtc =
          if (utcSession) col("ts").cast(TimestampType)
          else convert_timezone(lit("UTC"), lit(sessionTz), col("ts"))
            .cast(TimestampType)
        df.withColumn("ts", tsUtc)
          .withColumn("ts_us", unix_micros(col("ts")))
      case other => sys.error(
        s"events.ts has unsupported type $other — expected BIGINT " +
          "(legacy nanos-as-long), TIMESTAMP, or TIMESTAMP_NTZ")
    }

  /** Column set that marks a frame as following the events-table
    * convention — the gate the Run CLI uses before normalizing, so a
    * generic parquet with an incidental `ts` column is left untouched. */
  private val EventsCols = Set("event_id", "ts", "user_id", "event_type", "value")
  def isEventsShaped(df: DataFrame): Boolean =
    EventsCols.subsetOf(df.columns.toSet)

  /** Best-effort variant for generic inputs (the Run CLI): normalize
    * only when a `ts` column with a supported encoding is present;
    * otherwise pass through unchanged. */
  def normalizeEventTimeIfPossible(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType | TimestampType | TimestampNTZType) =>
        normalizeEventTime(df)
      case _ => df
    }

  private[graft] def usInstant(us: Long): java.time.Instant =
    java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)

  private[graft] def usLocalDateTime(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** UTC day string (`yyyy-MM-dd`) of a TimestampType column, derived
    * arithmetically from epoch micros so it is INDEPENDENT of
    * `spark.sql.session.timeZone`. `date_format(ts, ...)` renders in the
    * session zone, so under a non-UTC session the written `dt=`
    * directories would disagree with [[loadRangePartitioned]]'s
    * hardcoded-UTC day bounds and boundary rows would silently fall out
    * of range reads. floorDiv spelled as `(us - pmod(us, day)) / day`:
    * `pmod` is non-negative, so pre-epoch timestamps land on the correct
    * (earlier) day, and the division is exact (numerator is an exact
    * multiple of day, |us| < 2^53 µs until year ~2255 — wider than
    * [[timeRange]]'s own representable range). */
  private[graft] def utcDt(ts: Column): Column = {
    val dayUs = lit(86400000000L)
    val us = unix_micros(ts)
    date_from_unix_date(((us - pmod(us, dayUs)) / dayUs).cast("int")).cast("string")
  }

  /** `[fromUs, toUs)` range predicate expressed in the `ts` column's
    * NATIVE type, so Catalyst pushes it into the parquet scan
    * (PushedFilters → row-group/page min-max pruning). At 100 TB this is
    * the difference between scanning a day and scanning the whole log.
    * A filter on the derived `ts_us` does NOT push (`unix_micros(cast)`
    * never reaches the scan) — pinned in EventScanPruningSpec, which is
    * why range scans should route through here or filter `ts` directly
    * (the normalized TimestampType also pushes: Catalyst unwraps the UTC
    * NTZ cast in comparisons). */
  def timeRange(df: DataFrame, fromUs: Long, toUs: Long): DataFrame =
    timeRangeOpen(df, Some(fromUs), Some(toUs))

  /** [[timeRange]] with independently optional bounds — the half-open
    * variant point lookups need: a `None` side applies no predicate at
    * all, because the sentinel extremes CANNOT be converted to the ts
    * column's native type (`multiplyExact`/`usInstant` on
    * Long.MinValue/MaxValue overflow or throw DateTimeException). */
  def timeRangeOpen(df: DataFrame, fromUs: Option[Long],
                    toUs: Option[Long]): DataFrame = {
    val preds: Seq[Column] = df.schema("ts").dataType match {
      case LongType =>
        // multiplyExact: a bound past ~2262 (µs beyond Long nanos range)
        // must fail loudly, not overflow into a silently-wrong pushed
        // predicate
        fromUs.map(f => col("ts") >= Math.multiplyExact(f, 1000L)).toSeq ++
          toUs.map(t => col("ts") < Math.multiplyExact(t, 1000L))
      case TimestampType =>
        fromUs.map(f => col("ts") >= lit(usInstant(f))).toSeq ++
          toUs.map(t => col("ts") < lit(usInstant(t)))
      case TimestampNTZType =>
        fromUs.map(f => col("ts") >= lit(usLocalDateTime(f))).toSeq ++
          toUs.map(t => col("ts") < lit(usLocalDateTime(t)))
      case other => sys.error(
        s"events.ts has unsupported type $other for time-range pruning")
    }
    preds.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Range-pruned events load: the predicate lands on the raw scan
    * column (pruning at the source), then the survivors normalize. */
  def loadRange(spark: SparkSession, sfDir: String,
                fromUs: Long, toUs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTime(
      timeRange(Sources.table(spark, sfDir, "events"), fromUs, toUs))
  }

  /** Day-partitioned event-log layout: `dt=yyyy-MM-dd` directories
    * derived from `ts` in UTC — the standard 100 TB arrangement. A
    * time-range read then prunes whole day directories from the file
    * listing (PartitionFilters) before any parquet footer is opened;
    * [[timeRange]]'s native-type predicate prunes row groups within the
    * surviving days.
    *
    * Shuffle-free: the write preserves the source partitioning. The
    * local sort is on (dt, ts) rather than the bare dt Spark would
    * inject anyway for a dynamic-partition write — same single sort
    * pass, but each written file then ascends by ts, so its row groups
    * carry TIGHT non-overlapping ts ranges and [[timeRange]]'s pushed
    * predicate prunes row groups even for sub-day ranges (unsorted
    * input would give every row group the whole day's min-max span,
    * making in-day pruning a no-op). */
  def writeDayPartitioned(events: DataFrame, path: String): Unit = {
    // INT64 micros, never INT96: INT96 parquet chunks carry no column
    // statistics, which would void the row-group pruning this layout
    // exists for (Sessions.builder sets this too; repeated here for
    // sessions built elsewhere). Native parquet blooms on user_id give
    // point lookups row-group pruning on the unclustered key (adaptive
    // sizing; see ManifestedLog.ensureMicrosWrites).
    events.sparkSession.conf.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val hc = events.sparkSession.sparkContext.hadoopConfiguration
    hc.set("parquet.bloom.filter.enabled#user_id", "true")
    hc.set("parquet.bloom.filter.adaptive.enabled", "true")
    events
      .withColumn("dt", utcDt(col("ts")))
      .sortWithinPartitions(col("dt"), col("ts"))
      .write.mode("overwrite").partitionBy("dt").parquet(path)
  }

  /** Compact ONE day of a [[writeDayPartitioned]] layout: rewrite the
    * day's files (streaming ingest appends one per trigger — file
    * count, not bytes, is what kills split enumeration at 100 TB) into
    * ~`targetBytes` files that RANGE-tile the day on ts, restoring both
    * prunabilities: tight per-file footer stats AND tight row groups.
    * Sizing reads file status only (no data scan). Returns the new file
    * count.
    *
    * The swap is rename-aside → rename-into-place → delete-backup; both
    * side directories are dot-prefixed so readers never list them. A
    * crash mid-swap leaves the day recoverable by a single rename (the
    * old files survive in `.dt=<dt>.replaced` until the new tree is in
    * place — never a window where the day's only copy sits in an
    * unlisted directory). The brief rename gap is still non-atomic for
    * concurrent READERS — production object stores front this with a
    * manifest/table format; compact only days behind the ingest
    * watermark.
    *
    * REFUSES a tree still managed by a streaming file-sink commit log
    * (`_spark_metadata`): root-level batch reads list files from that
    * log, so rewriting files underneath it would break or silently
    * un-dedup them. Stop the ingest query and delete the log first —
    * "graduating" the tree to a plain directory table — exactly the
    * hand-off a manifest-less layout requires (EventCompactionSpec
    * drives it). */
  def compactDay(spark: SparkSession, path: String, dt: String,
                 targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val sinkLog = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if (fs.exists(sinkLog)) sys.error(
      s"$path is managed by a streaming file-sink commit log " +
        "(_spark_metadata); stop the ingest query and remove the log " +
        "before compacting, or compact through a manifest table format")
    val dayPath = new org.apache.hadoop.fs.Path(root, s"dt=$dt")
    require(fs.exists(dayPath), s"no such day directory: $dayPath")
    val totalBytes = fs.getContentSummary(dayPath).getLength
    val parts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(root, s".dt=$dt.compacting")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(dayPath.toString)
      .repartitionByRange(parts, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
    val backup = new org.apache.hadoop.fs.Path(root, s".dt=$dt.replaced")
    if (fs.exists(backup)) fs.delete(backup, true)
    if (!fs.rename(dayPath, backup))
      sys.error(s"rename $dayPath -> $backup failed; day left untouched, " +
        s"compacted data is in $tmp")
    if (!fs.rename(tmp, dayPath)) {
      val restored = fs.rename(backup, dayPath)
      sys.error(s"rename $tmp -> $dayPath failed; " +
        (if (restored) s"original day restored, compacted data is in $tmp"
         else s"RECOVERY NEEDED: original day is in $backup, compacted data in $tmp"))
    }
    fs.delete(backup, true)
    parts.toLong
  }

  private val DayDirRe = "dt=(\\d{4}-\\d{2}-\\d{2})".r

  /** Epoch-µs bounds `[start, end)` of a `yyyy-MM-dd` UTC day. */
  private[graft] def dayBoundsUs(dt: String): (Long, Long) = {
    val start = Math.multiplyExact(
      java.time.LocalDate.parse(dt).toEpochDay, 86400000000L)
    (start, Math.addExact(start, 86400000000L))
  }

  /** Compaction DISCOVERY for a [[writeDayPartitioned]] tree: find every
    * CLOSED day (its `[start, end)` entirely at or before `watermarkUs`,
    * the ingest watermark — the open day and anything late data can
    * still reach are skipped) that is FRAGMENTED (more files than the
    * `targetBytes` tiling needs — the file-count pathology streaming
    * ingest's one-file-per-trigger leaves behind), and [[compactDay]]
    * each. Discovery reads file STATUS only — names, counts, lengths —
    * never data: at 100 TB this scan is O(days) listings, and an
    * already-compact day costs one directory listing to skip.
    *
    * Returns day → new file count for exactly the days compacted. */
  def compactClosedDays(spark: SparkSession, path: String, watermarkUs: Long,
                        targetBytes: Long = 128L << 20): Map[String, Long] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkLog = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if (fs.exists(sinkLog)) sys.error(
      s"$path is managed by a streaming file-sink commit log " +
        "(_spark_metadata); stop the ingest query and remove the log " +
        "before compacting, or compact through a manifest table format")
    fs.listStatus(root).iterator.flatMap { st =>
      st.getPath.getName match {
        case DayDirRe(dt) if st.isDirectory && dayBoundsUs(dt)._2 <= watermarkUs =>
          val files = fs.listStatus(st.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          val bytes = files.map(_.getLen).sum
          val needed = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
          if (files.length > needed)
            Some(dt -> compactDay(spark, path, dt, targetBytes))
          else None
        case _ => None
      }
    }.toMap
  }

  /** Range read over a [[writeDayPartitioned]] layout: directory pruning
    * on `dt`, row-group pruning on `ts`, then normalization. The `dt`
    * bounds close over the UTC days of the [from, to) range, so they
    * never drop a qualifying row. */
  def loadRangePartitioned(spark: SparkSession, path: String,
                           fromUs: Long, toUs: Long): DataFrame = {
    val fromDt = usLocalDateTime(fromUs).toLocalDate.toString
    val toDt   = usLocalDateTime(toUs - 1L).toLocalDate.toString
    val pruned = spark.read.parquet(path)
      .filter(col("dt") >= fromDt && col("dt") <= toDt)
    normalizeEventTime(timeRange(pruned, fromUs, toUs)).drop("dt")
  }

  /** Tumbling-window counts: epoch-aligned `window(ts, width)` per
    * event_type. Output keyed by `window_start_ms` (exact integer). */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Sliding-window counts: epoch-aligned `window(ts, width, slide)` per
    * event_type — each event lands in width/slide windows. The Expand on
    * the window generator multiplies map output rows, not shuffle
    * groups; the exchange still carries one row per (window, type)
    * partial, so overlap factor scales map CPU, never shuffle width. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization via lag + running sum — one shuffle on
    * user_id, then per-partition window work. A new session starts when
    * the gap since the previous event is ≥ `gapMinutes` (the same
    * boundary rule as Spark's `session_window`). Deterministic ordering
    * by (ts_us, event_id). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val flagged = events.withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("session_start_us"),
           max(col("ts_us")).as("session_end_us"),
           count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
  }

  /** Generic interval (range) join WITHOUT an equi-key: each `points`
    * row whose `tCol` falls in a `[loCol, hiCol)` interval of
    * `intervals`, paired with that interval's columns. Spark plans a
    * bare range condition as a nested-loop cross — O(points × intervals)
    * — so this composes it from an equi-join instead (preference (a) of
    * the custom-operator ladder): each interval EXPLODES into the
    * fixed-width time bins it covers (`sequence` over floor-div bin
    * ids), each point maps to its single bin, the sides equi-join on
    * the bin id (shuffle bounded by points + interval-bin covers, never
    * their product), and the residual `lo <= t < hi` filter runs only
    * within co-binned candidates. A point lives in exactly one bin, so
    * a matching pair materializes exactly once — no dedup pass.
    *
    * `binUs` trades explode factor against candidate precision: bins ≈
    * the typical interval span keep covers-per-interval ~1-2 while
    * candidates stay near-true-matches. Uniform bins also spread the
    * shuffle evenly unless the DATA is time-skewed (then salt the hot
    * bins — same playbook as any hot-key join). */
  def intervalJoin(points: DataFrame, tCol: String,
                   intervals: DataFrame, loCol: String, hiCol: String,
                   binUs: Long = 3600000000L): DataFrame = {
    require(binUs > 0, s"binUs must be positive, got $binUs")
    // exact: the numerator is a multiple of binUs and |ts_us| < 2^53
    def binOf(c: Column): Column =
      ((c - pmod(c, lit(binUs))) / lit(binUs)).cast("long")
    val binned = intervals.withColumn("__bin",
      explode(sequence(binOf(col(loCol)), binOf(col(hiCol) - 1))))
    points.withColumn("__bin", binOf(col(tCol)))
      .join(binned, Seq("__bin"))
      .filter(col(tCol) >= col(loCol) && col(tCol) < col(hiCol))
      .drop("__bin")
  }

  /** Generic as-of join: for each `left` row, the latest `rightTsCol`
    * value of `right` at-or-before the row's `leftTsCol`, within `keyCol`
    * — the standard event-stream enrichment ("state as of this event").
    *
    * Implementation is the union-tag trick rather than a range join:
    * both sides collapse into one frame tagged by side, ONE shuffle on
    * the key co-locates them, and a running `last(right ts, ignoreNulls)`
    * ordered by (ts, side) — right rows sorting first so an exactly-equal
    * timestamp is visible ("at-or-before" is inclusive) — computes the
    * match in a single window pass. A join formulation would either
    * range-join (O(n·m) per key) or equi-join + filter + re-aggregate
    * (two extra shuffles); this is one exchange and one sort, identical
    * to the cost of sessionization. Both ts columns must share an
    * orderable numeric type (the union fails loudly otherwise).
    *
    * Output: every `left` column plus `outCol` (null when no right row
    * precedes). Deterministic under ties: same-ts right rows all carry
    * the same ts value, and left rows never contribute to the running
    * last. */
  def asOfJoin(left: DataFrame, right: DataFrame,
               keyCol: String = "user_id",
               leftTsCol: String = "ts_us", rightTsCol: String = "ts_us",
               outCol: String = "last_signup_us"): DataFrame = {
    val payload = struct(left.columns.toIndexedSeq.map(col): _*)
    val payloadType = left.select(payload.as("__p")).schema("__p").dataType
    val l = left.select(col(keyCol).as("__k"), col(leftTsCol).as("__t"),
                        lit(1).as("__is_left"), payload.as("__p"))
    val r = right.select(col(keyCol).as("__k"), col(rightTsCol).as("__t"),
                         lit(0).as("__is_left"),
                         lit(null).cast(payloadType).as("__p"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn(outCol,
        last(when(col("__is_left") === 0, col("__t")), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select(left.columns.toIndexedSeq.map(c => col(s"__p.$c")) :+ col(outCol): _*)
  }

  /** CDC-style snapshot compaction: the latest event per key,
    * latest-wins by (ts, tie-break id) — the upsert/merge semantics a
    * pipeline needs to collapse an append-only change log into a current
    * snapshot (one row per entity).
    *
    * Implemented as `max_by(payload, struct(ts, id))`, a declarative
    * aggregate with map-side partial merge: each partition keeps one
    * candidate per key before the exchange, so the shuffle carries
    * O(distinct keys × partitions) rows regardless of log length — the
    * shape that survives a 100 TB change log with a bounded key space.
    * A window `row_number() = 1` formulation would shuffle EVERY log row
    * and then sort full partitions; this never materializes a sort.
    * Deterministic: the ordering struct ends in the unique id. */
  def latestSnapshot(events: DataFrame, keyCol: String = "user_id",
                     tsCol: String = "ts_us", idCol: String = "event_id",
                     payloadCols: Seq[String] = Seq("event_id", "ts_us", "event_type", "value")): DataFrame = {
    val payload = struct(payloadCols.map(col): _*)
    events.groupBy(col(keyCol))
      .agg(max_by(payload, struct(col(tsCol), col(idCol))).as("__latest"))
      .select(col(keyCol) +: payloadCols.map(c => col(s"__latest.$c")): _*)
  }

  /** Funnel analysis: for every user with a `fromType` event, the first
    * `toType` event at-or-after their first `fromType` — the standard
    * conversion query (signup → purchase) of an event pipeline.
    *
    * Two hash aggregations on user_id plus one co-partitioned join —
    * both aggregates are partial+final (a conditional `min` is
    * merge-order-free), no window sort over the log. Users who never
    * emitted `fromType` are excluded; non-converters carry a null
    * `first_to_us` and `converted = false`. */
  def funnel(events: DataFrame, fromType: String = "signup",
             toType: String = "purchase"): DataFrame = {
    val first = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === fromType, col("ts_us")))
        .as("first_from_us"))
      .filter(col("first_from_us").isNotNull)
    val conv = events.join(first, "user_id")
      .filter(col("event_type") === toType &&
              col("ts_us") >= col("first_from_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_to_us"))
    first.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("first_from_us"), col("first_to_us"),
              col("first_to_us").isNotNull.as("converted"))
  }

  /** Cohort retention: users grouped by the epoch-week of their FIRST
    * event; for each (cohort_week, weeks_since) cell, the number of
    * cohort members active that many weeks later — the standard
    * retention matrix.
    *
    * All-integer arithmetic (`div` on epoch micros — no float weeks), so
    * cells are engine-exact. Shape: first-seen aggregate, co-partitioned
    * join back, distinct on (user, cell), final count — every stage
    * keyed on user_id or the cell, partial-aggregated, never sorted. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val firstSeen = events.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"))
    events.join(firstSeen, "user_id")
      .select(col("user_id"),
        expr(s"first_us div $weekUs").as("cohort_week"),
        expr(s"(ts_us - first_us) div $weekUs").as("weeks_since"))
      .distinct()
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** The same sessions through Spark's native `session_window` (batch
    * mode) — the formulation that also runs under Structured Streaming
    * with state-store-backed incremental merging. Window end = last event
    * + gap, per session_window semantics. */
  def sessionWindowCounts(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"),
               col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              unix_micros(col("sw.start")).as("session_start_us"),
              unix_micros(col("sw.end")).as("session_end_us"),
              col("n_events"))
}
