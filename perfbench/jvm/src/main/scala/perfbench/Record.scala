package perfbench

import scala.io.Source

object Stats {
  /** Linear-interpolated quantile of `xs` (`q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile that still has ten samples beyond it
    * (`1 - 10/n`), and never below the median. */
  def tailPercentile(n: Int): Double = math.max(0.5, 1 - 10.0 / n)

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Minimal JSON rendering. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Everything one run measured, rendered as `record.json` (run
  * parameters, set-up, end-to-end metrics, per-layer metrics when
  * traced, per-operation samples and counters, checks) and as span
  * lines for `spans.jsonl`. */
final case class Record(a: Main.Args, w: Workload, sessionS: Double, fixtureS: Double,
                        warmupS: Double, setupS: Double, warm: Seq[Sample],
                        warmP50s: Seq[Double], untraced: (Seq[Sample], Double),
                        traced: Option[(Seq[Sample], Double)],
                        bridge: Seq[(String, Double, Double)], checks: Seq[Check],
                        peakRssMb: Double, h: Harness) {
  import Json._

  private def latency(ss: Seq[Sample], wallS: Double): Seq[(String, String)] = {
    val ms = ss.map(_.ms)
    val p = Stats.tailPercentile(ms.size)
    Seq(
      "ops" -> ss.size.toString,
      "wall_s" -> num(wallS),
      "op_p50_ms" -> num(Stats.quantile(ms, 0.5)),
      "op_tail_ms" -> num(Stats.quantile(ms, p)),
      "tail_percentile" -> num(p * 100),
      "ops_per_s" -> num(ss.size / wallS),
      "errors" -> ss.count(_.error.nonEmpty).toString)
  }

  private val spans = h.tracer.allSpans
  private val tracedSeqs = traced.toSeq.flatMap(_._1).map(_.seq).toSet
  private val tracedSpans = spans.filter(s => tracedSeqs(s.op))
  private val childrenOf = spans.groupBy(_.parent)
  private val planned = h.tracer.plannedQueries

  /** The executed queries whose planning started inside `s`. */
  private def plannedIn(s: Span): Seq[Planned] =
    planned.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs)
  private def planMsIn(s: Span): Double = plannedIn(s).map(_.planMs).sum
  private def filesReadIn(s: Span): Long = plannedIn(s).map(_.filesRead).sum
  private def bytesReadIn(s: Span): Long = plannedIn(s).map(_.bytesRead).sum
  private def rootOf(seq: Int): Option[Span] = tracedSpans.find(s => s.op == seq && s.parent == -1)

  private def opCounters(seq: Int): Counters = {
    val c = new Counters
    tracedSpans.filter(_.op == seq).foreach(s => c += h.tracer.countersOf(s.id))
    c
  }

  private def perLayer: Seq[(String, Double)] = {
    val ss = traced.map(_._1).getOrElse(Nil)
    val n = math.max(ss.size, 1).toDouble
    def named(name: String) = tracedSpans.filter(_.name == name)
    def sumMs(name: String) = named(name).map(_.ms).sum
    def meanMs(name: String) = { val xs = named(name); if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size }
    val total = new Counters
    ss.foreach(s => total += opCounters(s.seq))
    val inputBytes = ss.flatMap(s => rootOf(s.seq)).map(bytesReadIn).sum
    val execSpans = named("exec")
    val execMs = execSpans.map(_.ms).sum
    val execPlanMs = execSpans.map(planMsIn).sum
    val execRunMs = execSpans.map(s => h.tracer.countersOf(s.id).runMs).sum
    val planMs = tracedSpans.filter(_.parent == -1).map(planMsIn).sum
    // a store operation's read-back (its "exec" span) is the store probe
    val storeOps = ss.filter(_.op.store.nonEmpty)
    val reads = execSpans.filter(sp => storeOps.exists(_.seq == sp.op))
    val filesRead = reads.map(filesReadIn).sum
    val liveProbed = storeOps.filter(s => reads.exists(_.op == s.seq)).map(_.liveFiles).sum
    val writes = storeOps.filter(s => tracedSpans.exists(sp =>
      sp.op == s.seq && Set("append", "compact", "vacuum")(sp.name)))
    val appends = named("append")
    val userBytes = ss.map(_.op.userBytes).sum
    Seq(
      "plans.parse_ms" -> sumMs("parse") / n,
      "plans.compile_ms" -> sumMs("compile") / n,
      "plans.build_jobs" -> named("compile").map(s => h.tracer.countersOf(s.id).jobs).sum / n,
      "catalyst.plan_ms" -> planMs / n,
      "exec.ms" -> (execMs - execPlanMs) / n,
      "exec.task_cpu_ms" -> total.cpuNs / 1e6 / n,
      "exec.core_util" -> (if (execMs > 0) execRunMs / ((execMs - execPlanMs) * a.nproc) else 0.0),
      "exec.jobs" -> total.jobs / n,
      "exec.stages" -> total.stages / n,
      "exec.tasks" -> total.tasks / n,
      "exec.input_bytes" -> inputBytes / n,
      "exec.shuffle_write_bytes" -> total.shuffleWriteBytes / n,
      "exec.spill_bytes" -> total.spillBytes / n,
      "exec.gc_ms" -> total.gcMs / n,
      "stores.probe_ms" -> (if (reads.isEmpty) 0.0 else reads.map(_.ms).sum / reads.size),
      "stores.files_read" -> (if (reads.isEmpty) 0.0 else filesRead.toDouble / reads.size),
      "stores.read_fraction" -> (if (liveProbed == 0) 0.0 else filesRead.toDouble / liveProbed),
      "stores.append_ms" -> meanMs("append"),
      "stores.compact_ms" -> meanMs("compact"),
      "stores.vacuum_ms" -> meanMs("vacuum"),
      "stores.jobs_per_write" ->
        (if (appends.isEmpty) 0.0 else appends.map(s => h.tracer.countersOf(s.id).jobs).sum.toDouble / appends.size),
      "stores.files_written" ->
        (if (writes.isEmpty) 0.0 else writes.map(_.filesWritten).sum.toDouble / writes.size),
      "stores.write_amp" -> (if (userBytes == 0) 0.0 else writes.map(_.bytesWritten).sum.toDouble / userBytes),
      "stores.live_files" -> w.stores.map(Workloads.files(_).size).sum.toDouble,
      "setup.session_s" -> sessionS,
      "setup.fixture_s" -> fixtureS,
      "setup.warmup_s" -> warmupS,
      "trace.overhead_ms" -> (Stats.quantile(ss.map(_.ms), 0.5) - Stats.quantile(untraced._1.map(_.ms), 0.5)))
  }

  private def sample(s: Sample): String = {
    val base = Seq("seq" -> s.seq.toString, "key" -> str(s.key), "kind" -> str(s.kind),
      "phase" -> str(s.phase), "ms" -> num(s.ms),
      "fp" -> s.fp.map(f => str(f.toString)).getOrElse("null"),
      "error" -> s.error.map(str).getOrElse("null"))
    val counters = if (!tracedSeqs(s.seq)) Nil else {
      val c = opCounters(s.seq)
      Seq("counters" -> obj("jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString,
        "input_bytes" -> rootOf(s.seq).map(bytesReadIn).getOrElse(0L).toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_write_records" -> c.shuffleWriteRecords.toString,
        "files_written" -> s.filesWritten.toString))
    }
    obj(base ++ counters: _*)
  }

  def json: String = {
    val storeBytes = w.stores.map(Workloads.fileSizes(_).values.sum).sum
    val spaceAmp = if (w.stores.isEmpty || w.userBytes == 0) Double.NaN
                   else storeBytes.toDouble / w.userBytes
    obj(
      "workload" -> str(a.workload), "seed" -> a.seed.toString, "nproc" -> a.nproc.toString,
      "sf" -> num(w.sf), "xmx_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "seconds" -> num(a.seconds), "trace" -> a.trace.toString,
      "setup" -> obj("session_s" -> num(sessionS), "fixture_s" -> num(fixtureS),
        "warmup_s" -> num(warmupS), "warmup_ops" -> warm.size.toString,
        "warmup_cycle_p50_ms" -> arr(warmP50s.map(num)), "setup_s" -> num(setupS)),
      "window" -> obj(latency(untraced._1, untraced._2): _*),
      "traced_window" -> traced.map { case (ss, wall) => obj(latency(ss, wall): _*) }.getOrElse("null"),
      "peak_rss_mb" -> num(peakRssMb),
      "space_amp" -> num(spaceAmp),
      "store_bytes" -> storeBytes.toString, "user_bytes" -> w.userBytes.toString,
      "per_layer" -> (if (traced.isEmpty) "null" else obj(perLayer.map { case (k, v) => k -> num(v) }: _*)),
      "count_bridge" -> arr(bridge.map { case (k, c, f) =>
        obj("key" -> str(k), "count_ms" -> num(c), "full_ms" -> num(f)) }),
      "checks" -> arr(checks.map(c => obj("key" -> str(c.key),
        "ok" -> c.ok.map(_.toString).getOrElse("null"), "reason" -> str(c.reason),
        "sql" -> c.sql.map(str).getOrElse("null"),
        "result_dir" -> c.resultDir.map(str).getOrElse("null"),
        "exact" -> c.exact.toString))),
      "samples" -> arr((untraced._1 ++ traced.toSeq.flatMap(_._1)).map(sample)))
  }

  def spanLines: Seq[String] = spans.map { s =>
    obj("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> str(s.name), "start_ms" -> s.startMs.toString, "dur_ms" -> num(s.ms),
      "self_ms" -> num(Tracer.selfMs(s, childrenOf.getOrElse(s.id, Nil))),
      "catalyst_ms" -> num(planMsIn(s)), "jobs" -> h.tracer.countersOf(s.id).jobs.toString)
  }
}
