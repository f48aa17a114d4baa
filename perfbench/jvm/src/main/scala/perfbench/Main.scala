package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** One completed (or failed) operation of a closed loop. */
final case class Sample(seq: Int, op: Op, phase: String, ms: Double,
                        fp: Option[Fp], error: Option[String],
                        filesWritten: Long = 0L, bytesWritten: Long = 0L,
                        liveFiles: Long = 0L) {
  def key: String = op.key
  def kind: String = op.kind
}

/** The benchmark process: one session, one closed-loop client.
  *
  * Lifecycle: session start, fixture builds, warm-up until the cycle
  * p50 stops falling, then the timed window (the workload's whole
  * cycles, and at least `--seconds`), then certification of every
  * operation key outside the window. With `--trace 1` untraced and
  * traced cycles alternate (the untraced p50 is the tracing-overhead
  * baseline), then one `count()` round runs for the count() bridge.
  * Writes `record.json`, `spans.jsonl` and result dumps under `--out`;
  * run.py reads them, runs the DuckDB oracles and prints. */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10,
                        trace: Boolean = false, data: String = "", out: String = "",
                        nproc: Int = 4, cycles: Int = 0, warmupCycles: Int = -1)

  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--data", v)) => a.copy(data = v)
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--nproc", v)) => a.copy(nproc = v.toInt)
      case (a, Array("--cycles", v)) => a.copy(cycles = v.toInt)
      case (a, Array("--warmup-cycles", v)) => a.copy(warmupCycles = v.toInt)
      case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(a.out).mkdirs()
    val spark = graft.Sessions.local(a.nproc.toString, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer, a.data, a.out, a.seed)
    try run(a, h, startMs, sessionS)
    finally spark.stop()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(a: Args, h: Harness, startMs: Long, sessionS: Double): Unit = {
    val w = Workloads(a.workload, h)
    val fixtureT0 = System.nanoTime()
    w.setup()
    val fixtureS = secondsSince(fixtureT0)

    var seq = 0
    def runOp(op: Op, phase: String): Sample = {
      // traced runs list the store before and after, outside the timing
      val before = if (h.tracer.enabled) op.store.map(Workloads.fileSizes) else None
      val t0 = System.nanoTime()
      val (fp, err) =
        try (Some(h.tracer.op(seq, op.kind)(op.run(h))), None)
        catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}".take(400))) }
      val ms = (System.nanoTime() - t0) / 1e6
      val (written, bytes, live) = before.map { b =>
        val after = Workloads.fileSizes(op.store.get)
        val fresh = after -- b.keySet
        (fresh.size.toLong, fresh.values.sum, after.size.toLong)
      }.getOrElse((0L, 0L, 0L))
      val s = Sample(seq, op, phase, ms, fp, err, written, bytes, live)
      seq += 1
      s
    }
    /** Steps until `--seconds` have passed and `steps` have run (or
      * exactly `--cycles`); a step is a list of (phase, cycle) pairs,
      * and "traced" cycles run with the tracer started. */
    def window(steps: Int, next: () => Seq[(String, IndexedSeq[Op])]): (Seq[Sample], Double) = {
      val out = ArrayBuffer.empty[Sample]
      val t0 = System.nanoTime()
      var done = 0
      def more = if (a.cycles > 0) done < a.cycles
                 else done < steps || secondsSince(t0) < a.seconds
      while (more) {
        for ((p, ops) <- next(); op <- ops) {
          if (p == "traced") h.tracer.start() else h.tracer.stop()
          out += runOp(op, p)
        }
        done += 1
      }
      h.tracer.stop()
      (out.toSeq, secondsSince(t0))
    }

    // warm-up to steady state: the same cycles, and the same noop sink,
    // as the window, so the JIT compiles the code paths the window times
    val warmT0 = System.nanoTime()
    val warm = ArrayBuffer.empty[Sample]
    var p50s = List.empty[Double]
    def settled: Boolean =
      if (a.warmupCycles >= 0) p50s.size >= a.warmupCycles else w.warmup.settled(p50s)
    while (!settled) {
      val cyc = w.cycle().map(runOp(_, "warmup"))
      warm ++= cyc
      p50s = Stats.quantile(cyc.map(_.ms), 0.5) :: p50s
    }
    val warmupS = secondsSince(warmT0)
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    // with --trace 1, an untraced and a traced cycle alternate (half
    // the window's cycles each, rounded up), the traced one first in
    // every other pair, so both see the same JIT and cache state and
    // their p50s differ by the tracing overhead alone
    val (untraced, traced) =
      if (!a.trace) (window(w.windowCycles, () => Seq("timed" -> w.cycle())), None)
      else {
        var pairs = 0
        val both = window((w.windowCycles + 1) / 2, () => {
          pairs += 1
          val order = if (pairs % 2 == 1) Seq("timed", "traced") else Seq("traced", "timed")
          order.map(_ -> w.cycle())
        })
        val (t, u) = both._1.partition(_.phase == "traced")
        ((u, both._2 / 2), Some((t, both._2 / 2)))
      }
    val bridge = traced.toSeq.flatMap(t => countBridge(h, t._1))
    val peakRssMb = Stats.peakRssMb()

    val samples = untraced._1 ++ traced.toSeq.flatMap(_._1)
    val checks = certify(h, w, samples)

    val rec = Record(a, w, sessionS, fixtureS, warmupS, setupS, warm.toSeq, p50s.reverse,
      untraced, traced, bridge, checks, peakRssMb, h)
    Files.write(Paths.get(a.out, "record.json"), rec.json.getBytes("UTF-8"))
    val pw = new PrintWriter(new File(a.out, "spans.jsonl"), "UTF-8")
    try rec.spanLines.foreach(pw.println) finally pw.close()
  }

  /** One round of `count()` over every query the traced window ran —
    * what the old per-query bench timed — next to the full
    * materialization. An untimed `count()` first compiles the count
    * plan. */
  private def countBridge(h: Harness, traced: Seq[Sample]): Seq[(String, Double, Double)] =
    traced.map(_.op).distinctBy(_.key).collect { case q: QueryOp =>
      def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      q.rebuild(h).count()
      val cnt = time(q.rebuild(h).count())
      val full = time(h.materialize(q.rebuild(h)))
      (q.key, cnt, full)
    }

  /** Certifies every operation key once, outside the timed windows.
    * SQL oracles: the result, built again and written as parquet, must
    * have the fingerprint every timed occurrence observed; run.py then
    * compares the parquet with DuckDB. Twins: every timed fingerprint must
    * equal the expected result's. */
  private def certify(h: Harness, w: Workload, samples: Seq[Sample]): Seq[Check] = {
    val byKey = samples.groupBy(_.key)
    val perKey = byKey.toSeq.sortBy(_._1).map { case (key, ss) =>
      val opDef = ss.head.op
      val fps = ss.flatMap(_.fp).distinct
      def consistent(fp: Fp): Option[String] =
        if (fps.forall(_ == fp)) None
        else Some(s"timed fingerprints ${fps.mkString(",")} != certified $fp")
      try opDef.oracle match {
        case Oracle.Sql(sql, exact) =>
          val dir = s"${h.workDir}/results/$key"
          consistent(h.dump(opDef.asInstanceOf[QueryOp].rebuild(h), dir)) match {
            case Some(r) => Check(key, Some(false), r)
            case None => Check(key, None, "", Some(sql), Some(dir), exact)
          }
        case Oracle.Twin(df) =>
          val want = h.materialize(df())
          consistent(want) match {
            case Some(r) => Check(key, Some(false), s"result != oracle: $r")
            case None => Check(key, Some(true), "")
          }
        case Oracle.Deferred => Check(key, Some(true), "covered by the workload check")
      } catch {
        case e: Throwable => Check(key, Some(false), s"certification failed: $e".take(400))
      }
    }
    perKey ++ w.finish()
  }
}
