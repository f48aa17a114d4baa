package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Workloads.EventCols
import graft.operators.{Events, IvfIndex, LexIndex, ManifestedLog}

/** A benchmark workload: fixtures built once, then a fixed cycle of
  * operations the closed loop repeats. */
trait Workload {
  /** Scale factor of the tables the workload reads. */
  def sf: Double
  /** Builds the fixtures (stores, query inputs). */
  def setup(): Unit
  /** One cycle of operations, in the seed's order. Stateful workloads
    * return fresh operations on every call. */
  def cycle(): IndexedSeq[Op]
  /** Whole cycles a timed window runs at least, so every run times the
    * same number of operations (a window that ended on time alone
    * would run 2 or 3 cycles as the machine's speed drifts, and move
    * the percentiles). */
  def windowCycles: Int
  /** When warm-up, which runs whole cycles, has reached steady state. */
  def warmup: Warmup
  /** Store directories whose files count as live data. */
  def stores: Seq[String] = Nil
  /** Bytes of user data the stores were given. */
  def userBytes: Long = 0L
  /** Workload-wide checks after the window; one failing fails every
    * operation of the window. */
  def finish(): Seq[Check] = Nil
}

/** Warm-up runs at least `min` and at most `max` cycles (counts, not
  * times, so a slower machine does not warm up less), and stops once
  * `calm` cycles in a row set no new p50 low by 3% (one noisy cycle
  * must not end it). */
final case class Warmup(min: Int, max: Int, calm: Int) {
  def settled(p50sNewestFirst: List[Double]): Boolean = {
    val n = p50sNewestFirst.size
    n >= max || (n >= min && n > calm &&
      p50sNewestFirst.take(calm).min >= p50sNewestFirst.drop(calm).min * 0.97)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("nl_small", "store_ingest")

  val EventCols: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  def apply(name: String, h: Harness): Workload = name match {
    case "nl_small" => new NlSmall(h)
    case "store_ingest" => new StoreIngest(h)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** A `SparkEntry` query checked against its pack's DuckDB oracle. */
  def packOp(h: Harness, name: String): QueryOp = {
    val fn = graft.SparkEntry.queries(name)
    val sql = graft.SparkEntry.oracleSql.getOrElse(name,
      throw new IllegalArgumentException(s"$name has no oracle SQL"))
    QueryOp(name, "pack", None, _ => fn(h.spark, h.dataDir), Oracle.Sql(sql, exact = true))
  }

  /** Path → size of every data file under `path`. */
  def fileSizes(path: String): Map[String, Long] =
    files(path).map(f => f.getPath -> f.length).toMap

  /** Data files under `path` (hidden and underscore entries excluded). */
  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
        .flatMap(walk)
      else Seq(f)
    walk(new File(path)).filter(_.getName.endsWith(".parquet"))
  }
}

/** Seeded descriptions in the eval grammar over sf0.01 tables, each
  * with the SQL that states the same request, plus four NL pack
  * queries. Parse and planning dominate every operation. */
final class NlSmall(h: Harness) extends Workload {
  import NlSmall.Tab
  val sf = 0.01
  val windowCycles = 6
  /** The planning code is still being compiled for ten cycles and more
    * (the cycle p50 falls from ~180 to ~120 ms on 4 cores), so warm-up
    * runs at least 5 cycles; a window that starts earlier on that
    * descent measures how far the JIT has got. */
  val warmup: Warmup = Warmup(min = 5, max = 6, calm = 2)
  private val rnd = new Random(h.seed)
  private val tabs = Seq(
    Tab("orders", "o_orderkey",
      Seq(("o_totalprice", 1000, 500000), ("o_custkey", 0, 1500)),
      Seq(("o_orderstatus", Seq("F", "O", "P")),
          ("o_orderpriority", Seq("1-URGENT", "2-HIGH", "5-LOW"))),
      Seq("o_orderstatus", "o_orderpriority")),
    Tab("customer", "c_custkey",
      Seq(("c_acctbal", -1000, 10000), ("c_nationkey", 0, 25)),
      Seq(("c_mktsegment", Seq("BUILDING", "MACHINERY", "HOUSEHOLD"))),
      Seq("c_mktsegment", "c_nationkey")),
    Tab("part", "p_partkey",
      Seq(("p_size", 1, 51), ("p_retailprice", 900, 1000)),
      Seq(("p_type", Seq("ECONOMY", "LARGE", "PROMO")), ("p_brand", Seq("Brand#1", "Brand#2", "Brand#3"))),
      Seq("p_type", "p_size")),
    Tab("lineitem", "l_orderkey",
      Seq(("l_quantity", 1, 51), ("l_extendedprice", 900, 105000), ("l_linenumber", 1, 8)),
      Seq(("l_returnflag", Seq("A", "N", "R")), ("l_linestatus", Seq("F", "O"))),
      Seq("l_returnflag", "l_linestatus", "l_linenumber")))

  /** NL pack entries (full description → plan → DataFrame path) cheap
    * enough at sf0.01 to keep planning dominant. */
  private val packs = Seq(
    "nl9_fingerprint_md5", "nl16_multisort", "nl67_topk_orders", "nl73_filter_pushdown")

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def atom(t: Tab): (String, String) = {
    if (rnd.nextInt(3) < 2) {
      val (c, lo, hi) = pick(t.nums)
      val v = lo + rnd.nextInt(hi - lo)
      rnd.nextInt(3) match {
        case 0 => (s"$c > $v", s"$c > $v")
        case 1 => (s"$c <= $v", s"$c <= $v")
        case _ =>
          val w = v + rnd.nextInt(hi - v + 1)
          (s"$c between $v and $w", s"$c BETWEEN $v AND $w")
      }
    } else {
      val (c, vs) = pick(t.strs)
      val v = pick(vs)
      if (rnd.nextBoolean()) (s"$c == '$v'", s"$c = '$v'")
      else (s"$c starts with '${v.take(1)}'", s"starts_with($c, '${v.take(1)}')")
    }
  }

  private def pred(t: Tab, depth: Int): (String, String) =
    if (depth == 0) atom(t)
    else rnd.nextInt(3) match {
      case 0 =>
        val ((na, sa), (nb, sb)) = (pred(t, depth - 1), atom(t))
        (s"($na AND $nb)", s"(($sa) AND ($sb))")
      case 1 =>
        val ((na, sa), (nb, sb)) = (pred(t, depth - 1), atom(t))
        (s"($na OR $nb)", s"(($sa) OR ($sb))")
      case _ =>
        val (na, sa) = atom(t)
        (s"not $na", s"NOT ($sa)")
    }

  /** One description of request form `form` over `t`, with its SQL
    * and whether the SQL's answer is bit-exact (averages are not). */
  private def describe(t: Tab, form: Int): (String, String, Boolean) = {
    val (np, sp) = pred(t, rnd.nextInt(3))
    val cols = t.nums.map(_._1) ++ t.strs.map(_._1)
    form match {
      case 0 =>
        (s"Filter rows where $np.", s"SELECT * FROM ${t.name} WHERE $sp", true)
      case 1 =>
        val c = pick(t.nums)._1
        val n = 1 + rnd.nextInt(50)
        (s"Filter rows where $np and sort by $c desc, ${t.key} and keep top $n rows.",
          s"SELECT * FROM ${t.name} WHERE $sp ORDER BY $c DESC, ${t.key} LIMIT $n", true)
      case 2 =>
        val k = pick(t.groups)
        val c = pick(t.nums)._1
        (s"Group by $k and show average $c where average_$c > 10.",
          s"SELECT $k, avg($c) AS average_$c FROM ${t.name} GROUP BY $k HAVING avg($c) > 10", false)
      case _ =>
        val a = rnd.shuffle(cols).take(2)
        (s"Filter rows where $np and select columns ${a(0)} and ${a(1)}.",
          s"SELECT ${a(0)}, ${a(1)} FROM ${t.name} WHERE $sp", true)
    }
  }

  /** Every request form over every table (lineitem has no unique key
    * to make "keep top n" deterministic, so orders takes its sort),
    * plus the NL pack entries, in the seed's order: the seed varies
    * predicates, columns and constants, not the mix. */
  private lazy val ops: IndexedSeq[Op] = {
    val forms = for (t <- tabs; form <- 0 until 4)
      yield (if (form == 1 && t.name == "lineitem") tabs.head else t, form)
    val generated = forms.zipWithIndex.map { case ((t, form), i) =>
      val (desc, sql, exact) = describe(t, form)
      QueryOp(f"gen$i%02d", "describe", Some(desc),
        p => graft.plans.Compiler.compile(p.get, h.table(t.name)),
        Oracle.Sql(sql, exact))
    }
    rnd.shuffle(generated ++ packs.map(Workloads.packOp(h, _))).toIndexedSeq
  }

  def setup(): Unit = ops
  def cycle(): IndexedSeq[Op] = ops
}

object NlSmall {
  /** A table the generator describes: its unique key, numeric columns
    * with value ranges, string columns with values, grouping columns. */
  final case class Tab(name: String, key: String, nums: Seq[(String, Int, Int)],
                       strs: Seq[(String, Seq[String])], groups: Seq[String])
}

/** Seeded batches appended to a lexical index, an IVF index and a
  * manifested event log, all three built from the pool's first batch:
  * each cycle appends one batch to each store, each append followed by
  * a read-your-write probe, then compacts and vacuums every store
  * (warm-up runs the same cycle, so the timed maintenance is not cold).
  * The final state is checked against a from-scratch rebuild over the
  * same rows. Batch sizes, ids and time slices come from
  * `ingest/layout.properties`, written by datagen.py next to the
  * batches. */
final class StoreIngest(h: Harness) extends Workload {
  val sf = 0.01
  val windowCycles = 4
  val warmup: Warmup = Warmup(min = 2, max = 3, calm = 1)
  private val spark = h.spark
  private val ingestDir = s"${h.dataDir}/ingest"

  private val lex = s"${h.workDir}/stores/lex"
  private val ivf = s"${h.workDir}/stores/ivf"
  private val log = s"${h.workDir}/stores/log"

  private val layout = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(s"$ingestDir/layout.properties")
    try p.load(in) finally in.close()
    (k: String) => p.getProperty(k).toLong
  }
  private val docsPerBatch = layout("docs_per_batch").toInt
  private val vecsPerBatch = layout("vecs_per_batch")
  private val firstVecId = layout("first_vec_id")
  private val users = layout("users")
  private val firstTsUs = layout("first_ts_us")
  private val sliceUs = layout("slice_us")
  private val nBatches = layout("batches").toInt

  private var nextBatch = 0
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[Int]

  override def stores: Seq[String] = Seq(lex, ivf, log)
  override def userBytes: Long =
    ingested.map(b => Seq("docs", "vecs", "events").map(k => new File(batchFile(k, b)).length).sum).sum

  private def batchFile(kind: String, b: Int): String = f"$ingestDir/$kind-$b%05d.parquet"
  private def docs(b: Int) = spark.read.parquet(batchFile("docs", b)).select("doc_id", "text")
  private def vecs(b: Int) = spark.read.parquet(batchFile("vecs", b)).select("vec_id", "embedding", "label")
  private def events(b: Int) =
    Events.normalizeEventTime(spark.read.parquet(batchFile("events", b)))

  /** Runs `fs` concurrently (they share nothing but the session) and
    * returns their results. */
  private def concurrently[T](fs: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    fs.map(f => Future(f())).map(Await.result(_, Duration.Inf))
  }

  /** Builds the stores from the first batch (16 IVF cells, as the
    * engine's own vector fixtures). */
  def setup(): Unit = {
    val b = batches(1).head
    concurrently[Unit](
      () => LexIndex.build(docs(b), lex),
      () => IvfIndex.build(vecs(b), ivf, cells = 16, attrs = Seq("label")),
      () => ManifestedLog.write(events(b), log))
  }

  private def batches(n: Int): Seq[Int] = {
    require(nextBatch + n <= nBatches, s"ingest pool of $nBatches batches exhausted")
    val bs = nextBatch until nextBatch + n
    nextBatch += n
    ingested ++= bs
    bs
  }

  private def write(b: Int, name: String, storeDir: String)(
      verb: => Unit)(readBack: => DataFrame)(expected: => DataFrame): Op = new Op {
    val key = s"append_${name}_$b"
    val kind = s"append_$name"
    override val store = Some(storeDir)
    override def userBytes: Long = new File(batchFile(name match {
      case "lex" => "docs"; case "ivf" => "vecs"; case _ => "events" }, b)).length
    def run(h: Harness): Fp = {
      h.tracer.span("append")(verb)
      h.tracer.span("exec")(h.materialize(readBack))
    }
    val oracle = Oracle.Twin(() => expected)
  }

  private def appendOps(b: Int): Seq[Op] = {
    val (tsLo, tsHi) = (firstTsUs + b * sliceUs, firstTsUs + (b + 1) * sliceUs)
    val user = b.toLong % users
    Seq(
      write(b, "lex", lex)(LexIndex.append(docs(b), lex))(
        LexIndex.search(spark, lex,
          spark.createDataFrame(Seq((0L, Seq(s"m$b")))).toDF("query_id", "terms"), docsPerBatch)
          .select("doc_id"))(
        docs(b).select("doc_id")),
      write(b, "ivf", ivf)(IvfIndex.append(vecs(b), ivf))(
        IvfIndex.read(spark, ivf)
          .filter(col("vec_id").between(firstVecId + b * vecsPerBatch, firstVecId + (b + 1) * vecsPerBatch - 1))
          .select("vec_id", "embedding", "label"))(
        vecs(b)),
      write(b, "log", log)(ManifestedLog.append(events(b), log))(
        ManifestedLog.loadByKeyRange(spark, log, "user_id", Seq(user), tsLo, tsHi)
          .select(EventCols.map(col): _*))(
        events(b).filter(col("user_id") === user).select(EventCols.map(col): _*)))
  }

  /** Compact, then vacuum keeping one version, as one operation per
    * store (a vacuum alone takes milliseconds). */
  private def maintenance(b: Int): Seq[Op] =
    Seq("lex", "ivf", "log").zip(stores).map { case (name, dir) =>
      new Op {
        val key = s"maintain_${name}_$b"
        val kind = s"maintain_$name"
        override val store = Some(dir)
        def run(h: Harness): Fp = {
          h.tracer.span("compact") {
            name match {
              case "lex" => LexIndex.compact(spark, lex)
              case "ivf" => IvfIndex.compact(spark, ivf)
              case _ => ManifestedLog.compactClosedDays(spark, log, Long.MaxValue)
            }
          }
          h.tracer.span("vacuum") {
            name match {
              case "lex" => LexIndex.vacuum(spark, lex, 1)
              case "ivf" => IvfIndex.vacuum(spark, ivf, 1)
              case _ => ManifestedLog.vacuum(spark, log, 1)
            }
          }
          Fp(0, 0)
        }
        val oracle = Oracle.Deferred
      }
    }

  /** One batch to every store, then maintain every store (the log
    * rewrites a day on every append, so its compaction sweep finds
    * nothing to fold): 6 operations. */
  def cycle(): IndexedSeq[Op] = {
    val b = batches(1).head
    (appendOps(b) ++ maintenance(b)).toIndexedSeq
  }

  override def finish(): Seq[Check] = {
    val keys = ingested.toSeq
    val allDocs = keys.map(docs).reduce(_ unionByName _)
    val allVecs = keys.map(vecs).reduce(_ unionByName _)
    val allEvents = keys.map(events(_).select(EventCols.map(col): _*)).reduce(_ unionByName _)
    val fresh = s"${h.workDir}/stores/rebuilt_lex"
    val probes = spark.createDataFrame(Seq(
      (0L, Seq("spark", "join")), (1L, Seq("hash", "merge", "batch")),
      (2L, Seq("window", "scan")))).toDF("query_id", "terms")
    def same(name: String, live: => DataFrame, rebuilt: => DataFrame): Check = {
      val (a, b) = (h.materialize(live), h.materialize(rebuilt))
      Check(name, Some(a == b), if (a == b) "" else s"live $a != rebuilt $b")
    }
    concurrently(
      () => {
        LexIndex.build(allDocs, fresh)
        same("rebuild_lex", LexIndex.search(spark, lex, probes, 20),
          LexIndex.search(spark, fresh, probes, 20))
      },
      () => same("rebuild_ivf", IvfIndex.read(spark, ivf).select("vec_id", "embedding", "label"), allVecs),
      () => same("rebuild_log", ManifestedLog.load(spark, log).select(EventCols.map(col): _*), allEvents))
  }
}
