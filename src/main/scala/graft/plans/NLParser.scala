package graft.plans

import graft.operators.{IvfScoring, LexQuery}

/** Deterministic natural-language → Plan IR parser.
  *
  * Replaces the reference's two LLM stages — planner
  * (agentic_workflow_transformation.py:31-53) and code generator
  * (agentic_workflow_transformation.py:57-101) — with a grammar covering the
  * tested contract: the default description
  * (agentic_workflow_transformation.py:318) and all 20 eval descriptions
  * (agentic_workflow_transformation.py:339-362). Anything outside the grammar
  * is a `ParseException`, mirroring how the reference fails/retries on bad
  * generations (SURVEY.md §7.4).
  *
  * Grammar (case-insensitive keywords):
  * {{{
  *   query   := clause (AND THEN? clause)*
  *   clause  := (FILTER|SELECT) (ROWS)? (WHERE)? pred
  *            | SELECT COLUMNS? collist
  *            | SORT BY col (DESC|DESCENDING|ASC|ASCENDING)?
  *            | KEEP TOP int ROWS?
  *            | GROUP BY collist
  *            | COUNT col
  *            | SHOW AVERAGE col (WHERE pred)?
  *            | ADD name COLUMN WHERE name = pred
  *            | RENAME col TO col
  *            | DROP col COLUMN?
  *            | DEDUP DOCUMENTS? ( EXACTLY
  *                               | BY int-GRAM JACCARD num (BLOCKED BY col)?
  *                               | BY MINHASH JACCARD? num
  *                               | BY SIMHASH (HAMMING int)? )
  *            | CLUSTER DUPLICATES? BY int-GRAM JACCARD num (BLOCKED BY col)?
  *            | TOKENIZE DOCUMENTS?
  *            | SCORE QUALITY
  *            | DETECT LANGUAGE
  *            | FINGERPRINT DOCUMENTS?
  *            | SCRUB PII
  *            | FIND TOP int MOST? SIMILAR (VECTORS|NEIGHBORS)? TO int
  *            | FIND REPEATED SPANS OF? int TOKENS?
  *                                       (IN AT? LEAST? int DOCUMENTS?)?
  *            | FIND TOP int TOKENS (BY col)?
  *                ((WITH|USING) A? SKETCH (OF CAPACITY? int)?)?
  *            | SAMPLE num (%|PERCENT)? OF? DOCUMENTS? (BY col)?
  *                                                     (WITH SEED int)?
  *            | SAMPLE FRAMES (FROM THE? VIDEOS?)?
  *            | SAMPLE UP TO int DOCUMENTS? PER col (WITH SEED int)?
  *            | STRATIFIED SAMPLE BY col (stratum AT num (%|PERCENT)?)+
  *                                       (WITH SEED int)?
  *            | SESSIONIZE EVENTS? WITH? A? (GAP OF?)? int
  *                                          (MINUTES|HOURS) GAP?
  *            | COUNT EVENTS PER int unit WINDOW? (EVERY int unit)?
  *            | DECODE THE? (MEDIA|IMAGES)? METADATA?
  *            | RESIZE THE? (MEDIA|IMAGES)? TO int (PIXELS)?
  *            | COMPUTE CORPUS? (STATISTICS|STATS) (BY col)?
  *            | DROP DOCUMENTS? (THAT SHARE|SHARING) int(-TOKEN)? SPANS?
  *                              WITH THE? table
  *            | JOIN noise* TO THE? table
  *                ( AS OF (TIME|TS|TIMESTAMP)?
  *                | ON col (=|==)? col (SALTED int WAYS?)? )
  *            | (ROLLUP|CUBE) BY? collist          -- then SHOW agglist
  *            | SHOW agg ((,|AND) agg)*            -- agg := func col
  *                (ROUNDED TO? int)? (AS alias)?;  func also COUNT (ROWS→*)
  *            | PIVOT COUNT? OF? col VALUES? str ((,|AND) str)* BY col
  *            | UNPIVOT collist TO col (AS name)?
  *            | RANK BY? col (DESC|ASC)? WITHIN col TIE BY? col
  *                                       KEEP? TOP int (AS alias)?
  *            | NTILE col INTO int WITHIN col TIE BY? col (AS alias)?
  *            | UNION (ALL|WITH)? table
  *            | EXCEPT THE? table
  *            | WRITE noise* BUCKETED BY col INTO int BUCKETS?
  *                                             ((AS|TO) table)?
  *            | EXTRACT (YEAR|MONTH|DAY|EPOCH MILLIS?) OF col AS alias
  *            | SHOW RUNNING SUM OF? col PER col ORDERED? BY col
  *                (TIE BY? col)? (ROUNDED TO? int)? AS alias
  *            | SHOW TRAILING int (DAY|HOUR|MINUTE)S? SUM OF? col PER col
  *                ORDERED? BY col (ROUNDED TO? int)? AS alias
  *            | KEEP ROWS? MATCHING table ON col (=|==)? col   -- left semi
  *            | DROP ROWS? MATCHING table ON col (=|==)? col   -- left anti
  *            | (inside SHOW) agg arg := numExpr; numExpr := mulE
  *                ((+|PLUS|-|MINUS) mulE)*; mulE := atom ((*|TIMES) atom)*;
  *                atom := col | number | '(' numExpr ')'
  *   pred    := andp (OR andp)*
  *   andp    := unary (AND unary)*
  *   unary   := NOT unary | '(' pred ')' | atom
  *   atom    := col BETWEEN lit AND lit | col STARTS WITH str
  *            | col CONTAINS str | col IN '(' lit (',' lit)* ')'
  *            | col cmp lit              cmp := > >= < <= == != =
  * }}}
  */
object NLParser {

  final case class ParseException(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------- lexer
  sealed trait Tok
  final case class Word(s: String) extends Tok { def lower: String = s.toLowerCase }
  final case class Num(v: Double)  extends Tok
  final case class Quoted(s: String) extends Tok
  final case class Sym(s: String)  extends Tok // ( ) , or comparison op

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '#'

  /** A '-' continues/starts a word when a letter follows ("n-gram",
    * "near-duplicates", and the "-gram" tail after a number in "3-gram").
    * A '-' followed by a digit still lexes as a negative number. */
  private def hyphenIntoWord(input: String, i: Int): Boolean =
    input(i) == '-' && i + 1 < input.length && input(i + 1).isLetter

  def tokenize(input0: String): Vector[Tok] = {
    val input = input0.trim.stripSuffix(".")
    val toks = Vector.newBuilder[Tok]
    var i = 0
    while (i < input.length) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val end = input.indexOf(c, i + 1)
        if (end < 0) throw ParseException(s"unterminated quote at $i in: $input0")
        toks += Quoted(input.substring(i + 1, end)); i = end + 1
      } else if (c == '(' || c == ')' || c == ',' || c == '%' ||
                 c == '*' || c == '+' || c == '[' || c == ']') {
        toks += Sym(c.toString); i += 1
      }
      else if ("<>=!".contains(c)) {
        val start = i
        while (i < input.length && "<>=!".contains(input(i))) i += 1
        toks += Sym(input.substring(start, i))
      } else if (c == '-' && !(i + 1 < input.length && input(i + 1).isDigit) &&
                 !hyphenIntoWord(input, i)) {
        // a bare '-' (arithmetic minus); '-digit' stays a negative number
        // and '-letter' a hyphenated word, both handled below
        toks += Sym("-"); i += 1
      } else if (c.isDigit || (c == '-' && i + 1 < input.length && input(i + 1).isDigit)) {
        val start = i
        i += 1
        while (i < input.length &&
               (input(i).isDigit ||
                (input(i) == '.' && i + 1 < input.length && input(i + 1).isDigit))) i += 1
        toks += Num(input.substring(start, i).toDouble)
      } else if (isWordChar(c) || hyphenIntoWord(input, i)) {
        val start = i
        i += 1
        while (i < input.length &&
               (isWordChar(input(i)) || hyphenIntoWord(input, i))) i += 1
        toks += Word(input.substring(start, i))
      } else throw ParseException(s"unexpected char '$c' at $i in: $input0")
    }
    toks.result()
  }

  // ------------------------------------------------------------- clauses
  /** Keywords that begin a new top-level clause after an "and". */
  private val clauseKeywords =
    Set("select", "keep", "take", "then", "filter", "sort", "order", "group", "count",
        "show", "drop", "rename", "add",
        // corpus-operator clauses (extension surface)
        "dedup", "deduplicate", "cluster", "tokenize", "score", "detect",
        "fingerprint", "scrub", "find", "sample", "stratified", "sessionize",
        "shuffle",
        "decode", "resize", "compute", "join", "pack", "quantize", "chunk",
        "split", "repeat", "upsample", "curate", "apply", "histogram", "clip",
        "normalize", "funnel", "cohort", "zorder", "z-order",
        "calibrate", "certify",
        // relational analytics extensions (q-family NL routes)
        "rollup", "cube", "pivot", "unpivot", "rank", "ntile", "union",
        "except", "write", "extract",
        // manifested-table maintenance + time travel
        "read", "load", "compact", "vacuum")

  /** Tokens that, appearing right after a clause-keyword word, mean the
    * word is being used as a *column* inside a predicate ("… and score >
    * 0.5", "… and cluster between 1 and 5") or as a sort key ("sort by
    * count desc and score asc") — not as a clause start. Comparison
    * symbols plus the word-operators of `atom` plus sort directions. */
  private def predicateContinuation(t: Tok): Boolean = t match {
    // any symbol qualifies: no clause keyword is ever followed by one
    case Sym(_) => true
    case w: Word =>
      Set("between", "starts", "contains", "in", "is",
          "asc", "ascending", "desc", "descending")(w.lower)
    case _ => false
  }

  /** Clauses whose tail is a column/key list — a bare trailing keyword
    * there ("select columns a and score.") is a column reference, while
    * the same shape after a filter ("… and tokenize.") is an operator.
    * "select" is only a column-list clause in its projection form; the
    * filter form ("select rows where …") is recognized by its "where",
    * tracked per-clause in the splitter. */
  private val columnListClauses =
    Set("select", "drop", "group", "sort", "order", "rename")

  /** Split the token stream into clauses at top-level `and <keyword>`
    * boundaries. `and` inside parens or inside `between lo and hi` stays
    * part of the predicate (the next token there is a literal, never a
    * clause keyword). */
  private def splitClauses(toks: Vector[Tok]): List[Vector[Tok]] = {
    val out = List.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var depth = 0
    var i = 0
    var curEmpty = true
    var curHead: Option[String] = None
    var curHasWhere = false
    def append(t: Tok): Unit = {
      if (curEmpty) { curHead = t match { case w: Word => Some(w.lower); case _ => None }
                      curHasWhere = false }
      t match { case w: Word if w.lower == "where" => curHasWhere = true; case _ => () }
      cur += t; curEmpty = false
    }
    while (i < toks.length) {
      toks(i) match {
        case Sym("(") => depth += 1; append(toks(i)); i += 1
        case Sym(")") => depth -= 1; append(toks(i)); i += 1
        case w: Word if depth == 0 && !curEmpty && w.lower == "and" && {
              // the clause keyword may sit after an interposed "then";
              // "and then by name" (a sort-key continuation) has none
              val k = toks.drop(i + 1).headOption match {
                case Some(t: Word) if t.lower == "then" => i + 2
                case _                                  => i + 1
              }
              k < toks.length && (toks(k) match {
                case n: Word => clauseKeywords(n.lower) && n.lower != "then" &&
                  // "show sum x as a and count rows as b": count after a
                  // show head is an aggregate continuation, never a clause
                  !(n.lower == "count" && curHead.contains("show"))
                case _       => false
              }) && {
                // lookahead past the keyword: "and score > 0.5" is a
                // predicate over a column named `score`, not a `score
                // quality` clause; a BARE trailing keyword is a column
                // when the current clause takes a column list ("select
                // columns a and score.") and an operator otherwise —
                // including the filter form "select rows where … and
                // tokenize.", whose "where" marks it predicate-shaped
                if (k + 1 >= toks.length)
                  !(curHead.exists(columnListClauses) && !curHasWhere)
                else !predicateContinuation(toks(k + 1))
              }
            } =>
          // an oxford comma before the boundary ("keep top 3, and select
          // …") belongs to the sentence, not the finished clause
          val done = cur.result()
          out += (if (done.lastOption.contains(Sym(","))) done.dropRight(1) else done)
          cur = Vector.newBuilder[Tok]; curEmpty = true
          i += 1 // drop the "and"
          // drop a following "then"
          toks(i) match { case w2: Word if w2.lower == "then" => i += 1; case _ => () }
        case t => append(t); i += 1
      }
    }
    val last = cur.result()
    if (last.nonEmpty) out += last
    out.result()
  }

  /** A pending grouping clause awaiting its aggregate: plain `group by`,
    * `rollup by` or `cube by`. */
  private sealed trait GroupMode
  private case object PlainGroup extends GroupMode
  private case object RollupGroup extends GroupMode
  private case object CubeGroup extends GroupMode

  // --------------------------------------------------------------- parse
  def parse(description: String): Plan = {
    val clauses = splitClauses(tokenize(description))
    var groupKeys: Option[(Seq[String], GroupMode)] = None
    val ops = List.newBuilder[Op]
    clauses.foreach { cl =>
      parseClause(cl, groupKeys) match {
        case Left(keys) => groupKeys = Some(keys)
        case Right(clauseOps) =>
          ops ++= clauseOps
          if (clauseOps.exists {
                case _: Op.GroupAgg | _: Op.RollupAgg | _: Op.CubeAgg => true
                case _ => false
              }) groupKeys = None
      }
    }
    if (groupKeys.isDefined)
      throw ParseException(s"dangling GROUP BY without aggregate in: $description")
    Plan(ops.result())
  }

  /** Left(groupKeys, mode) for a bare grouping clause awaiting its
    * aggregate clause. */
  private def parseClause(
      toks: Vector[Tok],
      pendingGroup: Option[(Seq[String], GroupMode)]): Either[(Seq[String], GroupMode), List[Op]] = {
    val p = new TokCursor(toks)
    p.peekWordLower match {
      case Some("filter") =>
        p.next(); p.dropWords("rows"); p.dropWords("where")
        Right(List(Op.Filter(parsePred(p).ensuringDone(p))))
      case Some("select") =>
        p.next()
        p.peekWordLower match {
          case Some("rows") => // "Select rows where <pred>"
            p.next(); p.dropWords("where")
            Right(List(Op.Filter(parsePred(p).ensuringDone(p))))
          case Some("columns") =>
            p.next(); Right(List(Op.Select(parseColList(p))))
          case _ => Right(List(Op.Select(parseColList(p))))
        }
      case Some("keep") | Some("take") =>
        p.next()
        // "keep top K rows" (limit) vs "keep the latest event per <key>"
        // (latest-wins snapshot compaction)
        p.peekWordLower match {
          case Some("the") | Some("latest") | Some("last") =>
            p.dropWords("the")
            p.dropWords("latest", "last")
            p.dropWords("event", "row", "record", "value")
            p.expectWord("per")
            p.dropWords("each")
            val key = p.expectWordRaw()
            // optional "by <tsCol>" orders by a non-default timestamp;
            // optional "tie by <idCol>" overrides the unique tie-break
            // column (default event_id — frames without it must name one)
            val ts = p.peekWordLower match {
              case Some("by") => p.next(); p.expectWordRaw()
              case _          => "ts_us"
            }
            val id = p.peekWordLower match {
              case Some("tie") | Some("ties") =>
                p.next(); p.dropWords("by", "breaking"); p.expectWordRaw()
              case _ => "event_id"
            }
            requireDone(p)
            Right(List(Op.LatestPerKey(key, ts, id)))
          case Some("events") =>
            // "Keep events between '<iso-8601>' and '<iso-8601>'." —
            // event-time range scan [from, to); the compiled filter lands
            // on the native ts column, so it reaches the parquet scan as
            // a pushed min-max-prunable predicate (EventScanPruningSpec)
            p.next()
            p.expectWord("between")
            val from = isoToUs(p.expectStr())
            p.expectWord("and")
            val to = isoToUs(p.expectStr())
            if (to <= from) throw ParseException(
              s"event time range is empty: from $from us to $to us")
            requireDone(p)
            Right(List(Op.EventTimeRange(from, to)))
          case Some("only") | Some("rows") | Some("documents") | Some("docs")
               | Some("matching") =>
            // "Keep rows matching <table> on l = r (with a bloom filter)?"
            // — bloom-pruned semi-join with the tail, plain left-semi
            // without it
            p.dropWords("only", "rows", "documents", "docs")
            p.expectWord("matching")
            p.dropWords("the")
            val tbl = p.expectWordRaw()
            p.expectWord("on")
            val lk = p.expectWordRaw()
            p.peek match {
              case Some(Sym("=")) | Some(Sym("==")) => p.next()
              case _                                => ()
            }
            val rk = p.expectWordRaw()
            p.peekWordLower match {
              case Some("with") | Some("using") | Some("bloom") =>
                p.dropWords("with", "using", "a")
                p.expectWord("bloom")
                p.dropWords("filter", "filtered", "prune", "pruning")
                requireDone(p)
                Right(List(Op.BloomSemiJoin(tbl, lk, rk)))
              case _ =>
                requireDone(p)
                Right(List(Op.SemiJoinTable(tbl, lk, rk)))
            }
          case _ =>
            p.expectWord("top")
            val k = p.expectNum().toInt
            p.dropWords("rows")
            Right(List(Op.Limit(k)))
        }
      case Some("sort") | Some("order") =>
        p.next(); p.expectWord("by")
        val keys = Seq.newBuilder[(String, Boolean)]
        var more = true
        while (more) {
          val c = p.expectWordRaw()
          val asc = p.peekWordLower match {
            case Some("desc") | Some("descending") => p.next(); false
            case Some("asc") | Some("ascending")   => p.next(); true
            case _                                 => true
          }
          keys += c -> asc
          // further keys: "sort by age desc, name asc" / "… and then by name"
          p.peek match {
            case Some(Sym(","))                     => p.next(); p.dropWords("then", "by")
            case Some(w: Word) if w.lower == "and"  => p.next(); p.dropWords("then", "by")
            case Some(w: Word) if w.lower == "then" => p.next(); p.dropWords("by")
            case _                                  => more = false
          }
        }
        requireDone(p)
        Right(List(Op.Sort(keys.result())))
      case Some("group") =>
        p.next(); p.expectWord("by")
        Left((parseColList(p), PlainGroup))
      case Some("rollup") =>
        // "Rollup by r_name and n_name" — grouping-sets rollup awaiting
        // its aggregate ("show …") clause
        p.next(); p.dropWords("by")
        Left((parseColList(p), RollupGroup))
      case Some("cube") =>
        p.next(); p.dropWords("by")
        Left((parseColList(p), CubeGroup))
      case Some("pivot") =>
        // "Pivot count of o_orderstatus values 'F', 'O' and 'P' by
        //  o_orderpriority." — explicit value list (never a distinct scan)
        p.next(); p.dropWords("count", "counts", "of", "the")
        val pivotCol = p.expectWordRaw()
        p.dropWords("values", "value", "with")
        val values = Seq.newBuilder[String]
        var moreVals = true
        while (moreVals) {
          values += p.expectStr()
          p.peek match {
            case Some(Sym(","))                    => p.next(); p.dropWords("and")
            case Some(w: Word) if w.lower == "and" => p.next()
            case _                                 => moreVals = false
          }
        }
        p.dropWords("by", "per", "grouped")
        val groupCol = p.expectWordRaw()
        val vals = values.result()
        if (vals.isEmpty) throw ParseException("pivot needs an explicit value list")
        if (vals.distinct.size != vals.size)
          throw ParseException(s"duplicate pivot values: ${vals.mkString(", ")}")
        requireDone(p)
        Right(List(Op.PivotCount(groupCol, pivotCol, vals)))
      case Some("unpivot") =>
        // "Unpivot F, O and P to o_orderstatus as n_orders." — melt the
        // named columns back to long form
        p.next(); p.dropWords("columns", "the")
        val cols = parseColList(p, stopWords = Set("to", "into"))
        p.dropWords("to", "into")
        val varCol = p.expectWordRaw()
        p.dropWords("as", "values", "value")
        val valueName = if (p.done) "value" else p.expectWordRaw()
        requireDone(p)
        Right(List(Op.UnpivotCols(cols, varCol, valueName)))
      case Some("rank") =>
        // "Rank by o_totalprice desc within o_custkey tie by o_orderkey
        //  keep top 3 (as rn)?" — per-partition row_number top-N
        p.next(); p.dropWords("rows", "orders", "documents", "docs", "by")
        val oc = p.expectWordRaw()
        val desc = p.peekWordLower match {
          case Some("desc") | Some("descending") => p.next(); true
          case Some("asc") | Some("ascending")   => p.next(); false
          case _                                 => false
        }
        p.expectWord("within")
        p.dropWords("each", "the")
        val pc = p.expectWordRaw()
        p.dropWords("tie", "ties")
        p.dropWords("by", "breaking")
        val tie = p.expectWordRaw()
        p.dropWords("keep", "take")
        p.expectWord("top")
        val k = p.expectNum().toInt
        if (k <= 0) throw ParseException(s"rank top-N must be positive: $k")
        p.dropWords("rows", "per", "group", "partition")
        val alias = p.peekWordLower match {
          case Some("as") => p.next(); p.expectWordRaw()
          case _          => "rn"
        }
        requireDone(p)
        Right(List(Op.WindowTopN(oc, desc, pc, tie, k, alias)))
      case Some("ntile") =>
        // "Ntile o_totalprice into 4 within o_orderpriority tie by
        //  o_orderkey as quartile."
        p.next(); p.dropWords("the", "by")
        val oc = p.expectWordRaw()
        p.dropWords("into", "in")
        val n = p.expectNum().toInt
        if (n <= 0) throw ParseException(s"ntile bucket count must be positive: $n")
        p.dropWords("tiles", "tile", "buckets", "bucket", "quantiles",
                    "quartiles", "deciles")
        p.expectWord("within")
        p.dropWords("each", "the")
        val pc = p.expectWordRaw()
        p.dropWords("tie", "ties")
        p.dropWords("by", "breaking")
        val tie = p.expectWordRaw()
        val alias = p.peekWordLower match {
          case Some("as") => p.next(); p.expectWordRaw()
          case _          => "bucket"
        }
        requireDone(p)
        Right(List(Op.NtileBucket(n, oc, pc, tie, alias)))
      case Some("union") =>
        // "Union with <table>." — UNION ALL of the named catalog table
        p.next(); p.dropWords("all", "with", "the")
        val tbl = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.UnionTable(tbl)))
      case Some("except") =>
        // "Except <table>." — set difference (distinct) vs the named table
        p.next(); p.dropWords("the", "rows", "of")
        val tbl = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.ExceptTable(tbl)))
      case Some("extract") =>
        // "Extract year of o_orderdate as order_year." /
        // "Extract epoch millis of o_orderdate as order_ms."
        p.next(); p.dropWords("the")
        val part = p.expectWordRaw().toLowerCase match {
          case "year" | "years"   => "year"
          case "month" | "months" => "month"
          case "day" | "days"     => "day"
          case "epoch"            => p.dropWords("millis", "ms", "milliseconds"); "epoch_ms"
          case other => throw ParseException(
            s"unknown date part '$other' (year/month/day/epoch millis)")
        }
        p.dropWords("of", "from")
        val src = p.expectWordRaw()
        p.expectWord("as")
        val alias = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.DeriveDatePart(part, src, alias)))
      case Some("write") =>
        // "Write orders bucketed by o_custkey into 16 buckets (as <table>)."
        // — the pay-the-shuffle-once layout step; words before "bucketed"
        // only re-describe the input frame
        p.next()
        while (!p.done && !p.peekWordLower.contains("bucketed")) p.next()
        p.expectWord("bucketed")
        p.dropWords("by", "on")
        val key = p.expectWordRaw()
        p.dropWords("into", "in", "across")
        val buckets = p.expectNum().toInt
        if (buckets <= 0)
          throw ParseException(s"bucket count must be positive: $buckets")
        p.dropWords("buckets", "bucket")
        val tbl = p.peekWordLower match {
          case Some("as") | Some("to") => p.next(); p.dropWords("table"); p.expectWordRaw()
          case _                       => "graft_bucketed"
        }
        requireDone(p)
        Right(List(Op.WriteBucketed(tbl, key, buckets)))
      case Some("count") =>
        p.next()
        // "count events per 1 hour window" → tumbling window counts, with
        // an optional "every 15 minutes" sliding tail;
        // "count <col>" (after group by) → relational count aggregate
        val tumbling = p.peekWordLower.contains("events") &&
          (p.peekAt(1) match { case Some(w: Word) => w.lower == "per"; case _ => false })
        if (p.peekWordLower.contains("distinct")) {
          // "Count distinct user_id per event_type with a sketch." —
          // HLL estimate certified against the exact count
          p.next()
          val key = p.expectWordRaw()
          p.expectWord("per")
          val group = p.expectWordRaw()
          p.dropWords("with", "using", "a")
          p.expectWord("sketch")
          requireDone(p)
          Right(List(Op.DistinctSketch(key, group)))
        } else if (tumbling) {
          p.next(); p.next() // events, per
          def windowUnit(): String =
            p.expectWordRaw().toLowerCase.stripSuffix("s") match {
              case u @ ("second" | "minute" | "hour" | "day" | "week") => u
              case other => throw ParseException(s"unknown window unit '$other'")
            }
          val amount = p.expectNum().toInt
          val unit = windowUnit()
          p.dropWords("window", "windows")
          if (p.peekWordLower.contains("every")) {
            p.next()
            val sn = p.expectNum().toInt
            val su = windowUnit()
            requireDone(p)
            Right(List(Op.SlidingCount(amount, unit, sn, su)))
          } else {
            requireDone(p)
            Right(List(Op.TumblingCount(amount, unit)))
          }
        } else {
          val c = p.expectWordRaw()
          val (keys, mode) = pendingGroup.getOrElse(
            throw ParseException("count without preceding group by"))
          Right(List(groupedAgg(mode, keys, Seq(AggSpec(AggFunc.Count, c, "count")))))
        }
      case Some("show") =>
        // "show average age" / "show average age and sum salary, max bonus"
        // Each aggregate takes an optional "rounded to n" (HALF_UP round,
        // for float sums matching a rounding oracle) and "as alias" tail;
        // "count rows" is the count-star form, "count distinct <col>" the
        // exact distinct count. Window forms: "show running sum of v per
        // part ordered by o (tie by t)? …" and "show trailing N day sum
        // of v per part ordered by o …" (value-range frame).
        p.next()
        if (p.peekWordLower.contains("running") ||
            p.peekWordLower.contains("trailing")) {
          val trailing = p.peekWordLower.contains("trailing")
          p.next()
          val rangeBackMs =
            if (!trailing) None
            else {
              val n = p.expectNum().toLong
              val unitMs = p.expectWordRaw().toLowerCase.stripSuffix("s") match {
                case "day"    => 86400000L
                case "hour"   => 3600000L
                case "minute" => 60000L
                case other => throw ParseException(
                  s"unknown trailing unit '$other' (day/hour/minute)")
              }
              Some(n * unitMs)
            }
          p.expectWord("sum")
          p.dropWords("of")
          val v = p.expectWordRaw()
          p.expectWord("per")
          val part = p.expectWordRaw()
          p.dropWords("ordered", "order")
          p.expectWord("by")
          val ords = Seq.newBuilder[String]
          ords += p.expectWordRaw()
          if (!trailing) {
            // running frames are row-based: a tie-break keeps them
            // deterministic; trailing range frames are tie-insensitive
            p.peekWordLower match {
              case Some("tie") | Some("ties") =>
                p.next(); p.dropWords("by", "breaking"); ords += p.expectWordRaw()
              case _ => ()
            }
          }
          val roundTo = p.peekWordLower match {
            case Some("rounded") =>
              p.next(); p.dropWords("to")
              val s = p.expectNum().toInt
              p.dropWords("decimals", "decimal", "places", "digits")
              Some(s)
            case _ => None
          }
          p.expectWord("as")
          val alias = p.expectWordRaw()
          requireDone(p)
          return Right(List(
            Op.WindowAgg(v, part, ords.result(), alias, roundTo, rangeBackMs)))
        }
        def parseAgg(): AggSpec = {
          val func = p.expectWordRaw().toLowerCase match {
            case "average" | "avg" => AggFunc.Avg
            case "sum" | "total"   => AggFunc.Sum
            case "min" | "minimum" => AggFunc.Min
            case "max" | "maximum" => AggFunc.Max
            case "median"          => AggFunc.Median
            case "count" if p.peekWordLower.contains("distinct") =>
              p.next(); AggFunc.CountDistinct
            case "count"           => AggFunc.Count
            case other => throw ParseException(s"unknown aggregate '$other'")
          }
          val (c, argOpt) =
            if (func == AggFunc.Count || func == AggFunc.CountDistinct) {
              val rawCol = p.expectWordRaw()
              (if (func == AggFunc.Count &&
                   Set("rows", "all")(rawCol.toLowerCase)) "*" else rawCol,
               Option.empty[NumExpr])
            } else {
              p.dropWords("of")
              parseNumExpr(p) match {
                case NumExpr.ColRef(n) => (n, Option.empty[NumExpr])
                case e                 => ("__expr__", Some(e))
              }
            }
          val roundTo = p.peekWordLower match {
            case Some("rounded") =>
              p.next(); p.dropWords("to")
              val s = p.expectNum().toInt
              p.dropWords("decimals", "decimal", "places", "digits")
              Some(s)
            case _ => None
          }
          val alias0 = func match {
            case AggFunc.Avg => s"average_$c"
            case AggFunc.Sum => s"sum_$c"
            case AggFunc.Min => s"min_$c"
            case AggFunc.Max => s"max_$c"
            case AggFunc.Median => s"median_$c"
            case AggFunc.CountDistinct => s"distinct_$c"
            case AggFunc.Count => "count"
          }
          val alias = p.peekWordLower match {
            case Some("as") => p.next(); p.expectWordRaw()
            case _ if argOpt.isDefined => throw ParseException(
              "expression aggregates need an explicit 'as <alias>'")
            case _          => alias0
          }
          AggSpec(func, c, alias, roundTo, argOpt)
        }
        val aggs = Seq.newBuilder[AggSpec]
        aggs += parseAgg()
        var moreAggs = true
        while (moreAggs) {
          p.peek match {
            case Some(Sym(","))                    => p.next(); p.dropWords("show"); aggs += parseAgg()
            case Some(w: Word) if w.lower == "and" => p.next(); p.dropWords("show"); aggs += parseAgg()
            case _                                 => moreAggs = false
          }
        }
        val specs = aggs.result()
        if (specs.map(_.alias).distinct.size != specs.size)
          throw ParseException(
            s"duplicate aggregate: ${specs.map(_.alias).mkString(", ")}")
        val (keys, mode) = pendingGroup.getOrElse(
          throw ParseException("aggregate without preceding group by"))
        val agg = groupedAgg(mode, keys, specs)
        if (p.peekWordLower.contains("where")) {
          p.next()
          Right(List(agg, Op.Having(parsePred(p).ensuringDone(p))))
        } else { requireDone(p); Right(List(agg)) }
      case Some("add") =>
        // "Add is_adult column where is_adult = age >= 18"
        p.next()
        val name = p.expectWordRaw()
        p.dropWords("column"); p.dropWords("where")
        p.peekWordRaw match {
          case Some(n2) if n2 == name =>
            p.next()
            p.peek match { case Some(Sym("=")) => p.next(); case _ => () }
          case _ => ()
        }
        Right(List(Op.DeriveBool(name, parsePred(p).ensuringDone(p))))
      case Some("rename") =>
        p.next()
        val from = p.expectWordRaw(); p.dropWords("column"); p.expectWord("to")
        val to = p.expectWordRaw(); p.dropWords("column")
        Right(List(Op.Rename(from, to)))
      case Some("drop") =>
        p.next()
        // decontamination form ("Drop documents that share 8-token spans
        // with benchmark") vs column drop — disambiguated by the presence
        // of BOTH a share-verb and "span(s)": a bare span word is not
        // enough ("Drop spans column." must stay a column drop)
        val shareWords = Set("share", "sharing", "overlap", "overlapping")
        val spanWords = Set("span", "spans")
        def has(words: Set[String]) = toks.exists {
          case w: Word => words(w.lower)
          case _       => false
        }
        val decontaminate = has(shareWords) && has(spanWords)
        // near-dup ingest dedup: "Drop documents near-duplicated in
        // <table> by minhash jaccard 0.5." — the hyphenated participle
        // is unambiguous (a column drop would be a bare identifier)
        val nearWords = Set("near-duplicated", "near-duplicating")
        val nearAgainst = !decontaminate && has(nearWords)
        // "already" routes to ingest dedup ONLY when the clause is not a
        // span-decontamination form — "drop documents that share 8-token
        // spans already present in benchmark" must stay decontamination
        val alreadyIn = !decontaminate && !nearAgainst && toks.exists {
          case w: Word => w.lower == "already"
          case _       => false
        }
        val antiJoin = !decontaminate && !nearAgainst && !alreadyIn &&
          toks.exists {
            case w: Word => w.lower == "matching"
            case _       => false
          }
        if (antiJoin) {
          // "Drop rows matching <table> on l = r." — left-anti join
          // (NOT EXISTS without the NOT-IN null hazard)
          p.dropWords("the", "documents", "docs", "rows")
          p.expectWord("matching")
          p.dropWords("the")
          val tbl = p.expectWordRaw()
          p.expectWord("on")
          val lk = p.expectWordRaw()
          p.peek match {
            case Some(Sym("=")) | Some(Sym("==")) => p.next()
            case _                                => ()
          }
          val rk = p.expectWordRaw()
          requireDone(p)
          Right(List(Op.AntiJoinTable(tbl, lk, rk)))
        } else if (nearAgainst) {
          // "Drop documents near-duplicated in <table> by minhash
          // jaccard 0.5." — near-dup incremental ingest dedup: banded
          // MinHash candidates vs the named historical corpus, every
          // candidate exact-Jaccard verified before it drops a document
          p.dropWords("the", "documents", "docs", "rows")
          p.dropWords("that", "which", "are")
          p.peekWordLower match {
            case Some(w) if nearWords(w) => p.next()
            case other => throw ParseException(
              s"expected 'near-duplicated'/'near-duplicating', got $other")
          }
          p.dropWords("in", "against", "versus", "vs")
          p.dropWords("the")
          val tbl = p.expectWordRaw()
          p.dropWords("by", "minhash", "at", "jaccard")
          val t = p.expectNum()
          if (t <= 0.0 || t > 1.0)
            throw ParseException(s"jaccard threshold must be in (0, 1], got $t")
          requireDone(p)
          Right(List(Op.DedupNearAgainst(tbl, t)))
        } else if (alreadyIn) {
          // "Drop documents already in <table>." — incremental ingest
          // dedup against the named historical corpus
          p.dropWords("the", "documents", "docs", "rows")
          p.dropWords("that", "which", "are")
          p.expectWord("already")
          p.dropWords("in", "ingested", "seen", "present")
          p.dropWords("the")
          val tbl = p.expectWordRaw()
          requireDone(p)
          Right(List(Op.DedupAgainst(tbl)))
        } else if (decontaminate) {
          p.dropWords("the", "documents", "docs", "rows")
          p.dropWords("that", "which")
          p.dropWords("share", "sharing", "overlap", "overlapping")
          val n = p.expectNum().toInt
          p.dropWords("-token", "token", "tokens", "-word", "word", "words")
          p.dropWords("span", "spans")
          // connector: "with <table>" | "(already) present/found in <table>"
          p.dropWords("already", "present", "found", "seen")
          p.peekWordLower match {
            case Some("with") | Some("in") => p.next()
            case other => throw ParseException(
              s"expected 'with' or 'in' before the benchmark table, got $other")
          }
          p.dropWords("the")
          val table = p.expectWordRaw()
          requireDone(p)
          Right(List(Op.Decontaminate(n, table)))
        } else {
          val cols = parseColList(p, stopWords = Set("column", "columns"))
          p.dropWords("column"); p.dropWords("columns")
          Right(List(Op.Drop(cols)))
        }
      case Some("dedup") | Some("deduplicate") =>
        p.next(); p.dropWords("the", "documents", "docs", "rows")
        p.peekWordLower match {
          case Some("exactly") | Some("exact") =>
            p.next(); requireDone(p)
            Right(List(Op.DedupExact))
          case Some("by") =>
            p.next(); Right(List(parseDedupMethod(p)))
          case other =>
            throw ParseException(s"expected 'exactly' or 'by <method>' after dedup, got $other")
        }
      case Some("cluster") =>
        p.next()
        p.dropWords("the", "duplicates", "near-duplicates", "dups", "documents")
        p.expectWord("by")
        parseDedupMethod(p) match {
          case Op.DedupJaccard(n, t, b) => Right(List(Op.DedupCluster(n, t, b)))
          case other => throw ParseException(
            s"cluster supports only the n-gram jaccard method, got $other")
        }
      case Some("tokenize") =>
        p.next(); p.dropWords("the", "documents", "docs", "rows", "text")
        requireDone(p); Right(List(Op.Tokenize))
      case Some("score") =>
        p.next(); p.dropWords("the", "document", "documents", "text")
        p.peekWordLower match {
          case Some("by") =>
            // "Score documents by unigram log probability."
            p.next(); p.dropWords("unigram")
            p.expectWord("log")
            p.dropWords("probability", "prob", "likelihood")
            requireDone(p); Right(List(Op.ScoreUnigramLogProb))
          case Some("contamination") =>
            // "Score contamination against benchmark with 8 token spans."
            p.next()
            p.dropWords("against", "versus", "vs")
            p.dropWords("the")
            val table = p.expectWordRaw()
            p.dropWords("with", "using", "at")
            val n = p.expectNum().toInt
            p.dropWords("-token", "token", "tokens", "-word", "word", "words")
            p.dropWords("span", "spans")
            requireDone(p); Right(List(Op.ContaminationScore(n, table)))
          case _ =>
            p.expectWord("quality")
            requireDone(p); Right(List(Op.ScoreQuality))
        }
      case Some("zorder") | Some("z-order") =>
        // "Zorder by l_partkey and l_suppkey." — adds the Morton curve
        // key as `zvalue`; compose with sort/top-k clauses for layout
        p.next()
        p.dropWords("by", "on")
        val a = p.expectWordRaw()
        p.dropWords("and")
        val b = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.ZOrderKey(a, b)))
      case Some("cohort") =>
        // "Cohort retention by week."
        p.next()
        p.dropWords("retention", "matrix")
        p.dropWords("by", "per")
        p.dropWords("week", "weeks")
        requireDone(p)
        Right(List(Op.CohortRetention))
      case Some("funnel") =>
        // "Funnel from signup to purchase."
        p.next()
        p.expectWord("from")
        val from = p.expectWordRaw()
        p.expectWord("to")
        val to = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.Funnel(from, to)))
      case Some("normalize") =>
        // "Normalize n_chars per lang." — per-group z-score
        p.next(); p.dropWords("the", "column")
        val valueCol = p.expectWordRaw()
        p.expectWord("per")
        p.dropWords("each", "the")
        val groupCol = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.ZScore(valueCol, groupCol)))
      case Some("histogram") =>
        // "Histogram o_totalprice by o_orderpriority from 0 to 600000 in 20 bins."
        p.next(); p.dropWords("of", "the")
        val valueCol = p.expectWordRaw()
        p.expectWord("by")
        val groupCol = p.expectWordRaw()
        p.expectWord("from")
        val lo = p.expectNum()
        p.expectWord("to")
        val hi = p.expectNum()
        p.dropWords("in", "with")
        val bins = p.expectNum().toInt
        p.dropWords("bins", "bin", "buckets")
        if (bins <= 0 || hi <= lo)
          throw ParseException(s"histogram needs bins>0 and hi>lo, got $bins, [$lo,$hi)")
        requireDone(p)
        Right(List(Op.Histogram(valueCol, groupCol, lo, hi, bins)))
      case Some("clip") =>
        // "Clip outliers above the 99th percentile of n_chars."
        p.next(); p.dropWords("outliers", "rows", "documents", "docs")
        p.expectWord("above")
        p.dropWords("the")
        val pct = p.expectNum()
        p.dropWords("th", "st", "nd", "rd")
        p.expectWord("percentile")
        p.expectWord("of")
        val valueCol = p.expectWordRaw()
        val frac = pct / 100.0
        if (frac <= 0.0 || frac > 1.0)
          throw ParseException(s"percentile out of (0,100]: $pct")
        requireDone(p)
        Right(List(Op.ClipPercentile(valueCol, frac)))
      case Some("apply") =>
        // "Apply the gopher quality rules." | "Apply the changelog per
        // user_id [by <tsCol>] [tie by <idCol>] [op <opCol>]
        // [with tombstone <value>]."
        p.next(); p.dropWords("the")
        p.peekWordLower match {
          case Some("changelog") | Some("changes") =>
            p.next(); p.dropWords("log")
            p.expectWord("per")
            p.dropWords("each")
            val key = p.expectWordRaw()
            var ts = "ts_us"; var id = "event_id"
            var opC = "event_type"; var tomb = "error"
            var more = true
            while (more) p.peekWordLower match {
              case Some("by")           => p.next(); ts = p.expectWordRaw()
              case Some("tie") | Some("ties") =>
                p.next(); p.dropWords("by", "breaking"); id = p.expectWordRaw()
              case Some("op") | Some("operation") =>
                p.next(); opC = p.expectWordRaw()
              case Some("with") | Some("dropping") =>
                p.next(); p.expectWord("tombstone"); tomb = p.expectWordRaw()
              case Some("tombstone")    => p.next(); tomb = p.expectWordRaw()
              case _                    => more = false
            }
            requireDone(p)
            Right(List(Op.CdcApply(key, ts, id, opC, tomb)))
          case _ =>
            p.expectWord("gopher")
            p.dropWords("quality")
            p.dropWords("rules", "rule", "filter", "filters")
            requireDone(p); Right(List(Op.GopherRules))
        }
      case Some("detect") =>
        p.next(); p.dropWords("the", "document")
        p.peekWordLower match {
          case Some("language") | Some("languages") => p.next()
          case other => throw ParseException(s"expected 'language' after detect, got $other")
        }
        requireDone(p); Right(List(Op.DetectLanguage))
      case Some("fingerprint") =>
        p.next(); p.dropWords("the", "documents", "docs", "rows", "text")
        requireDone(p); Right(List(Op.Fingerprint))
      case Some("scrub") =>
        p.next(); p.expectWord("pii")
        requireDone(p); Right(List(Op.ScrubPii))
      case Some("find") =>
        // "Find top 5 most similar vectors to 3" / "Find repeated spans of
        // 10 tokens (in at least 3 documents)?"
        p.next()
        if (p.peekWordLower.contains("repeated")) {
          p.next(); p.dropWords("spans", "span", "of")
          val n = p.expectNum().toInt
          p.dropWords("tokens", "token", "words")
          val minDocs = p.peekWordLower match {
            case Some("in") =>
              p.next(); p.dropWords("at"); p.dropWords("least")
              val m = p.expectNum().toInt
              p.dropWords("documents", "docs")
              m
            case _ => 2
          }
          requireDone(p)
          Right(List(Op.RepeatedSpans(n, minDocs)))
        } else {
          p.expectWord("top")
          val k = p.expectNum().toInt
          if (p.peekWordLower.contains("keywords")) {
            // "Find top 5 keywords per document." — TF-IDF extraction
            p.next(); p.dropWords("per", "for", "each", "document", "documents", "doc")
            p.dropWords("by"); p.dropWords("tfidf", "tf-idf")
            requireDone(p)
            Right(List(Op.TfIdfKeywords(k)))
          } else if (p.peekWordLower.contains("tokens")) {
            // "Find top 10 tokens by source." — optional "with a sketch
            // (of capacity m)" tail routes to the bounded-memory MG path
            p.next()
            val gc = if (p.peekWordLower.contains("by")) { p.next(); p.expectWordRaw() }
                     else "source"
            if (p.peekWordLower.contains("with") || p.peekWordLower.contains("using")) {
              p.next(); p.dropWords("a", "the")
              p.expectWord("sketch")
              val cap = p.peekWordLower match {
                case Some("of") =>
                  p.next(); p.dropWords("capacity")
                  val c = p.expectNum().toInt
                  if (c <= 0) throw ParseException(s"sketch capacity must be positive: $c")
                  c
                case _ => 256
              }
              requireDone(p)
              Right(List(Op.TopTokensSketch(k, gc, cap)))
            } else {
              requireDone(p)
              Right(List(Op.TopTokens(k, gc)))
            }
          } else if (p.peekWordLower.exists(w => w == "documents" || w == "docs") &&
                     p.peekAt(1).collect { case w: Word => w.lower }
                       .contains("matching")) {
            // "Find top 5 documents matching spark, join, fast." —
            // lexical retrieval over the input documents, every form of
            // the shared grammar ([[lexicalQuery]], [[Op.LexTopK]]).
            // Terms separate by commas and/or "and"; the phrasing "most
            // similar documents to …" stays the vector route (it starts
            // with "most"/"similar", not "documents matching").
            p.next(); p.expectWord("matching")
            Right(lexicalQuery(p) { (terms, q) =>
              if (q != LexQuery()) None
              else p.peekWordLower match {
                case Some("fused") =>
                  // "… fused with vector 0 [at depth 20]" — hybrid: the
                  // BM25 arm RRF-fused with the stored-embedding vector
                  // arm
                  p.next(); p.expectWord("with"); p.dropWords("the")
                  p.expectWord("vector")
                  val vid = p.expectNum().toLong
                  val depth = p.peekWordLower match {
                    case Some("at") =>
                      p.next(); p.expectWord("depth"); p.expectNum().toInt
                    case _ => 20
                  }
                  if (depth < k) throw ParseException(
                    s"fusion depth $depth must be at least k=$k")
                  requireDone(p)
                  Some(List(Op.HybridTopK(terms, k, vid, depth)))
                case Some("with") =>
                  // "… with lambda 0.7 [at depth 10]" — MMR
                  // diversification of the BM25 candidates (embedding
                  // redundancy from the catalog-bound embeddings table)
                  p.next(); p.expectWord("lambda")
                  val lam = p.expectNum()
                  if (lam < 0.0 || lam > 1.0) throw ParseException(
                    s"mmr lambda must be in [0,1]: $lam")
                  val depth = p.peekWordLower match {
                    case Some("at") =>
                      p.next(); p.expectWord("depth"); p.expectNum().toInt
                    case _ => 10
                  }
                  if (depth < k) throw ParseException(
                    s"mmr depth $depth must be at least k=$k")
                  requireDone(p)
                  Some(List(Op.MmrTopK(terms, k, lam, depth)))
                case _ => None
              }
            }.fold(identity, { case (tokens, q, where) =>
              List(Op.LexTopK(tokens, k, q, where)) }))
          } else {
            p.dropWords("most"); p.expectWord("similar")
            p.dropWords("vectors", "neighbors", "documents", "items")
            p.expectWord("to")
            // "… to vector [0.1, -0.2, …]" ranks an UNSEEN literal query
            // vector against the corpus; "… to 3" uses the stored id
            val query: Either[Long, Seq[Float]] =
              if (p.peekWordLower.contains("vector")) {
                p.next(); Right(vectorLiteral(p))
              } else Left(p.expectNum().toLong)
            // "… using quantized codes [with rerank 50]" — the PQ/ADC
            // serving path — or "… using random projection …" — the JL
            // projected-candidates path — or "… using int8 codes …" —
            // the scalar-quantized path — instead of the exact
            // brute-force scan
            val scoring: SimilarScoring =
              if (p.peekWordLower.contains("using")) {
                p.next(); p.dropWords("a", "the")
                val form: Option[Int] => SimilarScoring =
                  if (p.peekWordLower.contains("random") ||
                      p.peekWordLower.contains("projection")) {
                    p.dropWords("random"); p.expectWord("projection")
                    SimilarScoring.Proj(_)
                  } else if (p.peekWordLower.contains("int8")) {
                    p.next(); p.dropWords("quantized")
                    p.dropWords("codes", "code", "quantization", "vectors")
                    SimilarScoring.Sq8(_)
                  } else {
                    p.dropWords("product")
                    p.expectWord("quantized")
                    p.dropWords("codes", "code", "vectors")
                    SimilarScoring.Pq(_)
                  }
                form(
                  if (p.peekWordLower.contains("with")) {
                    p.next(); p.expectWord("rerank")
                    val r = p.expectNum().toInt
                    if (r < k) throw ParseException(
                      s"rerank $r must be at least k=$k")
                    Some(r)
                  } else None)
              } else SimilarScoring.Exact
            // "… where label == 3" — a neighbor metadata pre-filter,
            // exact path only: the flat compressed paths train/rank
            // per query, so a filtered corpus would change the
            // quantizer itself; filtered compressed serving is the
            // persisted index's job ("Search the index … where …")
            val where = p.peekWordLower match {
              case Some("where") =>
                if (scoring != SimilarScoring.Exact) throw ParseException(
                  "a 'where' filter on flat similarity is exact-only — " +
                    "for filtered compressed serving, search a persisted " +
                    "index built with attribute columns")
                p.next(); Some(parsePred(p))
              case _ => None
            }
            requireDone(p)
            Right(List(query match {
              case Left(qid)  => Op.SimilarTopK(qid, k, scoring, where)
              case Right(vec) => Op.SimilarTopKVec(vec, k, scoring, where)
            }))
          }
        }
      case Some("sample") =>
        // "Sample 1% of documents with seed 7" / "Sample frames from videos"
        p.next()
        if (p.peekWordLower.contains("frames")) {
          p.next(); p.dropWords("from", "the", "videos", "video", "media")
          requireDone(p)
          Right(List(Op.SampleFrames))
        } else if (p.peekWordLower.contains("exactly")) {
          // "Sample exactly 100 documents (with seed 7)"
          p.next()
          val k = p.expectNum().toInt
          if (k <= 0) throw ParseException(s"sample size must be positive: $k")
          p.dropWords("documents", "docs", "rows")
          val seed = parseSeed(p)
          requireDone(p)
          Right(List(Op.SampleExactK(k, seed)))
        } else if (p.peekWordLower.contains("sources")) {
          // "Sample sources at temperature 2 (by <col>) (with seed 7)"
          p.next(); p.dropWords("at")
          p.expectWord("temperature")
          val t = p.expectNum()
          if (t != 2.0)
            throw ParseException(
              s"only temperature 2 (alpha = 1/2) is cross-engine exact, got $t")
          val srcCol = if (p.peekWordLower.contains("by")) {
            p.next(); p.expectWordRaw()
          } else "source"
          val seed = parseSeed(p)
          requireDone(p)
          Right(List(Op.SampleTemperature(srcCol, seed)))
        } else if (p.peekWordLower.contains("up")) {
          // "Sample up to 5 documents per source (with seed 7)"
          p.next(); p.expectWord("to")
          val k = p.expectNum().toInt
          p.dropWords("documents", "docs", "rows")
          p.expectWord("per")
          val gc = p.expectWordRaw()
          val seed = parseSeed(p)
          requireDone(p)
          Right(List(Op.SampleCapPerGroup(k, gc, seed)))
        } else {
          val f = parseFraction(p)
          p.dropWords("of", "the", "documents", "docs", "rows")
          // optional "by <idCol>" keys the hash on another table's id
          val idCol = if (p.peekWordLower.contains("by")) {
            p.next(); Some(p.expectWordRaw())
          } else None
          val seed = parseSeed(p)
          requireDone(p)
          Right(List(Op.SampleHash(f, seed, idCol)))
        }
      case Some("shuffle") =>
        // "Shuffle documents into 8 shards with seed 13" — deterministic
        // epoch shuffle: shard + position are pure functions of (id, seed)
        p.next(); p.dropWords("the", "documents", "docs", "corpus", "rows")
        p.expectWord("into")
        val n = p.expectNum().toInt
        if (n <= 0) throw ParseException(s"shard count must be positive: $n")
        p.dropWords("shards", "shard")
        val seed = parseSeed(p)
        requireDone(p)
        Right(List(Op.ShuffleShards(n, seed)))
      case Some("stratified") =>
        // "Stratified sample by source src0 at 0.8, src1 at 0.5 with seed 7"
        p.next(); p.expectWord("sample"); p.expectWord("by")
        val stratumCol = p.expectWordRaw()
        val fracs = Seq.newBuilder[(String, Double)]
        val seen = scala.collection.mutable.Set.empty[String]
        var more = true
        while (more) {
          val stratum = p.expectStr()
          if (!seen.add(stratum))
            throw ParseException(s"duplicate stratum '$stratum' in stratified sample")
          p.expectWord("at")
          fracs += stratum -> parseFraction(p)
          p.peek match {
            case Some(Sym(","))                    => p.next()
            case Some(w: Word) if w.lower == "and" => p.next()
            case _                                 => more = false
          }
        }
        val seed = parseSeed(p)
        requireDone(p)
        Right(List(Op.SampleStratified(stratumCol, fracs.result(), seed)))
      case Some("sessionize") =>
        // "Sessionize events with 30 minute gap" / "… with a gap of 30 minutes"
        p.next(); p.dropWords("the", "events")
        p.dropWords("with", "using", "a")
        val gapFirst = p.peekWordLower.contains("gap")
        if (gapFirst) { p.next(); p.dropWords("of") }
        val gap = p.expectNum().toInt
        val gapMinutes = p.peekWordLower match {
          case Some("minute") | Some("minutes") | Some("min") | Some("mins") =>
            p.next(); gap
          case Some("hour") | Some("hours") | Some("hr") | Some("hrs") =>
            p.next(); gap * 60
          case other => throw ParseException(
            s"expected 'minute(s)' or 'hour(s)' after sessionize gap, got $other")
        }
        if (!gapFirst) p.dropWords("gap", "gaps")
        requireDone(p)
        Right(List(Op.Sessionize(gapMinutes)))
      case Some("decode") =>
        // "Decode the media." / "Decode images metadata." /
        // "Decode the audio."
        p.next(); p.dropWords("the")
        p.peekWordLower match {
          case Some("audio") | Some("sound") =>
            p.next(); p.dropWords("metadata")
            requireDone(p)
            Right(List(Op.DecodeAudio))
          case _ =>
            p.dropWords("media", "images", "image", "metadata")
            requireDone(p)
            Right(List(Op.DecodeMedia))
        }
      case Some("resize") =>
        // "Resize the images to 256 pixels."
        p.next(); p.dropWords("the", "media", "images", "image")
        p.expectWord("to")
        val maxDim = p.expectNum().toInt
        if (maxDim <= 0) throw ParseException(s"resize bound must be positive: $maxDim")
        p.dropWords("pixels", "px")
        requireDone(p)
        Right(List(Op.ResizeMedia(maxDim)))
      case Some("join") =>
        // "Join events to signups as of time." /
        // "Join orders to customers on o_custkey = c_custkey salted 8 ways."
        p.next()
        // words before "to" only re-describe the input frame — noise
        while (!p.done && !p.peekWordLower.contains("to")) p.next()
        p.expectWord("to"); p.dropWords("the")
        val table = p.expectWordRaw()
        p.peekWordLower match {
          case Some("as") =>
            p.next(); p.expectWord("of")
            p.dropWords("time", "ts", "timestamp", "ts_us")
            requireDone(p)
            Right(List(Op.AsOfJoin(table)))
          case Some("on") =>
            p.next()
            val lk = p.expectWordRaw()
            p.peek match {
              case Some(Sym("=")) | Some(Sym("==")) => p.next()
              case _                                => ()
            }
            val rk = p.expectWordRaw()
            p.peekWordLower match {
              case Some("salted") =>
                // "salted 8 ways" pins the spread; bare "salted" (or
                // "salted automatically") derives it from the observed
                // hottest key (SkewJoin.deriveBuckets)
                p.next()
                val buckets = p.peek match {
                  case Some(Num(_)) =>
                    val b = p.expectNum().toInt
                    if (b <= 0) throw ParseException(
                      s"salt bucket count must be positive: $b")
                    b
                  case _ => 0
                }
                p.dropWords("automatically", "auto", "ways", "way", "buckets")
                requireDone(p)
                Right(List(Op.SaltedJoin(table, lk, rk, buckets)))
              case _ =>
                // plain equi-join; a spoken "broadcast" forces the
                // dimension-enrichment broadcast, otherwise the planner
                // decides (fact⋈fact shuffles — correct at scale)
                val bc = p.peekWordLower.exists(w =>
                  w == "broadcast" || w == "broadcasted")
                if (bc) p.next()
                requireDone(p)
                Right(List(Op.JoinTable(table, lk, rk, bc)))
            }
          case other => throw ParseException(
            s"expected 'as of' or 'on <left> = <right> (salted <n> ways)?' after join table, got $other")
        }
      case Some("curate") =>
        // "Curate the best documents up to 10000 tokens."
        p.next(); p.dropWords("the", "best", "top", "documents", "docs", "rows")
        p.dropWords("up", "to")
        val budget = p.expectNum().toLong
        if (budget <= 0) throw ParseException(s"token budget must be positive: $budget")
        p.dropWords("tokens", "token")
        requireDone(p)
        Right(List(Op.BudgetSelect(budget)))
      case Some("repeat") | Some("upsample") =>
        // "Repeat documents 2.5 times with seed 7." — fractional epochs
        p.next(); p.dropWords("the", "documents", "docs", "rows", "corpus")
        val times = p.expectNum()
        if (times <= 0.0) throw ParseException(s"repeat count must be positive: $times")
        p.dropWords("times", "epochs", "epoch")
        val seed = parseSeed(p)
        requireDone(p)
        Right(List(Op.Upsample(times, seed)))
      case Some("split") =>
        // "Split documents into 80 percent train, 10 percent validation
        //  and 10 percent test (with seed 7)."
        p.next(); p.dropWords("the", "documents", "docs", "rows", "corpus", "into")
        val segs = scala.collection.mutable.ListBuffer.empty[(String, Int)]
        var more = true
        while (more) {
          val pct = p.expectNum().toInt
          p.peek match {
            case Some(Sym("%"))                        => p.next()
            case Some(w: Word) if w.lower == "percent" => p.next()
            case _                                     => ()
          }
          val label = p.expectWordRaw()
          segs += ((label, pct))
          p.peek match {
            case Some(Sym(","))                    => p.next(); p.dropWords("and")
            case Some(w: Word) if w.lower == "and" => p.next()
            case _                                 => more = false
          }
        }
        val seed = parseSeed(p)
        if (segs.map(_._2).sum != 100)
          throw ParseException(s"split percents must sum to 100, got ${segs.map(_._2).sum}")
        if (segs.exists(_._2 <= 0))
          throw ParseException(s"split percents must be positive: ${segs.mkString(", ")}")
        if (segs.map(_._1).distinct.size != segs.size)
          throw ParseException(s"split labels must be distinct: ${segs.map(_._1).mkString(", ")}")
        requireDone(p)
        Right(List(Op.AssignSplits(segs.toList, seed)))
      case Some("quantize") =>
        // "Quantize embeddings to int8."
        p.next(); p.dropWords("the", "embeddings", "embedding", "vectors")
        p.dropWords("to", "as")
        p.peekWordLower match {
          case Some("int8") | Some("i8") => p.next()
          case other => throw ParseException(
            s"expected 'int8' after quantize, got $other")
        }
        requireDone(p)
        Right(List(Op.QuantizeEmbeddings))
      case Some("project") =>
        // "Project the embeddings to 16 dimensions." — the JL
        // random-projection dump (rounded values + positions)
        p.next(); p.dropWords("the", "embeddings", "embedding", "vectors")
        p.dropWords("to", "into", "down")
        val n = p.expectNum().toInt
        if (n <= 0) throw ParseException(
          s"projection dimension must be positive: $n")
        p.dropWords("dimensions", "dims", "dimension")
        requireDone(p)
        Right(List(Op.ProjectEmbeddings(n)))
      case Some("chunk") =>
        // "Chunk documents into 128 token windows with 16 token overlap."
        p.next(); p.dropWords("the", "documents", "rows", "into")
        val window = p.expectNum().toInt
        if (window <= 0) throw ParseException(s"chunk window must be positive: $window")
        p.dropWords("token", "tokens", "windows", "window", "chunks", "chunk")
        val overlap = p.peekWordLower match {
          case Some("with") | Some("overlapping") =>
            p.next(); p.dropWords("by")
            val v = p.expectNum().toInt
            p.dropWords("token", "tokens", "overlap", "of")
            v
          case _ => 0
        }
        if (overlap < 0 || overlap >= window)
          throw ParseException(s"chunk overlap must be in [0, window): $overlap for window $window")
        requireDone(p)
        Right(List(Op.ChunkDocuments(window, overlap)))
      case Some("pack") =>
        // "Pack documents into sequences of 512 tokens across 32 buckets."
        p.next(); p.dropWords("the", "documents", "rows", "into", "sequences", "of")
        val budget = p.expectNum().toInt
        if (budget <= 0) throw ParseException(s"pack budget must be positive: $budget")
        p.dropWords("tokens", "token")
        val buckets = p.peekWordLower match {
          case Some("across") | Some("in") | Some("over") =>
            p.next()
            val b = p.expectNum().toInt
            if (b <= 0) throw ParseException(s"pack bucket count must be positive: $b")
            p.dropWords("buckets", "bucket", "streams", "stream")
            b
          case _ => 32
        }
        requireDone(p)
        Right(List(Op.PackSequences(budget, buckets)))
      case Some("certify") =>
        // "Certify approximate stats of distinct l_partkey as parts and
        //  percentiles of l_extendedprice per l_returnflag." — the q12
        // sketch-error certification: exact columns + within-5% booleans
        p.next(); p.dropWords("the", "approximate", "approx")
        p.peekWordLower match {
          case Some("stats") | Some("statistics") => p.next()
          case other => throw ParseException(
            s"expected 'stats' after certify, got $other")
        }
        p.dropWords("of", "for")
        p.expectWord("distinct")
        val dc = p.expectWordRaw()
        p.expectWord("as")
        val alias = p.expectWordRaw()
        p.dropWords("and")
        p.peekWordLower match {
          case Some("percentiles") | Some("percentile") => p.next()
          case other => throw ParseException(
            s"expected 'percentiles' in certify clause, got $other")
        }
        p.dropWords("of")
        val vc = p.expectWordRaw()
        p.expectWord("per")
        val gc = p.expectWordRaw()
        requireDone(p)
        Right(List(Op.CertifyApproxStats(dc, alias, vc, gc)))
      case Some("calibrate") =>
        // "Calibrate lsh|ivf for recall 0.7." — measured parameter pick
        // over the bound embedding frame, certified by within-target
        // booleans
        p.next(); p.dropWords("the")
        val kind = p.expectWordRaw().toLowerCase match {
          case k @ ("lsh" | "ivf") => k
          case other => throw ParseException(
            s"expected 'lsh' or 'ivf' after calibrate, got '$other'")
        }
        p.dropWords("for", "to", "at", "target")
        p.expectWord("recall")
        val t = p.expectNum()
        if (t <= 0.0 || t > 1.0)
          throw ParseException(s"target recall out of (0,1]: $t")
        requireDone(p)
        Right(List(
          if (kind == "lsh") Op.CalibrateLsh(t) else Op.CalibrateIvf(t)))
      case Some("compute") =>
        // "Compute corpus statistics by source."
        p.next(); p.dropWords("the", "corpus")
        p.peekWordLower match {
          case Some("statistics") | Some("stats") => p.next()
          case other => throw ParseException(s"expected 'statistics' after compute, got $other")
        }
        val gc = if (p.peekWordLower.contains("by")) { p.next(); p.expectWordRaw() }
                 else "source"
        requireDone(p)
        Right(List(Op.CorpusStats(gc)))
      case Some("truncate") =>
        // "Truncate documents to 128 tokens."
        p.next(); p.dropWords("the", "documents", "docs", "texts", "text")
        p.expectWord("to")
        val n = p.expectNum()
        if (n <= 0 || n != n.toInt) throw ParseException(
          s"token budget must be a positive integer: $n")
        p.dropWords("tokens", "token")
        requireDone(p)
        Right(List(Op.TruncateTokens(n.toInt)))
      case Some("demux") =>
        // "Demux video frames." — real ISO-BMFF sample-table demux
        p.next(); p.dropWords("the", "video", "videos")
        p.peekWordLower match {
          case Some("frames") | Some("frame") => p.next()
          case other => throw ParseException(s"expected 'frames' after demux, got $other")
        }
        requireDone(p)
        Right(List(Op.DemuxFrames))
      case Some("profile") =>
        // "Profile events by day." — per-UTC-day row counts + ts bounds.
        // "Profile the index by cell." — the IVF twin: per-cell counts
        // from parquet footers only (hot-cell skew visibility).
        p.next(); p.dropWords("the")
        val onLex = p.peekWordLower.contains("lexical") && { p.next(); true }
        val onIndex = p.peekWordLower.contains("index") && { p.next(); true }
        if (onLex && !onIndex) throw ParseException(
          "'profile the lexical' needs 'index' after it")
        p.dropWords("events", "event", "log", "table")
        p.expectWord("by")
        p.peekWordLower match {
          case Some("day") | Some("date") if !onIndex => p.next()
          case Some("cell") if onIndex && !onLex => p.next()
          case Some("bucket") | Some("buckets") if onLex => p.next()
          case other => throw ParseException(
            s"expected '${if (onLex) "bucket" else if (onIndex) "cell" else "day"}' " +
              s"after profile ... by, got $other")
        }
        requireDone(p)
        Right(List(
          if (onLex) Op.LexBucketProfile
          else if (onIndex) Op.IndexCellProfile
          else Op.DayProfile))
      case Some("read") | Some("load") =>
        // "Read the table at version 12." — time travel against the
        // bound manifested table; downstream clauses compose over the
        // pinned content
        p.next(); p.dropWords("the", "table", "log", "events")
        p.expectWord("at")
        p.expectWord("version")
        val v = p.expectNum()
        if (v < 1 || v != v.toLong) throw ParseException(
          s"manifest versions are positive integers: $v")
        requireDone(p)
        Right(List(Op.LoadAtVersion(v.toLong)))
      case Some("compact") =>
        // "Compact closed days before '<iso-8601>'." (or "... with
        // watermark '<iso>'") — compaction discovery behind the
        // watermark, one atomic manifest flip, table content invariant.
        // "Compact the index." folds the bound VECTOR INDEX's segments
        // (hot cells re-tile into bounded files) — content invariant.
        // "Compact the lexical index." is the INVERTED-index twin
        // (hot buckets re-tile; sync cursors persist across the fold).
        p.next(); p.dropWords("the")
        if (p.peekWordLower.contains("lexical")) {
          p.next(); p.expectWord("index")
          requireDone(p)
          Right(List(Op.IndexMaintain(IndexStore.Lexical, IndexVerb.Compact)))
        } else if (p.peekWordLower.contains("index")) {
          p.next(); requireDone(p)
          Right(List(Op.IndexMaintain(IndexStore.Vector, IndexVerb.Compact)))
        } else {
          p.dropWords("closed", "days", "day", "table", "log")
          p.peekWordLower match {
            case Some("before") => p.next()
            case Some("with")   => p.next(); p.expectWord("watermark")
            case other => throw ParseException(
              s"expected 'before <ts>' or 'with watermark <ts>' after compact, got $other")
          }
          val wm = isoToUs(p.expectStr())
          requireDone(p)
          Right(List(Op.CompactClosedDays(wm)))
        }
      case Some("vacuum") =>
        // "Vacuum the table keeping 3 versions." — trim retained
        // history (reader pins are honored); content invariant.
        // "Vacuum the index keeping 1 versions." is the VECTOR INDEX
        // twin (unreferenced segments + quantizer files reclaimed);
        // "Vacuum the lexical index keeping 1 versions." the
        // INVERTED-index one (+ erase-skipped bucket dirs).
        p.next(); p.dropWords("the")
        val onLex = p.peekWordLower.contains("lexical") && { p.next(); true }
        val onIndex = p.peekWordLower.contains("index") && { p.next(); true }
        if (onLex && !onIndex) throw ParseException(
          "'vacuum the lexical' needs 'index' after it")
        p.dropWords("table", "log", "events")
        p.dropWords("keeping", "keep")
        val k = p.expectNum()
        if (k < 1 || k != k.toInt) throw ParseException(
          s"vacuum keeps a positive integer version count: $k")
        p.dropWords("versions", "version")
        requireDone(p)
        Right(List(
          if (onLex) Op.IndexMaintain(IndexStore.Lexical, IndexVerb.VacuumKeep(k.toInt))
          else if (onIndex) Op.IndexMaintain(IndexStore.Vector, IndexVerb.VacuumKeep(k.toInt))
          else Op.VacuumKeep(k.toInt)))
      case Some("maintain") =>
        // "Maintain the snapshot of the table." — advance the colocated
        // CDC snapshot through the change feed (cost ∝ delta, no-op
        // when current), then read the current view back
        p.next(); p.dropWords("the")
        p.expectWord("snapshot")
        p.dropWords("of", "the", "table", "log", "events")
        requireDone(p)
        Right(List(Op.SnapshotMaintain))
      case Some("lookup") =>
        // "Lookup key 42 in the snapshot."       — current live row(s)
        //   from the maintained snapshot (pruned point lookup);
        // "Lookup user_id 42."                   — all events of the key
        //   over the log (sidecar Bloom file skipping);
        // "Lookup user_id 42 between '<iso>' and '<iso>'." — the same
        //   composed through manifest day pruning (all three layers)
        p.next(); p.dropWords("the")
        val word = p.expectWordRaw()
        val keys = Seq.newBuilder[Long]
        def oneKey(): Unit = {
          val v = p.expectNum()
          if (v != v.toLong) throw ParseException(
            s"lookup keys are integers, got $v")
          keys += v.toLong
        }
        oneKey()
        while (p.peek.contains(Sym(","))) { p.next(); oneKey() }
        if (word.toLowerCase == "key" || word.toLowerCase == "keys") {
          p.expectWord("in"); p.dropWords("the"); p.expectWord("snapshot")
          requireDone(p)
          Right(List(Op.SnapshotLookup(keys.result())))
        } else {
          val (from, to) = p.peekWordLower match {
            case Some("between") =>
              p.next()
              val f = isoToUs(p.expectStr())
              p.expectWord("and")
              val t = isoToUs(p.expectStr())
              if (t <= f) throw ParseException(
                s"lookup time range is empty: from $f us to $t us")
              (Some(f), Some(t))
            case _ => (None, None)
          }
          requireDone(p)
          Right(List(Op.KeyLookup(word, keys.result(), from, to)))
        }
      case Some("evaluate") =>
        // "Evaluate recall at 5 for queries below 8 probing 4 cells."
        // (or "… ndcg at 5 …") — offline evaluation of the bound
        // vector index: probe vs exact brute force, scored per query.
        // "Evaluate hybrid recall at 5 for query 0 matching spark,
        // join at depth 20 probing 1 cells." evaluates the FUSED
        // two-index ranking against the exact-hybrid reference.
        p.next(); p.dropWords("the", "index")
        if (p.peekWordLower.contains("hybrid")) {
          p.next()
          val ndcg = p.expectWordRaw().toLowerCase match {
            case "recall" => false
            case "ndcg"   => true
            case w => throw ParseException(
              s"evaluable metrics are recall and ndcg, got '$w'")
          }
          p.dropWords("at")
          val k = p.expectNum().toInt
          if (k <= 0) throw ParseException(s"eval k must be positive: $k")
          p.expectWord("for"); p.dropWords("query", "queries")
          val qid = p.expectNum().toLong
          p.expectWord("matching")
          val terms = termList(p)
          val depth = p.peekWordLower match {
            case Some("at") =>
              p.next(); p.expectWord("depth"); p.expectNum().toInt
            case _ => 20
          }
          if (depth < k) throw ParseException(
            s"fusion depth $depth must be at least k=$k")
          p.expectWord("probing")
          val np = p.expectNum().toInt
          if (np <= 0) throw ParseException(
            s"probed cell count must be positive: $np")
          p.dropWords("cells", "cell")
          requireDone(p)
          return Right(List(Op.HybridEval(ndcg, k, qid, terms, depth, np)))
        }
        val metric = p.expectWordRaw().toLowerCase match {
          case "recall" => false
          case "ndcg"   => true
          case w => throw ParseException(
            s"evaluable metrics are recall and ndcg, got '$w'")
        }
        p.dropWords("at")
        val k = p.expectNum().toInt
        if (k <= 0) throw ParseException(s"eval k must be positive: $k")
        p.expectWord("for"); p.dropWords("queries", "query")
        p.expectWord("below")
        val qMax = p.expectNum().toLong
        p.expectWord("probing")
        val np = p.expectNum().toInt
        if (np <= 0) throw ParseException(
          s"probed cell count must be positive: $np")
        p.dropWords("cells", "cell")
        requireDone(p)
        Right(List(Op.IndexEval(metric, k, qMax, np)))
      case Some("search") =>
        // "Search the index for top 5 similar to 3 probing 4 cells." —
        // ANN probe against the bound persisted vector index; "Search
        // the index with quantized codes for …" serves through the PQ
        // layer (ADC) instead of the exact cosine. "… similar to
        // vector [0.1, -0.2, …] probing …" probes with an UNSEEN
        // literal query vector — the actual serving shape.
        p.next(); p.dropWords("the")
        if (p.peekWordLower.contains("lexical")) {
          // "Search the lexical index for top 5 matching spark, join,
          // fast." — a probe of the bound persisted inverted index,
          // every form of the shared grammar ([[lexicalQuery]],
          // [[Op.LexProbe]]); the optional attribute filter pushes into
          // the pruned bucket scan (pre-filter)
          p.next(); p.expectWord("index")
          p.expectWord("for"); p.dropWords("top", "the")
          val k = p.expectNum().toInt
          if (k <= 0) throw ParseException(s"top-k must be positive: $k")
          p.dropWords("documents", "docs")
          p.expectWord("matching")
          def probing(): Int = {
            p.expectWord("probing")
            val np = p.expectNum().toInt
            if (np <= 0) throw ParseException(
              s"probed cell count must be positive: $np")
            p.dropWords("cells", "cell")
            np
          }
          def depthOr(default: Int, what: String): Int = {
            val depth = p.peekWordLower match {
              case Some("at") =>
                p.next(); p.expectWord("depth"); p.expectNum().toInt
              case _ => default
            }
            if (depth < k) throw ParseException(
              s"$what depth $depth must be at least k=$k")
            depth
          }
          def lambda(): Double = {
            p.expectWord("lambda")
            val l = p.expectNum()
            if (l < 0.0 || l > 1.0) throw ParseException(
              s"mmr lambda must be in [0,1]: $l")
            l
          }
          def optWhere(): Option[Pred] = p.peekWordLower match {
            case Some("where") => p.next(); Some(parsePred(p))
            case _             => None
          }
          // the two-store serving forms, one Op.LexServe each (its
          // scaladoc lists them by vector arm × MMR)
          return Right(lexicalQuery(p) { (terms, q) =>
            def serve(depth: Int, arm: Option[ServeArm], mmr: Option[Double],
                      where: Option[Pred]) = {
              requireDone(p)
              Some(List(Op.LexServe(terms, k, q, depth, arm, mmr, where)))
            }
            (q, p.peekWordLower) match {
              case (LexQuery(LexQuery.Terms, LexQuery.Bm25(_, _)), Some("fused")) =>
                // "… fused with vector [0.1, …] at depth 20 probing 4
                // cells [with lambda 0.7] [where …]." — the LITERAL-query
                // hybrid, optionally MMR-diversified
                p.next(); p.expectWord("with"); p.dropWords("the")
                p.expectWord("vector")
                val vec = vectorLiteral(p)
                val depth = depthOr(20, "fusion")
                val np = probing()
                val lam =
                  if (p.peekWordLower.contains("with")) { p.next(); Some(lambda()) }
                  else None
                serve(depth, Some(ServeArm.Literal(vec, np)), lam, optWhere())
              case (LexQuery(LexQuery.Terms, LexQuery.Bm25(_, _)), Some("with")) =>
                // "… with lambda 0.7 [at depth 10] [probing 4 cells for
                // query 0]." — MMR over this index's BM25 candidates, or
                // over the fused hybrid top-depth driven by the spoken
                // id's stored embedding
                p.next()
                val lam = lambda()
                val depth = depthOr(10, "mmr")
                val arm =
                  if (p.peekWordLower.contains("probing")) {
                    val np = probing()
                    p.expectWord("for"); p.expectWord("query")
                    Some(ServeArm.ById(p.expectNum().toLong, np))
                  } else None
                serve(depth, arm, Some(lam), None)
              case (LexQuery(LexQuery.Terms, LexQuery.Bm25F(_, _, _)), Some("fused")) =>
                // "… weighting title 2, text 1 fused at depth 20 probing
                // 4 cells for query 0 [where …]." — the FIELDED hybrid
                p.next()
                val depth = depthOr(20, "fusion")
                val np = probing()
                p.expectWord("for"); p.expectWord("query")
                val arm = ServeArm.ById(p.expectNum().toLong, np)
                serve(depth, Some(arm), None, optWhere())
              case _ => None
            }
          }.fold(identity, { case (tokens, q, where) =>
            List(Op.LexProbe(tokens, k, q, where)) }))
        }
        p.expectWord("index")
        // "with quantized codes" = the PQ/ADC layer; "with int8 codes"
        // = the per-vector SQ8 layer
        val scoring: IvfScoring =
          if (p.peekWordLower.contains("with")) {
            p.next()
            if (p.peekWordLower.contains("int8")) {
              p.next(); p.dropWords("quantized")
              p.dropWords("codes", "code", "quantization")
              IvfScoring.Sq8
            } else {
              p.dropWords("product")
              p.expectWord("quantized")
              p.dropWords("codes", "code")
              IvfScoring.Adc
            }
          } else IvfScoring.Exact
        p.expectWord("for"); p.dropWords("top", "the")
        val k = p.expectNum().toInt
        if (k <= 0) throw ParseException(s"top-k must be positive: $k")
        p.dropWords("most", "nearest", "similar", "neighbors", "vectors")
        p.expectWord("to")
        def nprobeTail(): (Int, Option[Pred]) = {
          p.expectWord("probing")
          val nprobe = p.expectNum().toInt
          if (nprobe <= 0) throw ParseException(
            s"probed cell count must be positive: $nprobe")
          p.dropWords("cells", "cell")
          // "… where label == 3" — a candidate metadata filter over the
          // index's stored attribute columns, pushed INTO the pruned
          // scan (pre-filter: exactly k MATCHING neighbors return)
          val where = p.peekWordLower match {
            case Some("where") => p.next(); Some(parsePred(p))
            case _             => None
          }
          requireDone(p)
          (nprobe, where)
        }
        if (p.peekWordLower.contains("vector")) {
          p.next()
          val vec = vectorLiteral(p)
          val (np, w) = nprobeTail()
          Right(List(Op.IndexSearchVec(vec, k, np, scoring, w)))
        } else {
          val qid = p.expectNum().toLong
          val (np, w) = nprobeTail()
          Right(List(Op.IndexSearch(qid, k, np, scoring, w)))
        }
      case Some("delete") | Some("forget") | Some("erase") =>
        // "Delete user_id 42 from the table." — PHYSICAL compliance
        // erasure (sidecar-Bloom-pruned copy-on-write rewrite); the
        // post-delete table content reads back for the oracle.
        // "Erase vectors 3, 7 from the index." routes to the VECTOR
        // INDEX's erasure (cell-bounded copy-on-write) — "vector" is
        // the discriminator, as in the search routes. "Delete docs 3,
        // 7 from the lexical index." (or "… documents where lang ==
        // 'en' …") is the INVERTED-index erasure — "forget doc X" must
        // reach the postings, or an erased document stays retrievable
        // by keyword after the log and the vector index forgot it.
        p.next(); p.dropWords("the")
        p.peekWordLower match {
          case Some("doc") | Some("docs") |
               Some("document") | Some("documents") =>
            p.next()
            if (p.peekWordLower.contains("where")) {
              p.next()
              val w = parsePred(p)
              p.dropWords("from", "the", "lexical", "index")
              requireDone(p)
              return Right(List(Op.IndexMaintain(IndexStore.Lexical, IndexVerb.EraseWhere(w))))
            }
            val ks = Seq.newBuilder[Long]
            def oneDoc(): Unit = {
              val v = p.expectNum()
              if (v != v.toLong) throw ParseException(
                s"erase keys are integers, got $v")
              ks += v.toLong
            }
            oneDoc()
            while (p.peek.contains(Sym(","))) { p.next(); oneDoc() }
            p.dropWords("from", "the")
            p.expectWord("lexical"); p.expectWord("index")
            requireDone(p)
            return Right(List(Op.IndexMaintain(IndexStore.Lexical, IndexVerb.Erase(ks.result()))))
          case _ => ()
        }
        p.peekWordLower match {
          case Some("vector") | Some("vectors") =>
            p.next()
            // "Erase vectors where label == 9 from the index." — the
            // attribute-sweep erase (fully distributed, no id list)
            if (p.peekWordLower.contains("where")) {
              p.next()
              val w = parsePred(p)
              p.dropWords("from", "the", "index")
              requireDone(p)
              return Right(List(Op.IndexMaintain(IndexStore.Vector, IndexVerb.EraseWhere(w))))
            }
            val ks = Seq.newBuilder[Long]
            def oneVec(): Unit = {
              val v = p.expectNum()
              if (v != v.toLong) throw ParseException(
                s"erase keys are integers, got $v")
              ks += v.toLong
            }
            oneVec()
            while (p.peek.contains(Sym(","))) { p.next(); oneVec() }
            p.dropWords("from", "the", "index")
            requireDone(p)
            return Right(List(Op.IndexMaintain(IndexStore.Vector, IndexVerb.Erase(ks.result()))))
          case _ => ()
        }
        val kc = p.expectWordRaw()
        val ks = Seq.newBuilder[Long]
        def oneDel(): Unit = {
          val v = p.expectNum()
          if (v != v.toLong) throw ParseException(
            s"delete keys are integers, got $v")
          ks += v.toLong
        }
        oneDel()
        while (p.peek.contains(Sym(","))) { p.next(); oneDel() }
        p.dropWords("from", "the", "table", "log", "events")
        requireDone(p)
        Right(List(Op.DeleteByKey(kc, ks.result())))
      case other =>
        throw ParseException(s"unrecognized clause start: $other in ${toks.mkString(" ")}")
    }
  }

  /** Shared dedup-method tail: `int-GRAM JACCARD t (BLOCKED BY col)?` |
    * `MINHASH JACCARD? t` | `SIMHASH (HAMMING h)?`. */
  private def parseDedupMethod(p: TokCursor): Op = p.peek match {
    case Some(Num(n)) =>
      p.next()
      p.peekWordLower match {
        case Some("-gram") | Some("gram") | Some("grams") => p.next()
        case other => throw ParseException(s"expected '-gram' after ${n.toInt}, got $other")
      }
      p.expectWord("jaccard")
      val t = p.expectNum()
      if (t <= 0.0 || t > 1.0)
        throw ParseException(s"jaccard threshold must be in (0, 1], got $t")
      val block = p.peekWordLower match {
        case Some("blocked") => p.next(); p.expectWord("by"); Some(p.expectWordRaw())
        case _               => None
      }
      requireDone(p)
      Op.DedupJaccard(n.toInt, t, block)
    case Some(w: Word) if w.lower == "minhash" =>
      p.next(); p.dropWords("jaccard")
      val t = p.expectNum()
      requireDone(p)
      Op.DedupMinHash(t)
    case Some(w: Word) if w.lower == "simhash" || w.lower == "wide" =>
      // "simhash (hamming h)?" | "wide simhash (hamming h)?" — the wide
      // form is the 128-bit fingerprint ([[Op.DedupSimHashWide]]).
      val wide = w.lower == "wide"
      p.next()
      if (wide) p.expectWord("simhash")
      val h = p.peekWordLower match {
        case Some("hamming") => p.next(); p.expectNum().toInt
        case Some("within")  => p.next(); p.dropWords("hamming"); p.expectNum().toInt
        case _               => 3
      }
      requireDone(p)
      if (wide) Op.DedupSimHashWide(h) else Op.DedupSimHash(h)
    case Some(w: Word) if w.lower == "levenshtein" || w.lower == "edit" =>
      // "… by levenshtein 60 (blocked by source)" / "… by edit distance 60"
      p.next(); p.dropWords("distance")
      val d = p.expectNum().toInt
      if (d <= 0) throw ParseException(s"edit distance must be positive, got $d")
      val block = p.peekWordLower match {
        case Some("blocked") => p.next(); p.expectWord("by"); Some(p.expectWordRaw())
        case _               => None
      }
      requireDone(p)
      Op.DedupLevenshtein(d, block)
    case Some(w: Word) if w.lower == "semantic" || w.lower == "semantically" =>
      // "… by semantic cosine 0.45 (with 16 clusters)?" — SemDeDup:
      // within-k-means-cell cosine pairs
      p.next(); p.dropWords("embedding", "cosine", "above", "over")
      val t = p.expectNum()
      // no explicit cluster count → 0 = the operator's auto √n scaling
      val k = p.peekWordLower match {
        case Some("with") | Some("using") =>
          p.next()
          val n = p.expectNum().toInt
          p.dropWords("clusters", "cluster", "cells", "cell", "centroids")
          if (n < 1) throw ParseException(s"cluster count must be positive, got $n")
          n
        case _ => 0
      }
      requireDone(p)
      Op.DedupSemantic(t, k)
    case Some(w: Word) if w.lower == "embedding" || w.lower == "cosine" =>
      // "… by embedding cosine 0.45" / "… by cosine above 0.45",
      // optionally "… using lsh" for the banded scale sibling or
      // "… blocked by <col>" for the bounded within-block exact form
      p.next(); p.dropWords("embedding", "cosine", "above", "over")
      val t = p.expectNum()
      val lsh = p.peekWordLower match {
        case Some("using") | Some("with") =>
          p.next(); p.expectWord("lsh"); true
        case Some("lsh") => p.next(); true
        case _ => false
      }
      val block = p.peekWordLower match {
        case Some("blocked") => p.next(); p.expectWord("by"); Some(p.expectWordRaw())
        case _               => None
      }
      requireDone(p)
      if (lsh) {
        if (block.isDefined) throw ParseException(
          "LSH embedding dedup is bucket-blocked by construction; " +
          "'blocked by' applies to the exact form only")
        Op.DedupEmbeddingLsh(t)
      } else Op.DedupEmbedding(t, block)
    case other => throw ParseException(s"unknown dedup method: $other")
  }

  /** A sampling fraction: `0.01` | `1 %` | `1 percent`. */
  private def parseFraction(p: TokCursor): Double = {
    val v = p.expectNum()
    val f = p.peek match {
      case Some(Sym("%")) => p.next(); v / 100.0
      case Some(w: Word) if w.lower == "percent" => p.next(); v / 100.0
      case _ => v
    }
    if (f < 0.0 || f > 1.0)
      throw ParseException(s"sample fraction out of [0,1]: $f")
    f
  }

  /** Scalar expression inside an aggregate argument: two precedence
    * levels (times over plus/minus, word or symbol operators), parens,
    * numbers, column references, unary minus (parsed as `0 - atom`, so
    * the IR needs no extra node and `- a * b` folds to `(0-a)*b` —
    * value-identical to `-(a*b)`). Stops cleanly at any non-expression
    * token ("rounded", "as", ",", "and"); note `a -5` lexes the negative
    * LITERAL -5 (no operator), so the expression ends at `a` and the
    * stray number fails the clause loudly rather than silently binding
    * as subtraction — spelled-out `a - 5` is the subtraction form
    * (GrammarFuzzSpec pins both behaviors). */
  private def parseNumExpr(p: TokCursor): NumExpr = {
    def atom(): NumExpr = p.peek match {
      case Some(Sym("(")) =>
        p.next(); val e = addsub(); p.expectSym(")"); e
      case Some(Sym("-")) =>
        p.next(); NumExpr.Sub(NumExpr.Const(0), atom())
      case Some(Num(v))  => p.next(); NumExpr.Const(v)
      case Some(_: Word) => NumExpr.ColRef(p.expectWordRaw())
      case other => throw ParseException(
        s"expected column, number or '(' in aggregate expression, got $other")
    }
    def mul(): NumExpr = {
      var l = atom()
      var go = true
      while (go) p.peek match {
        case Some(Sym("*")) => p.next(); l = NumExpr.Mul(l, atom())
        case Some(w: Word) if w.lower == "times" =>
          p.next(); l = NumExpr.Mul(l, atom())
        case _ => go = false
      }
      l
    }
    def addsub(): NumExpr = {
      var l = mul()
      var go = true
      while (go) p.peek match {
        case Some(Sym("+")) => p.next(); l = NumExpr.Add(l, mul())
        case Some(w: Word) if w.lower == "plus" =>
          p.next(); l = NumExpr.Add(l, mul())
        case Some(Sym("-")) => p.next(); l = NumExpr.Sub(l, mul())
        case Some(w: Word) if w.lower == "minus" =>
          p.next(); l = NumExpr.Sub(l, mul())
        case _ => go = false
      }
      l
    }
    addsub()
  }

  /** Build the aggregate op matching the pending grouping clause's mode. */
  private def groupedAgg(mode: GroupMode, keys: Seq[String],
                         specs: Seq[AggSpec]): Op = mode match {
    case PlainGroup  => Op.GroupAgg(keys, specs)
    case RollupGroup => Op.RollupAgg(keys, specs)
    case CubeGroup   => Op.CubeAgg(keys, specs)
  }

  /** Optional `WITH SEED n` tail; the fixed default keeps bare
    * descriptions deterministic run-over-run. */
  private def parseSeed(p: TokCursor, default: Long = 42L): Long =
    if (p.peekWordLower.contains("with")) {
      p.next(); p.expectWord("seed"); p.expectNum().toLong
    } else default

  /** The lexical grammar both retrieval routes share, read after
    * "matching" — "Find top k documents matching …" ([[Op.LexTopK]])
    * and "Search the lexical index for top k matching …"
    * ([[Op.LexProbe]]):
    * {{{
    *   lexical := QUOTED IN THE? field (WITH SLOP int)? WEIGHTING weights
    *            | QUOTED (WITH SLOP int)?
    *            | terms WITHIN int TOKENS?
    *            | terms WEIGHTING weights (NORMALIZING bs)?
    *            | terms
    *   then      route continuation | (WHERE pred)?
    * }}}
    * A QUOTED operand is a phrase (adjacency, not bag-of-words); "in
    * <field>" runs it inside that field's own stream. `route` sees the
    * parsed (tokens, query) before the "where" tail: a continuation
    * only its route speaks (fusion, MMR) consumes the rest of the clause
    * and returns its ops (Left); otherwise the tail is read and the
    * clause must end (Right). A pair [[LexQuery]] rejects fails here,
    * as a [[ParseException]] carrying the query's own message. */
  private def lexicalQuery(p: TokCursor)(
      route: (Seq[String], LexQuery) => Option[List[Op]])
      : Either[List[Op], (Seq[String], LexQuery, Option[Pred])] = {
    def query(build: => LexQuery): LexQuery =
      try build
      catch { case e: IllegalArgumentException =>
        throw ParseException(e.getMessage.stripPrefix("requirement failed: "))
      }
    def slop(): Option[Int] = p.peekWordLower match {
      case Some("with") =>
        p.next(); p.expectWord("slop")
        val sl = p.expectNum().toInt
        if (sl < 0) throw ParseException(s"slop must be >= 0: $sl")
        Some(sl)
      case _ => None
    }
    def phraseMatch(field: Option[String]): LexQuery.Match =
      slop().fold[LexQuery.Match](LexQuery.Phrase(field))(LexQuery.Sloppy(_, field))
    val (tokens, q) = p.peek match {
      case Some(Quoted(s)) =>
        p.next()
        val phrase = s.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        if (phrase.isEmpty) throw ParseException(
          "a quoted phrase needs at least one token")
        if (p.peekWordLower.contains("in")) {
          p.next(); p.dropWords("the")
          val field = Some(p.expectWordRaw())
          val m = phraseMatch(field)
          p.expectWord("weighting")
          val ws = weightList(p)
          (phrase, query(LexQuery(m, LexQuery.Bm25F(ws))))
        } else (phrase, query(LexQuery(phraseMatch(None))))
      case _ =>
        val terms = termList(p)
        p.peekWordLower match {
          case Some("within") =>
            // proximity: every term inside some w-token run, any order
            p.next()
            val w = p.expectNum().toInt
            if (w < 1) throw ParseException(
              s"proximity window must be >= 1 token: $w")
            p.dropWords("tokens", "token")
            (terms, query(LexQuery(LexQuery.Window(w))))
          case Some("weighting") =>
            // BM25F over named fields; "normalizing title 0.3, text
            // 0.75" switches to FULL Robertson–Zaragoza BM25F
            p.next()
            val ws = weightList(p)
            p.peekWordLower match {
              case Some("normalizing") =>
                p.next()
                val ps = fullParams(ws, normalizeList(p))
                (terms, query(LexQuery(scoring = LexQuery.Bm25FFull(ps))))
              case _ => (terms, query(LexQuery(scoring = LexQuery.Bm25F(ws))))
            }
          case _ => (terms, LexQuery())
        }
    }
    route(tokens, q).toLeft {
      val where = p.peekWordLower match {
        case Some("where") => p.next(); Some(parsePred(p))
        case _             => None
      }
      requireDone(p)
      (tokens, q, where)
    }
  }

  private def requireDone(p: TokCursor): Unit =
    if (!p.done) throw ParseException(
      s"trailing tokens after clause: ${p.remaining.mkString(" ")}")

  /** A spoken term list — words separated by commas and/or "and",
    * stopping at the first token that is neither ("fused …", end of
    * input). Shared by the BM25/hybrid routes and the lexical-index
    * probe. */
  private def termList(p: TokCursor): Seq[String] = {
    val terms = Seq.newBuilder[String]
    terms += p.expectWordRaw()
    var more = true
    while (more) p.peek match {
      case Some(Sym(",")) =>
        p.next(); p.dropWords("and"); terms += p.expectWordRaw()
      case Some(w: Word) if w.lower == "and" =>
        p.next(); terms += p.expectWordRaw()
      case _ => more = false
    }
    terms.result()
  }

  /** "normalizing (field num)(, (and )field num)*" already consumed
    * its keyword — the per-field b list of FULL BM25F ("normalizing
    * title 0.3, text 0.75"); b in [0, 1], and the fields must repeat
    * the weighting list's names in order (checked by the caller). */
  private def normalizeList(p: TokCursor): Seq[(String, Double)] = {
    val bs = Seq.newBuilder[(String, Double)]
    def one(): Unit = {
      val f = p.expectWordRaw()
      val b = p.expectNum()
      if (b < 0.0 || b > 1.0) throw ParseException(
        s"per-field b must be in [0,1]: $b")
      bs += (f -> b)
    }
    one()
    var more = true
    while (more) p.peek match {
      case Some(Sym(",")) => p.next(); p.dropWords("and"); one()
      case Some(w: Word) if w.lower == "and" => p.next(); one()
      case _ => more = false
    }
    bs.result()
  }

  /** Zip a weighting list with its `normalizing` b-list into full-BM25F
    * params, requiring identical field names in order. */
  private def fullParams(ws: Seq[(String, Double)],
                         bs: Seq[(String, Double)]): Seq[(String, Double, Double)] = {
    if (bs.map(_._1) != ws.map(_._1)) throw ParseException(
      s"normalizing must name the weighted fields in order " +
        s"(${ws.map(_._1).mkString(", ")}), got ${bs.map(_._1).mkString(", ")}")
    ws.zip(bs).map { case ((f, w), (_, b)) => (f, w, b) }
  }

  /** "(field num)(, (and )field num)*" — the BM25F weighting list:
    * "weighting title 2, text 1". */
  private def weightList(p: TokCursor): Seq[(String, Double)] = {
    val ws = Seq.newBuilder[(String, Double)]
    def one(): Unit = {
      val f = p.expectWordRaw()
      val w = p.expectNum()
      if (w <= 0.0) throw ParseException(s"field weights must be > 0: $w")
      ws += (f -> w)
    }
    one()
    var more = true
    while (more) p.peek match {
      case Some(Sym(",")) => p.next(); p.dropWords("and"); one()
      case Some(w: Word) if w.lower == "and" => p.next(); one()
      case _ => more = false
    }
    ws.result()
  }

  /** A bracketed float list — the spoken form of an unseen literal
    * query vector ("vector [0.1, -0.2, …]"); the caller has already
    * consumed the word "vector". `Float.toString`/`toFloat` round-trip,
    * so spoken floats parse bit-identical to the vector they print. */
  private def vectorLiteral(p: TokCursor): Seq[Float] = {
    p.expectSym("[")
    val vec = Seq.newBuilder[Float]
    vec += p.expectNum().toFloat
    while (p.peek.contains(Sym(","))) { p.next(); vec += p.expectNum().toFloat }
    p.expectSym("]")
    vec.result()
  }

  private def parseColList(p: TokCursor,
                           stopWords: Set[String] = Set.empty): Seq[String] = {
    val cols = Seq.newBuilder[String]
    var expectMore = true
    while (expectMore && p.peekWordRaw.exists(w => !stopWords(w.toLowerCase))) {
      cols += p.expectWordRaw()
      p.peek match {
        case Some(Sym(","))                         => p.next()
        case Some(w: Word) if w.lower == "and"      => p.next()
        case _                                      => expectMore = false
      }
    }
    val result = cols.result()
    if (result.isEmpty) throw ParseException("expected column list")
    result
  }

  // ------------------------------------------------------ predicate parse
  private implicit final class PredOps(val pred: Pred) extends AnyVal {
    def ensuringDone(p: TokCursor): Pred = {
      if (!p.done) throw ParseException(
        s"trailing tokens after predicate: ${p.remaining.mkString(" ")}")
      pred
    }
  }

  private def parsePred(p: TokCursor): Pred = parseOr(p)

  private def parseOr(p: TokCursor): Pred = {
    var left = parseAnd(p)
    while (p.peekWordLower.contains("or")) { p.next(); left = Pred.Or(left, parseAnd(p)) }
    left
  }

  private def parseAnd(p: TokCursor): Pred = {
    var left = parseUnary(p)
    while (p.peekWordLower.contains("and")) { p.next(); left = Pred.And(left, parseUnary(p)) }
    left
  }

  private def parseUnary(p: TokCursor): Pred = p.peek match {
    case Some(w: Word) if w.lower == "not" => p.next(); Pred.Not(parseUnary(p))
    case Some(Sym("(")) =>
      p.next()
      val inner = parseOr(p)
      p.expectSym(")")
      inner
    case _ => parseAtom(p)
  }

  private def parseAtom(p: TokCursor): Pred = {
    val colName = p.expectWordRaw()
    p.peek match {
      case Some(Sym(op)) =>
        p.next()
        val v = parseLit(p)
        val cmp = op match {
          case ">"  => Pred.Gt
          case ">=" => Pred.Ge
          case "<"  => Pred.Lt
          case "<=" => Pred.Le
          case "==" | "=" => Pred.Eq
          case "!=" | "<>" => Pred.Ne
          case other => throw ParseException(s"unknown comparison '$other'")
        }
        Pred.Cmp(cmp, colName, v)
      case Some(w: Word) => w.lower match {
        case "between" =>
          p.next()
          val lo = parseLit(p); p.expectWord("and"); val hi = parseLit(p)
          Pred.Between(colName, lo, hi)
        case "starts" =>
          p.next(); p.expectWord("with")
          Pred.StartsWith(colName, p.expectStr())
        case "contains" =>
          p.next(); Pred.Contains(colName, p.expectStr())
        case "in" =>
          p.next(); p.expectSym("(")
          val vals = Seq.newBuilder[Lit]
          vals += parseLit(p)
          while (p.peek.contains(Sym(","))) { p.next(); vals += parseLit(p) }
          p.expectSym(")")
          Pred.In(colName, vals.result())
        case "is" => // tolerated: "col is 'x'" ≡ equality
          p.next(); Pred.Cmp(Pred.Eq, colName, parseLit(p))
        case other => throw ParseException(s"expected operator after '$colName', got '$other'")
      }
      case other => throw ParseException(s"expected operator after '$colName', got $other")
    }
  }

  private def parseLit(p: TokCursor): Lit = p.next() match {
    case Num(v)    => Lit.Num(v)
    case Quoted(s) => Lit.Str(s)
    case Word(s)   => Lit.Str(s) // unquoted bareword literal
    case other     => throw ParseException(s"expected literal, got $other")
  }

  /** Quoted ISO-8601 instant → epoch micros. Accepts `...Z`/offset form
    * (`Instant.parse`), zoneless datetime (read as UTC — the session
    * timezone every oracle assumes), and a bare date (midnight UTC). */
  private def isoToUs(s: String): Long = {
    val inst =
      try java.time.Instant.parse(s)
      catch { case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
        catch { case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDate.parse(s).atStartOfDay.toInstant(java.time.ZoneOffset.UTC)
          catch { case _: java.time.format.DateTimeParseException =>
            throw ParseException(s"expected an ISO-8601 timestamp, got '$s'")
          }
        }
      }
    Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
                  inst.getNano / 1000L)
  }

  // ------------------------------------------------------------- cursor
  private final class TokCursor(toks: Vector[Tok]) {
    private var pos = 0
    def done: Boolean = pos >= toks.length
    def remaining: Vector[Tok] = toks.drop(pos)
    def peek: Option[Tok] = if (done) None else Some(toks(pos))
    def peekAt(n: Int): Option[Tok] =
      if (pos + n >= toks.length) None else Some(toks(pos + n))
    def peekWordLower: Option[String] = peek.collect { case w: Word => w.lower }
    def peekWordRaw: Option[String] = peek.collect { case w: Word => w.s }
    def next(): Tok = {
      if (done) throw ParseException("unexpected end of input")
      val t = toks(pos); pos += 1; t
    }
    def dropWords(ws: String*): Unit =
      while (peekWordLower.exists(ws.contains(_))) next()
    def expectWord(w: String): Unit = next() match {
      case word: Word if word.lower == w => ()
      case other => throw ParseException(s"expected '$w', got $other")
    }
    def expectWordRaw(): String = next() match {
      case w: Word => w.s
      case other   => throw ParseException(s"expected identifier, got $other")
    }
    def expectNum(): Double = next() match {
      case Num(v) => v
      case other  => throw ParseException(s"expected number, got $other")
    }
    def expectStr(): String = next() match {
      case Quoted(s) => s
      case Word(s)   => s
      case other     => throw ParseException(s"expected string, got $other")
    }
    def expectSym(s: String): Unit = next() match {
      case Sym(`s`) => ()
      case other    => throw ParseException(s"expected '$s', got $other")
    }
  }
}
