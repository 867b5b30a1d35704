package graft.influxql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** InfluxQL SELECT front-end over the narrow points layout.
  *
  * The reference service exists to make InfluxQL queries work: it writes
  * MQTT payloads into InfluxDB (influx_service.py:183-209) precisely so its
  * users can then `SELECT mean(value) FROM <transducer> WHERE time > ...
  * GROUP BY time(10m), device fill(previous)`. This module closes that last
  * user-facing surface: the practical InfluxQL SELECT dialect, parsed with a
  * hand-rolled tokenizer + recursive descent (no dependencies) and planned
  * onto the SAME deterministic kernels the rest of the engine uses — the
  * DataFrame comes back declarative, so Catalyst still sees one hash
  * aggregate + (for fills) one window over the series key, exactly the
  * plans the oracle-gated q_bucket_10m / q_ts_gapfill* queries pin.
  *
  * Supported grammar (case-insensitive keywords):
  * {{{
  *   SHOW MEASUREMENTS | SHOW SERIES | SHOW TAG KEYS
  *     | SHOW TAG VALUES WITH KEY (= k | != k | =~ /re/ | !~ /re/ | IN (k, ...))
  *     | SHOW FIELD KEYS
  *     (SERIES / TAG KEYS / TAG VALUES / FIELD KEYS and their CARDINALITY
  *      forms take `FROM m | /re/` — the per-measurement discovery filter;
  *      TAG/FIELD KEYS then answer by presence scan instead of schema;
  *      every SHOW except FIELD KEYS also takes `WHERE` tag trees, the
  *      scan-backed ones time bounds too — field predicates rejected)
  *
  *   CREATE CONTINUOUS QUERY name ON db BEGIN select END   (streaming DDL;
  *     SHOW CONTINUOUS QUERIES / DROP CONTINUOUS QUERY via the
  *     [[ContinuousQueries]] registry)
  *   DELETE FROM m [WHERE ...] | DROP MEASUREMENT m        (ACID deletes)
  *     | DROP SERIES [FROM m] [WHERE tag-conds]
  *   EXPLAIN select                    (the real Spark physical plan)
  *   EXPLAIN ANALYZE select            (runs it; final plan + observed
  *                                      per-operator SQLMetric values)
  *
  *   SELECT field [, field ...] [INTO target]
  *   FROM (measurement [',' measurement ...] | '/regex/' | '(' select ')')
  *                                    (a list or regex keeps each
  *                                     measurement its own series,
  *                                     surfaced as a `measurement` column;
  *                                     subquery: the inner result is the
  *                                     outer query's point source)
  *   [WHERE cond [AND cond ...]]
  *   [GROUP BY group [, group ...] [FILL(null|none|previous|linear|<num>)]]
  *   [ORDER BY time (ASC|DESC)]
  *   [LIMIT n] [OFFSET n] [SLIMIT n] [SOFFSET n]
  *
  *   field  := expr ['AS' ident]
  *   expr   := expr ('+'|'-'|'*'|'/') expr | '(' expr ')' | '-' expr | num
  *           | scalar '(' expr [',' expr] ')' | call | ident
  *   call   := agg | xform '(' agg [',' dur|num] ')'
  *   agg    := func '(' ident [',' num] ')' | count '(' distinct '(' ident ')' ')'
  *   func   := count|sum|mean|min|max|first|last|median|percentile|spread|stddev|mode
  *             | top|bottom   (the N extreme POINTS, keeping their own
  *               event times; `top(f, tag_key [, tag_key...], N)` picks at
  *               most one champion per tag(-combo) value; composes with
  *               `GROUP BY time(d)` — extremes pick per bucket)
  *             | sample       (`sample(f, N)`: N deterministic hash-order
  *               points per series; GROUP BY tags yes, time buckets no)
  *             | elapsed      (time to the series predecessor, raw-only)
  *   (selector companions: bare field/tag refs may ride beside a single
  *    top/bottom/sample/max/min/first/last/percentile call — each selected
  *    row carries its companions' values; names must not collide with
  *    time/tags, alias with AS)
  *   xform  := derivative|non_negative_derivative|difference|non_negative_difference|cumulative_sum|moving_average
  *           | exponential_moving_average|double_exponential_moving_average
  *           | triple_exponential_moving_average|triple_exponential_derivative
  *           | relative_strength_index|chande_momentum_oscillator
  *           | kaufmans_efficiency_ratio   (each '(' agg ',' N ')', N >= 2)
  *           | kaufmans_adaptive_moving_average   (bucketed path only — its
  *             smoothing constant is data-dependent, a true recursion)
  *   scalar := abs|sqrt|ceil|floor|round|exp|ln|log2|log10|sin|cos|tan|asin|acos|atan
  *           | pow|atan2|log   (log(x, b) = base-b log, planned ln(x)/ln(b))
  *   cond   := cond OR cond | cond AND cond | '(' cond ')'    (AND binds tighter)
  *           | time (<|<=|>|>=) timeLit | tag (=|!=) 'string'
  *           | field (=|!=|<|<=|>|>=) num
  *   group  := time '(' duration [',' duration] ')' | ident | '*'
  *             (the second duration shifts bucket alignment off the epoch;
  *              '*' = every tag column)
  * }}}
  *
  * Deliberate semantic pins (deterministic where InfluxDB is loose):
  *   - `percentile(f, N)` / `median(f)` are the interpolated (type-7)
  *     percentile — bit-identical to DuckDB `quantile_cont` (repo
  *     convention), where InfluxDB returns a nearest-rank point;
  *   - `first`/`last` tie-break equal timestamps by value (struct min/max),
  *     where InfluxDB's pick is storage-order arbitrary;
  *   - `stddev` is the sample stddev of 1e-6-quantized values computed from
  *     exact integer moments (decimal-summed, one double conversion at the
  *     end) — order-independent, unlike a naive double accumulation;
  *   - integer time literals are epoch MICROSECONDS (the engine's native
  *     unit), not InfluxDB's nanoseconds; ISO-8601 strings work as usual.
  *
  * Scale posture: FROM/WHERE become plain pushable predicates on the points
  * scan; GROUP BY time(d) is an epoch-aligned integer bucket (one hash
  * aggregate, partial+final); fills densify per series via a bounded
  * sequence explode + windows over ONE shuffle on the series key — the
  * skeleton never materializes on the driver.
  */
object InfluxQL {

  // ---------- per-statement persist pins ----------

  /** Frames the planner persist()s for intra-query reuse (the holt_winters
    * smoothed/seasonal frames). The persists are a pure optimization —
    * they must stay pinned while the statement's result is consumed, and
    * be RELEASED after, or a long-lived service accumulates CacheManager
    * entries per request (ADVICE r18). Thread-local because the planner is
    * static and the HTTP face plans+consumes each statement on one pool
    * thread; the catalog's streamed runners drain after `consume`.
    * Bench/Verify never drain — their per-query `clearCache()` already
    * releases everything, exactly like the dedup shingle-index pins.
    */
  private val pins = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]] {
    override def initialValue() = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  }
  private def pin(df: DataFrame): DataFrame = { pins.get += df; df }
  /** Unpersist every frame pinned on THIS thread and clear the registry.
    * Safe on never-materialized pins (unpersist is a no-op) and after a
    * drain (idempotent); a released frame re-consumed later just
    * recomputes — results are unaffected.
    */
  def drainPins(): Unit = {
    val b = pins.get
    b.foreach(df => try df.unpersist()
      catch { case scala.util.control.NonFatal(_) => () })
    b.clear()
  }

  // ---------- AST ----------

  sealed trait Fill
  case object FillNull extends Fill
  case object FillNone extends Fill
  case object FillPrevious extends Fill
  case object FillLinear extends Fill
  final case class FillValue(v: Double) extends Fill

  sealed trait Cond
  final case class TimeCond(op: String, us: Long) extends Cond
  final case class TagCond(tag: String, eq: Boolean, value: String) extends Cond
  /** `tag =~ /re/` / `tag !~ /re/` — InfluxQL's regex tag predicates. */
  final case class TagRegexCond(tag: String, matches: Boolean, re: String) extends Cond
  /** Numeric comparison on a field column (`value > 5`). */
  final case class FieldCond(field: String, op: String, v: Double) extends Cond
  /** Disjunction of AND-branches (`(a AND b) OR c`); time bounds inside a
    * branch don't contribute to fill skeletons or scan pushdown — only
    * top-level conjuncts do.
    */
  final case class OrCond(branches: Seq[Seq[Cond]]) extends Cond

  /** One aggregate (or transform-wrapped aggregate) call — a LEAF of a
    * select expression. `transform` wraps the aggregate in an InfluxQL
    * transformation (`derivative(mean(value), 1h)`): `targ` carries its
    * parameter — the unit in microseconds for the derivatives, the window
    * width for moving_average, unused otherwise.
    */
  final case class Field(func: String, arg: String, pct: Option[Double],
                         transform: Option[String] = None,
                         targ: Option[Long] = None,
                         seasonal: Option[Long] = None,
                         tagKeys: Seq[String] = Nil) {
    def defaultName: String = transform.getOrElse(func)
  }

  /** A select expression tree: aggregate calls, raw field references, and
    * numeric literals composed with arithmetic and scalar math functions.
    */
  sealed trait FExpr
  final case class FNum(v: Double) extends FExpr
  final case class FRef(name: String) extends FExpr
  final case class FCall(call: Field) extends FExpr
  final case class FBin(op: String, l: FExpr, r: FExpr) extends FExpr
  final case class FFun(fn: String, args: Seq[FExpr]) extends FExpr

  /** One SELECT item: an expression plus its optional alias. The default
    * output name is the first call/reference leaf's name (InfluxDB's rule
    * for `mean(value) * 2` is likewise `mean`); a literal-only expression
    * has no natural name and must be aliased.
    */
  final case class Item(expr: FExpr, alias: Option[String]) {
    def calls: Seq[Field] = Item.collectCalls(expr)
    def refs: Seq[String] = Item.collectRefs(expr)
    def isAgg: Boolean = calls.nonEmpty
    def bareCall: Option[Field] = expr match { case FCall(f) => Some(f); case _ => None }
    def outName: String = alias.orElse(Item.leafName(expr)).getOrElse(
      throw new IllegalArgumentException(
        "InfluxQL: a literal-only expression needs an AS alias"))
  }
  object Item {
    private[influxql] def collectCalls(e: FExpr): Seq[Field] = e match {
      case FCall(f) => Seq(f)
      case FBin(_, l, r) => collectCalls(l) ++ collectCalls(r)
      case FFun(_, as) => as.flatMap(collectCalls)
      case _ => Nil
    }
    private[influxql] def collectRefs(e: FExpr): Seq[String] = e match {
      case FRef(n) => Seq(n)
      case FBin(_, l, r) => collectRefs(l) ++ collectRefs(r)
      case FFun(_, as) => as.flatMap(collectRefs)
      case _ => Nil
    }
    private[influxql] def leafName(e: FExpr): Option[String] = e match {
      case FCall(f) => Some(f.defaultName)
      case FRef(n) => Some(n)
      case FBin(_, l, r) => leafName(l).orElse(leafName(r))
      case FFun(_, as) => as.flatMap(leafName(_)).headOption
      case FNum(_) => None
    }
  }

  final case class Query(fields: Seq[Item], measurement: String, conds: Seq[Cond],
                         groupTimeUs: Option[Long], groupTags: Seq[String],
                         fill: Fill, timeDesc: Boolean, limit: Option[Int],
                         groupStar: Boolean = false, into: Option[String] = None,
                         fromRegex: Boolean = false, offset: Option[Int] = None,
                         slimit: Option[Int] = None, soffset: Option[Int] = None,
                         fromSub: Option[Query] = None, groupTimeOffsetUs: Long = 0L,
                         tz: Option[String] = None, selectStar: Boolean = false,
                         fromDb: Option[String] = None, fromRp: Option[String] = None,
                         fillExplicit: Boolean = false)

  val AggFuncs: Set[String] = Set("count", "sum", "mean", "min", "max", "first",
    "last", "median", "percentile", "spread", "stddev", "mode", "integral")

  /** InfluxQL transformations — each wraps an inner aggregate and runs as a
    * window over the (densified) bucket series, OR takes a bare field and
    * runs per series over the raw points (`SELECT derivative(value) FROM m`).
    */
  /** Technical-analysis transformations (InfluxQL's indicator family).
    * All take `(agg, N)` with N >= 2 and run over the bucket series with
    * the repo's pinned deterministic kernels: the EMA forms use the
    * truncated integer kernel at [[graft.operators.TimeSeriesOps.emaDialectDepth]],
    * RSI the truncated Wilder kernel, CMO/KER rolling int64 diff sums.
    * Bucket-series null semantics: every indicator emits only at non-null
    * operand buckets; EMA-family kernels mass-normalize over the PRESENT
    * buckets in their trailing window (the skip discipline of the frame
    * sums), diffs through null neighbors are null and contribute nothing,
    * and CMO/KER additionally require the n-back bucket to be present.
    */
  val TaFuncs: Set[String] = Set("exponential_moving_average",
    "double_exponential_moving_average", "triple_exponential_moving_average",
    "triple_exponential_derivative", "relative_strength_index",
    "chande_momentum_oscillator", "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average")

  val TransformFuncs: Set[String] = Set("derivative", "non_negative_derivative",
    "difference", "non_negative_difference", "cumulative_sum", "moving_average") ++ TaFuncs

  /** Pseudo-function marking a transformation operand as a RAW field
    * (`derivative(value)` with no inner aggregate): the transform plans
    * per-series over the raw points instead of the bucket series.
    */
  val RawOperand = "raw"

  /** Row selectors: `top(field, N)` / `bottom(field, N)` return the N
    * extreme POINTS (with their own times) rather than one value per group.
    */
  val TopBottomFuncs: Set[String] = Set("top", "bottom")

  /** The rank-1 point selectors that accept COMPANION columns (InfluxDB
    * 1.8): `SELECT max(value), tag_or_field [, ...] FROM m` returns the
    * selected point's companion values beside the selector value.
    * top/bottom and sample take companions too, on their own plan paths.
    */
  val PointSelectorFuncs: Set[String] =
    Set("max", "min", "first", "last", "percentile")

  /** `elapsed(field [, unit])` — the time between a point and its
    * predecessor in the series, in whole `unit`s (default 1us, InfluxQL's
    * integer division). Raw-only, sole field, per-measurement series.
    */
  val ElapsedFunc = "elapsed"

  /** Scalar math functions (InfluxQL's function-call surface over field
    * values and aggregate results), each with its arity. All evaluate in
    * double; `ln` is the natural log (InfluxQL's name — Spark calls it
    * `log`).
    */
  val ScalarFuncs: Map[String, Int] = Map(
    "abs" -> 1, "sqrt" -> 1, "ceil" -> 1, "floor" -> 1, "round" -> 1,
    "exp" -> 1, "ln" -> 1, "log2" -> 1, "log10" -> 1, "log" -> 2,
    "sin" -> 1, "cos" -> 1, "tan" -> 1, "asin" -> 1, "acos" -> 1, "atan" -> 1,
    "pow" -> 2, "atan2" -> 2)

  // ---------- tokenizer ----------

  private[influxql] sealed trait Tok { def raw: String }
  private[influxql] final case class TIdent(raw: String) extends Tok
  private[influxql] final case class TNum(v: Double, raw: String) extends Tok
  private[influxql] final case class TStr(s: String, raw: String) extends Tok
  private[influxql] final case class TDur(us: Long, raw: String) extends Tok
  private[influxql] final case class TRegex(re: String, raw: String) extends Tok
  private[influxql] final case class TSym(raw: String) extends Tok

  private val durUnitsUs = Map("ns" -> -1L /* sub-us: rejected below */ ,
    "u" -> 1L, "us" -> 1L, "ms" -> 1000L, "s" -> 1000000L,
    "m" -> 60000000L, "h" -> 3600000000L, "d" -> 86400000000L,
    "w" -> 7L * 86400000000L)

  private val tokenRe =
    """\s*(?:('([^']*)')|("([^"]*)")|((\d+)(ns|us|u|ms|s|m|h|d|w)\b)|(\d+(?:\.\d+)?)|([A-Za-z_][A-Za-z0-9_]*)|(/([^/]+)/)|(<=|>=|!=|<>|=~|!~|[(),*=<>+/.:-]))""".r

  private[influxql] def tokenize(text: String): Seq[Tok] = {
    var pos = 0
    var last: Option[Tok] = None
    val out = Seq.newBuilder[Tok]
    def push(t: Tok): Unit = { out += t; last = Some(t) }
    while (pos < text.length && text.substring(pos).trim.nonEmpty) {
      tokenRe.findPrefixMatchOf(text.substring(pos)) match {
        case None =>
          throw new IllegalArgumentException(
            s"InfluxQL: unrecognized input at position $pos: '${text.substring(pos).take(20)}'")
        case Some(m) =>
          if (m.group(1) != null) push(TStr(m.group(2), m.group(1)))
          else if (m.group(3) != null) push(TIdent(m.group(4)))
          else if (m.group(5) != null) {
            val unit = durUnitsUs(m.group(7))
            if (unit < 0) throw new IllegalArgumentException(
              "InfluxQL: sub-microsecond durations are below the engine's time unit")
            push(TDur(m.group(6).toLong * unit, m.group(5)))
          }
          else if (m.group(8) != null) push(TNum(m.group(8).toDouble, m.group(8)))
          else if (m.group(9) != null) push(TIdent(m.group(9)))
          else if (m.group(10) != null) {
            // `/.../` is a regex literal only where one can appear — right
            // after FROM or a =~/!~ match operator; anywhere else `/` is
            // the division operator (so `sum(a)/2 FROM /m/` doesn't
            // swallow `2 FROM ` as a regex)
            val regexPosition = last.exists {
              case TIdent(s) => s.equalsIgnoreCase("FROM")
              case TSym("=~") | TSym("!~") => true
              case TSym(".") => true // db-qualified regex FROM: db../re/
              case _ => false
            }
            if (regexPosition) push(TRegex(m.group(11), m.group(10)))
            else { push(TSym("/")); pos += m.start(10) + 1 - m.end }
          }
          else push(TSym(m.group(12)))
          pos += m.end
      }
    }
    out.result()
  }

  // ---------- parser (recursive descent over the token list) ----------

  private[influxql] final class P(toks: Seq[Tok]) {
    private var i = 0
    def done: Boolean = i >= toks.length
    def peek: Option[Tok] = toks.lift(i)
    def next(): Tok = { val t = toks.lift(i).getOrElse(fail("unexpected end of query")); i += 1; t }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"InfluxQL: $msg (near token ${i + 1})")

    def kw(word: String): Boolean = peek match {
      case Some(TIdent(s)) if s.equalsIgnoreCase(word) => i += 1; true
      case _ => false
    }
    def expectKw(word: String): Unit = if (!kw(word)) fail(s"expected $word")
    def sym(s: String): Boolean = peek match {
      case Some(TSym(x)) if x == s => i += 1; true
      case _ => false
    }
    def expectSym(s: String): Unit = if (!sym(s)) fail(s"expected '$s'")
    def ident(): String = next() match {
      case TIdent(s) => s
      case t => fail(s"expected identifier, got '${t.raw}'")
    }
    def num(): Double = next() match {
      case TNum(v, _) => v
      case t => fail(s"expected number, got '${t.raw}'")
    }
  }

  def parse(text: String): Query = {
    val p = new P(tokenize(text))
    val q = parseQuery(p)
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    q
  }

  /** Split `;`-separated multi-statement input at TOP level — the form
    * InfluxDB's /query endpoint accepts. A `;` inside a `'string'`, a
    * `"quoted identifier"`, or a `/regex/` literal stays part of its
    * statement; the regex-literal position rule is the tokenizer's own
    * (only after FROM, `=~`, `!~`, or a qualifying `.` — everywhere else
    * `/` is division and splits nothing). Empty fragments (trailing `;`,
    * `;;`) drop.
    */
  def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var lastTok = "" // last significant token, lower-cased
    def regexPosition: Boolean =
      lastTok == "from" || lastTok == "=~" || lastTok == "!~" || lastTok == "."
    def copyDelimited(close: Char): Unit = {
      val j = text.indexOf(close, i + 1)
      val end = if (j < 0) text.length else j + 1
      cur ++= text.substring(i, end); i = end
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\'') { copyDelimited('\''); lastTok = "'str'" }
      else if (c == '"') { copyDelimited('"'); lastTok = "\"id\"" }
      else if (c == '/' && regexPosition) { copyDelimited('/'); lastTok = "/re/" }
      else if (c == ';') { out += cur.result(); cur.clear(); i += 1; lastTok = "" }
      else if (c.isWhitespace) { cur += c; i += 1 }
      else if (c.isLetter || c == '_') {
        val start = i
        while (i < text.length &&
          (text.charAt(i).isLetterOrDigit || text.charAt(i) == '_')) i += 1
        cur ++= text.substring(start, i)
        lastTok = text.substring(start, i).toLowerCase
      } else if ((c == '=' || c == '!') && i + 1 < text.length &&
                 text.charAt(i + 1) == '~') {
        cur ++= text.substring(i, i + 2); lastTok = s"$c~"; i += 2
      } else { cur += c; lastTok = c.toString; i += 1 }
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Clock behind `now()` — inject a fixed value in specs (the oracle
    * gate never uses now(): wall time is inherently un-oracle-able).
    */
  @volatile var nowClockUs: () => Long = () => System.currentTimeMillis() * 1000L

  private[influxql] def parseQuery(p: P): Query = {
    p.expectKw("SELECT")
    val fields = Seq.newBuilder[Item]
    // SELECT * — the star expands against the live schema in resolve()
    // (alphabetical non-reserved columns, InfluxDB's rule)
    val selectStar = p.sym("*")
    if (!selectStar) do fields += parseItem(p) while (p.sym(","))
    // `INTO :MEASUREMENT` (InfluxDB's backreference): each source
    // measurement writes into a target of its own name
    val into = if (p.kw("INTO")) Some(
      if (p.sym(":")) {
        val k = p.ident()
        if (!k.equalsIgnoreCase("MEASUREMENT"))
          p.fail(s"expected :MEASUREMENT, got :$k")
        ":MEASUREMENT"
      } else p.ident()) else None
    p.expectKw("FROM")
    val (measurement, fromRegex, fromSub, fromDb, fromRp) = p.peek match {
      case Some(TRegex(re, _)) => p.next(); (re, true, None, None, None)
      case Some(TSym("(")) =>
        // subquery FROM: the inner SELECT's output becomes the outer
        // query's point source
        p.next()
        val sub = parseQuery(p)
        p.expectSym(")")
        if (sub.into.nonEmpty) p.fail("INTO does not apply inside a subquery")
        if (sub.fromDb.nonEmpty)
          p.fail("database qualifier applies to the top-level FROM only")
        ("", false, Some(sub), None, None)
      case _ =>
        // FROM element, optionally db-qualified (InfluxDB's fully
        // qualified form): m | db..m | db.rp.m | db../re/ | db.rp./re/
        def element(): (Option[String], Option[String], String, Boolean) = {
          val first = p.ident()
          if (p.sym(".")) {
            val rp = if (p.sym(".")) None else {
              val r = p.ident(); p.expectSym("."); Some(r)
            }
            p.peek match {
              case Some(TRegex(re, _)) => p.next(); (Some(first), rp, re, true)
              case _ => (Some(first), rp, p.ident(), false)
            }
          } else (None, None, first, false)
        }
        val els = Seq.newBuilder[(Option[String], Option[String], String, Boolean)]
        els += element()
        while (p.sym(",")) els += element()
        val all = els.result()
        if (all.map(e => (e._1, e._2)).distinct.size > 1)
          p.fail("all FROM measurements must share one database qualifier")
        val (db, rp) = (all.head._1, all.head._2)
        all match {
          case Seq((_, _, one, isRe)) => (one, isRe, None, db, rp)
          case many =>
            if (many.exists(_._4))
              p.fail("a regex FROM cannot be combined with a measurement list")
            // FROM m1, m2: each measurement stays its own series — the
            // same semantics as a regex FROM, so desugar to one
            (many.map(e => java.util.regex.Pattern.quote(e._3))
              .mkString("^(?:", "|", ")$"), true, None, db, rp)
        }
    }

    val conds = Seq.newBuilder[Cond]
    if (p.kw("WHERE")) conds ++= parseWhere(p)

    var groupTime: Option[Long] = None
    var groupTimeOffset = 0L
    val groupTags = Seq.newBuilder[String]
    var groupStar = false
    var fill: Fill = FillNull
    // whether a fill() clause was WRITTEN: batch queries treat the default
    // and fill(null) identically, but the incremental CQ path densifies
    // closed buckets only when the user asked for a fill
    var fillExplicit = false
    if (p.kw("GROUP")) {
      p.expectKw("BY")
      do {
        if (p.sym("*")) { groupStar = true }
        else {
        val g = p.ident()
        if (g.equalsIgnoreCase("time")) {
          p.expectSym("(")
          def dur(): Long = p.next() match {
            case TDur(us, _) => us
            case TNum(v, _) if v == math.floor(v) => v.toLong
            case t => p.fail(s"expected duration in time(), got '${t.raw}'")
          }
          val d = dur()
          if (d <= 0) p.fail("time() interval must be positive")
          if (groupTime.nonEmpty) p.fail("duplicate time() grouping")
          groupTime = Some(d)
          if (p.sym(",")) {
            val off = dur()
            if (off < 0 || off >= d)
              p.fail("time() offset must be in [0, interval)")
            groupTimeOffset = off
          }
          p.expectSym(")")
        } else groupTags += g
        }
      } while (p.sym(","))
      if (p.kw("FILL")) {
        fillExplicit = true
        p.expectSym("(")
        fill = p.next() match {
          case TIdent(s) if s.equalsIgnoreCase("null") => FillNull
          case TIdent(s) if s.equalsIgnoreCase("none") => FillNone
          case TIdent(s) if s.equalsIgnoreCase("previous") => FillPrevious
          case TIdent(s) if s.equalsIgnoreCase("linear") => FillLinear
          case TNum(v, _) => FillValue(v)
          case TSym("-") => FillValue(-p.num())
          case t => p.fail(s"expected fill mode, got '${t.raw}'")
        }
        p.expectSym(")")
      }
    }

    var timeDesc = false
    if (p.kw("ORDER")) {
      p.expectKw("BY")
      val c = p.ident()
      if (!c.equalsIgnoreCase("time")) p.fail("only ORDER BY time is supported")
      if (p.kw("DESC")) timeDesc = true else p.kw("ASC")
    }
    // InfluxQL clause order: LIMIT, OFFSET (points), then SLIMIT, SOFFSET
    // (series)
    def nat(clause: String): Int = {
      val v = p.num()
      if (v < 0 || v != math.floor(v)) p.fail(s"$clause takes a non-negative integer")
      v.toInt
    }
    val limit = if (p.kw("LIMIT")) Some(nat("LIMIT")) else None
    val offset = if (p.kw("OFFSET")) Some(nat("OFFSET")) else None
    val slimit = if (p.kw("SLIMIT")) Some(nat("SLIMIT")) else None
    val soffset = if (p.kw("SOFFSET")) Some(nat("SOFFSET")) else None
    // tz('Zone/Name') — InfluxQL's trailing timezone clause: GROUP BY time
    // buckets align to LOCAL wall-clock midnights/steps, DST-aware
    val tz: Option[String] = if (p.kw("TZ")) {
      p.expectSym("(")
      val z = p.next() match {
        case TStr(s, _) => s
        case t => p.fail(s"tz() takes a quoted IANA zone, got '${t.raw}'")
      }
      p.expectSym(")")
      try java.time.ZoneId.of(z)
      catch { case _: java.time.DateTimeException => p.fail(s"unknown time zone '$z'") }
      Some(z)
    } else None

    val q = Query(fields.result(), measurement, conds.result(), groupTime,
      groupTags.result(), fill, timeDesc, limit, groupStar, into, fromRegex,
      offset, slimit, soffset, fromSub, groupTimeOffset, tz, selectStar,
      fromDb, fromRp, fillExplicit)
    validate(q)
    q
  }

  /** `expr ['AS' alias]` — one SELECT item. */
  private def parseItem(p: P): Item = {
    val e = parseExpr(p)
    Item(e, if (p.kw("AS")) Some(p.ident()) else None)
  }

  /** Arithmetic expression grammar, standard precedence (`* /` bind tighter
    * than `+ -`; unary minus tightest):
    * {{{
    *   expr    := term (('+'|'-') term)*
    *   term    := unary (('*'|'/') unary)*
    *   unary   := '-' unary | primary
    *   primary := num | '(' expr ')' | scalar '(' expr [',' expr] ')'
    *            | call | ident
    * }}}
    */
  private def parseExpr(p: P): FExpr = {
    var l = parseMulTerm(p)
    var go = true
    while (go) {
      if (p.sym("+")) l = FBin("+", l, parseMulTerm(p))
      else if (p.sym("-")) l = FBin("-", l, parseMulTerm(p))
      else go = false
    }
    l
  }

  private def parseMulTerm(p: P): FExpr = {
    var l = parseUnaryExpr(p)
    var go = true
    while (go) {
      if (p.sym("*")) l = FBin("*", l, parseUnaryExpr(p))
      else if (p.sym("/")) l = FBin("/", l, parseUnaryExpr(p))
      else go = false
    }
    l
  }

  private def parseUnaryExpr(p: P): FExpr =
    if (p.sym("-")) FFun("neg", Seq(parseUnaryExpr(p))) else parsePrimary(p)

  private def parsePrimary(p: P): FExpr = p.peek match {
    case Some(TNum(v, _)) => p.next(); FNum(v)
    case Some(TSym("(")) =>
      p.next(); val e = parseExpr(p); p.expectSym(")"); e
    case _ =>
      val name = p.ident()
      val lower = name.toLowerCase
      if (TransformFuncs.contains(lower) && p.sym("(")) {
        val inner = parseAggCall(p, allowRaw = true)
        val targ: Option[Long] = lower match {
          case "derivative" | "non_negative_derivative" =>
            // the rate unit; InfluxQL's default is per second
            if (p.sym(",")) Some(p.next() match {
              case TDur(us, _) => us
              case TNum(v, raw) if v == math.floor(v) && v > 0 => v.toLong
              case t => p.fail(s"expected duration unit, got '${t.raw}'")
            }) else Some(1000000L)
          case "moving_average" =>
            if (!p.sym(",")) p.fail("moving_average(agg, N) needs N")
            val k = p.num()
            if (k < 2 || k != math.floor(k)) p.fail("moving_average N must be an integer >= 2")
            Some(k.toLong)
          case ta if TaFuncs.contains(ta) =>
            if (!p.sym(",")) p.fail(s"$ta(agg, N) needs N")
            val k = p.num()
            if (k < 2 || k != math.floor(k)) p.fail(s"$ta N must be an integer >= 2")
            Some(k.toLong)
          case _ =>
            if (p.sym(",")) p.fail(s"$lower() takes one argument")
            None
        }
        p.expectSym(")")
        FCall(inner.copy(transform = Some(lower), targ = targ))
      } else if ((AggFuncs ++ TopBottomFuncs).contains(lower) && p.sym("(")) {
        FCall(parseAggBody(p, lower))
      } else if ((lower == "holt_winters" || lower == "holt_winters_with_fit")
          && p.sym("(")) {
        // holt_winters(agg(field), N, S): N forecast points; S is the
        // seasonal pattern length in buckets (0 = no seasonality). Both
        // variants are the deterministic fixed-coefficient method —
        // InfluxQL fits its coefficients with an optimizer no two engines
        // reproduce; here S > 0 adds an additive per-phase seasonal index
        // (the same integer EMA kernel over residuals).
        // holt_winters_with_fit additionally emits the model's in-sample
        // value at every bucket BEFORE the forecasts — pinned as the
        // kernel's smoothed level (+ the bucket's own phase index when
        // seasonal); buckets ahead of the series' first value have no
        // kernel mass and emit nothing.
        val inner = parseAggCall(p)
        p.expectSym(",")
        val nFc = p.num()
        if (nFc < 1 || nFc != math.floor(nFc)) p.fail(s"$lower N must be a positive integer")
        p.expectSym(",")
        val season = p.num()
        if (season < 0 || season > 1000 || season != math.floor(season))
          p.fail(s"$lower S must be an integer in [0, 1000]")
        p.expectSym(")")
        FCall(inner.copy(transform = Some(lower), targ = Some(nFc.toLong),
          seasonal = Some(season.toLong)))
      } else if (lower == ElapsedFunc && p.sym("(")) {
        val arg = p.ident()
        val unit = if (p.sym(",")) (p.next() match {
          case TDur(us, _) => us
          case TNum(v, _) if v == math.floor(v) && v > 0 => v.toLong
          case t => p.fail(s"expected duration unit, got '${t.raw}'")
        }) else 1L
        p.expectSym(")")
        FCall(Field(ElapsedFunc, arg, None, targ = Some(unit)))
      } else if (lower == "sample" && p.sym("(")) {
        // sample(field, N): N deterministic hash-order points per series
        // (the SampleOps discipline — never rand(); stable across runs,
        // retries, and engines)
        val arg = p.ident()
        if (!p.sym(",")) p.fail("sample(field, N) needs N")
        val n = p.num()
        if (n < 1 || n != math.floor(n)) p.fail("sample N must be a positive integer")
        p.expectSym(")")
        FCall(Field("sample", arg, Some(n)))
      } else if (lower == "distinct" && p.sym("(")) {
        // raw distinct(field) selector: unique values per series at time 0
        // (InfluxDB's ungrouped-distinct rule); count(distinct()) parses
        // separately in parseAggBody
        val arg = p.ident()
        p.expectSym(")")
        FCall(Field("distinct", arg, None))
      } else if (ScalarFuncs.contains(lower) && p.sym("(")) {
        val args = Seq.newBuilder[FExpr]
        args += parseExpr(p)
        while (p.sym(",")) args += parseExpr(p)
        p.expectSym(")")
        val got = args.result()
        if (got.size != ScalarFuncs(lower))
          p.fail(s"$lower() takes ${ScalarFuncs(lower)} argument(s), got ${got.size}")
        FFun(lower, got)
      } else FRef(name)
  }

  /** `func '(' field [',' num] ')'` — an aggregate call used as a transform
    * operand. With `allowRaw`, a bare identifier (no following paren) is a
    * RAW field operand instead (`derivative(value)` — the core dashboard
    * idiom); holt_winters keeps the aggregate-only rule.
    */
  private def parseAggCall(p: P, allowRaw: Boolean = false): Field = {
    val name = p.ident()
    val lower = name.toLowerCase
    if (AggFuncs.contains(lower) && p.sym("(")) parseAggBody(p, lower)
    else if (allowRaw) Field(RawOperand, name, None)
    else p.fail(s"transformations take an aggregate argument, got '$name'")
  }

  private def parseAggBody(p: P, fn: String): Field = {
    // `count(distinct(field))` — exact distinct cardinality
    if (fn == "count" && p.peek.exists {
      case TIdent(s) => s.equalsIgnoreCase("distinct"); case _ => false
    }) {
      p.next(); p.expectSym("(")
      val arg = p.ident()
      p.expectSym(")"); p.expectSym(")")
      return Field("count_distinct", arg, None)
    }
    // integral(field [, unit-duration]) — the unit rides the pct slot as
    // exact microseconds (targ is reserved for a wrapping transform's own
    // parameter, e.g. derivative(integral(v), 1h))
    if (fn == "integral") {
      val arg = p.ident()
      val unit = if (p.sym(",")) (p.next() match {
        case TDur(us, _) => us
        case t => p.fail(s"integral unit must be a duration, got '${t.raw}'")
      }) else 1000000L
      p.expectSym(")")
      return Field("integral", arg, Some(unit.toDouble))
    }
    val arg = p.ident()
    // top/bottom take InfluxDB 1.8's per-tag middle arguments too:
    // top(field, tag_key [, tag_key ...], N) — the N extreme points
    // across distinct tag(-combination) values, at most one per value
    val tagKeys = Seq.newBuilder[String]
    var pct: Option[Double] = None
    while (p.sym(",")) p.peek match {
      case Some(TIdent(_)) | Some(TStr(_, _)) if TopBottomFuncs.contains(fn) =>
        if (pct.nonEmpty) p.fail(s"$fn: N must be the last argument")
        tagKeys += p.ident()
      case _ =>
        if (pct.nonEmpty) p.fail(s"$fn() takes at most one N")
        pct = Some(p.num())
    }
    p.expectSym(")")
    val needsN = fn == "percentile" || TopBottomFuncs.contains(fn)
    if (needsN && pct.isEmpty) p.fail(s"$fn(field, N) needs N")
    if (!needsN && pct.nonEmpty) p.fail(s"$fn() takes one argument")
    if (TopBottomFuncs.contains(fn) && pct.exists(n => n < 1 || n != math.floor(n)))
      p.fail(s"$fn N must be a positive integer")
    Field(fn, arg, pct, tagKeys = tagKeys.result())
  }

  /** Boolean condition grammar, standard precedence (AND binds tighter):
    * {{{
    *   where  := term (OR term)*     -- an OR at this level folds to OrCond
    *   term   := factor (AND factor)*
    *   factor := '(' where ')' | simple
    * }}}
    * Returns the top-level AND list; a disjunction becomes one [[OrCond]]
    * element of it.
    */
  private def parseWhere(p: P): Seq[Cond] = {
    val first = parseAndTerm(p)
    if (p.peek.exists { case TIdent(s) => s.equalsIgnoreCase("OR"); case _ => false }) {
      val branches = Seq.newBuilder[Seq[Cond]]
      branches += first
      while (p.kw("OR")) branches += parseAndTerm(p)
      Seq(OrCond(branches.result()))
    } else first
  }

  private def parseAndTerm(p: P): Seq[Cond] = {
    val out = Seq.newBuilder[Cond]
    out ++= parseFactor(p)
    while (p.kw("AND")) out ++= parseFactor(p)
    out.result()
  }

  private def parseFactor(p: P): Seq[Cond] =
    if (p.sym("(")) {
      val inner = parseWhere(p)
      p.expectSym(")")
      inner
    } else Seq(parseCond(p))

  private def parseCond(p: P): Cond = {
    val lhs = p.ident()
    if (lhs.equalsIgnoreCase("time")) {
      val op = p.next() match {
        case TSym(s) if Set("<", "<=", ">", ">=").contains(s) => s
        case t => p.fail(s"expected comparison after time, got '${t.raw}'")
      }
      val us = p.next() match {
        case TNum(v, raw) if v == math.floor(v) => v.toLong
        // duration-style epoch literal (InfluxDB's `time >= 1434059627s`):
        // the unit scales the epoch offset, already in µs here
        case TDur(d, _) => d
        case TStr(s, _) => parseIsoUs(s, p)
        case TIdent(s) if s.equalsIgnoreCase("now") =>
          // now() [± dur [± dur ...]] — the everyday InfluxQL time anchor;
          // the clock reads ONCE here, so both bounds of a
          // `time > now() - 1d AND time < now()` pair see the same instant
          p.expectSym("("); p.expectSym(")")
          var t = nowClockUs()
          var cont = true
          while (cont) {
            def dur(): Long = p.next() match {
              case TDur(d, _) => d
              case tk => p.fail(s"expected duration after now() ±, got '${tk.raw}'")
            }
            if (p.sym("-")) t -= dur()
            else if (p.sym("+")) t += dur()
            else cont = false
          }
          t
        case t => p.fail(s"expected time literal, got '${t.raw}'")
      }
      TimeCond(op, us)
    } else {
      val op = p.next() match {
        case TSym(s) if Set("=", "!=", "<>", "<", "<=", ">", ">=", "=~", "!~").contains(s) =>
          if (s == "<>") "!=" else s
        case t => p.fail(s"expected comparison after '$lhs', got '${t.raw}'")
      }
      if (op == "=~" || op == "!~") p.next() match {
        case TRegex(re, _) => TagRegexCond(lhs, op == "=~", re)
        case t => p.fail(s"expected /regex/ after $op, got '${t.raw}'")
      } else p.next() match {
        case TStr(s, _) =>
          if (op != "=" && op != "!=")
            p.fail(s"tag '$lhs' only supports = and != (got $op)")
          TagCond(lhs, op == "=", s)
        case TNum(v, _) => FieldCond(lhs, op, v)
        case TSym("-") => FieldCond(lhs, op, -p.num())
        case t => p.fail(s"expected tag string or field number, got '${t.raw}'")
      }
    }
  }

  private def parseIsoUs(s: String, p: P): Long =
    try {
      val instant =
        if (s.contains("T")) java.time.Instant.parse(if (s.endsWith("Z")) s else s + "Z")
        else java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      instant.getEpochSecond * 1000000L + instant.getNano / 1000L
    } catch {
      case _: java.time.format.DateTimeParseException =>
        p.fail(s"bad time literal '$s' (ISO-8601 or epoch microseconds)")
    }

  /** Selector-companion detection (InfluxDB 1.8): a SINGLE bare selector
    * call — top/bottom/sample or the rank-1 family — beside one or more
    * raw references returns the SELECTED points' companion values. Answers
    * (selector item, companion items) when the SELECT has that shape;
    * validate() then pins the companions to bare refs.
    */
  private[influxql] def selectorCompanion(q: Query): Option[(Item, Seq[Item])] = {
    val (callItems, rawItems) = q.fields.partition(_.isAgg)
    if (rawItems.isEmpty || callItems.size != 1) None
    else callItems.head.bareCall match {
      case Some(f) if f.transform.isEmpty &&
          (PointSelectorFuncs.contains(f.func) ||
            TopBottomFuncs.contains(f.func) || f.func == "sample") =>
        Some((callItems.head, rawItems))
      case _ => None
    }
  }

  private def validate(q: Query): Unit = {
    if (q.fields.isEmpty && !q.selectStar)
      throw new IllegalArgumentException("InfluxQL: empty SELECT")
    q.fields.foreach { it =>
      if (it.calls.nonEmpty && it.refs.nonEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: cannot mix aggregated and raw fields in one expression")
    }
    if (q.fields.exists(_.calls.exists(_.func == ElapsedFunc)) && q.fields.size > 1)
      throw new IllegalArgumentException(
        "InfluxQL: elapsed() must be the only SELECT field")
    val aggs = q.fields.count(_.isAgg)
    val comp = selectorCompanion(q)
    if (aggs > 0 && q.fields.exists(it => it.refs.nonEmpty && it.calls.isEmpty)
        && comp.isEmpty)
      throw new IllegalArgumentException(
        "InfluxQL: cannot mix aggregated and raw fields in one SELECT — " +
          "only a single bare selector (top/bottom/max/min/first/last/" +
          "percentile/sample) takes companion columns")
    comp.foreach { case (sel, comps) =>
      comps.foreach { it =>
        it.expr match {
          case FRef(_) => ()
          case _ => throw new IllegalArgumentException(
            "InfluxQL: companion columns beside a selector must be bare " +
              "field or tag references")
        }
      }
      // seed with the selector's own output name and fold each companion in
      // as it is checked, so `SELECT max(value), load AS max` and duplicate
      // companion aliases get THIS error, not a downstream
      // ambiguous-column AnalysisException from the tie-sort
      var taken = Set("time") ++ q.groupTags ++ sel.bareCall.get.tagKeys + sel.outName
      comps.map(_.outName).foreach { n =>
        if (taken.contains(n))
          throw new IllegalArgumentException(
            s"InfluxQL: companion column $n collides with an output column — " +
              "alias it with AS")
        taken += n
      }
      if (q.groupTimeUs.nonEmpty && q.fillExplicit)
        throw new IllegalArgumentException(
          "InfluxQL: selector companions return point values — fill() " +
            "does not apply")
    }
    if (aggs == 0 && q.groupTimeUs.nonEmpty)
      throw new IllegalArgumentException("InfluxQL: GROUP BY time() needs aggregated fields")
    if (aggs == 0 && (q.groupTags.nonEmpty || q.groupStar))
      throw new IllegalArgumentException("InfluxQL: GROUP BY needs aggregated fields")
    val dup = q.fields.groupBy(_.outName).collect { case (n, fs) if fs.size > 1 => n }
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"InfluxQL: duplicate output columns ${dup.mkString(", ")} — alias with AS")
    if (q.fill != FillNull && q.groupTimeUs.isEmpty)
      throw new IllegalArgumentException("InfluxQL: FILL() requires GROUP BY time()")
    if ((q.slimit.nonEmpty || q.soffset.nonEmpty) &&
        !(q.fields.exists(_.isAgg) && (q.groupTags.nonEmpty || q.groupStar || q.fromRegex)))
      throw new IllegalArgumentException(
        "InfluxQL: SLIMIT/SOFFSET select series — they need GROUP BY tags (or *)")
    val (rawT, aggT) = q.fields.flatMap(_.calls).filter(_.transform.nonEmpty)
      .partition(_.func == RawOperand)
    if (aggT.nonEmpty && q.groupTimeUs.isEmpty)
      throw new IllegalArgumentException(
        "InfluxQL: transformations over aggregates need GROUP BY time() — they run over the bucket series")
    if (rawT.nonEmpty) {
      if (q.groupTimeUs.nonEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: GROUP BY time() transformations take an aggregate argument (e.g. derivative(mean(value), 1h))")
      if (q.fields.exists(_.calls.exists(f => f.transform.isEmpty || f.func != RawOperand)))
        throw new IllegalArgumentException(
          "InfluxQL: cannot mix raw-series transformations with aggregates in one SELECT")
    }
    for (fn <- Seq("sample", "distinct")) {
      if (q.fields.exists(_.calls.exists(_.func == fn))) {
        // sample is a selector: companion refs beside it are legal (they
        // ride the sampled rows); distinct has no source point to companion
        val soleOrCompanion = (fn == "sample" && comp.nonEmpty) ||
          (q.fields.size == 1 && q.fields.head.bareCall.nonEmpty)
        if (!soleOrCompanion)
          throw new IllegalArgumentException(
            s"InfluxQL: $fn() must be the only SELECT field — it returns points, not a value")
        if (q.groupTimeUs.nonEmpty)
          throw new IllegalArgumentException(
            s"InfluxQL: $fn() does not combine with GROUP BY time()")
      }
    }
    if (q.tz.nonEmpty) {
      if (q.groupTimeUs.isEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: tz() shifts GROUP BY time() buckets — it needs a time() grouping")
      if (q.fields.exists(_.calls.exists(_.transform.exists(_.startsWith("holt_winters")))))
        throw new IllegalArgumentException(
          "InfluxQL: tz() does not combine with holt_winters() — forecast steps are bucket-uniform")
    }
    if (q.fields.exists(_.calls.exists(f => TopBottomFuncs.contains(f.func)))) {
      if (comp.isEmpty && (q.fields.size > 1 || q.fields.head.bareCall.isEmpty))
        throw new IllegalArgumentException(
          "InfluxQL: top()/bottom() must be the only SELECT field (or take " +
            "companion references) — it returns points, not a value")
      // GROUP BY time(d) IS legal (InfluxDB 1.8): the N extremes pick per
      // bucket and rows keep their original point timestamps, so fill()
      // has no bucket rows to densify — reject an explicit fill loudly
      // rather than silently ignoring it
      if (q.groupTimeUs.nonEmpty && q.fillExplicit)
        throw new IllegalArgumentException(
          "InfluxQL: top()/bottom() returns original points — fill() does not apply")
    }
    if (q.fields.exists(_.calls.exists(_.transform.exists(_.startsWith("holt_winters")))) &&
        (q.fields.size > 1 || q.fields.head.bareCall.isEmpty))
      throw new IllegalArgumentException(
        "InfluxQL: holt_winters() must be the only SELECT field — it returns forecast points")
    if (q.fields.exists(_.calls.exists(_.func == ElapsedFunc))) {
      if (q.fields.size > 1 || q.fields.head.bareCall.isEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: elapsed() must be the only SELECT field")
      if (q.groupTimeUs.nonEmpty || q.groupTags.nonEmpty || q.groupStar)
        throw new IllegalArgumentException(
          "InfluxQL: elapsed() is a raw transformation — GROUP BY does not apply")
    }
  }

  // ---------- planner ----------

  /** Plan `text` over `points` — the narrow layout with a `transducer`
    * column (the measurement), a `ts_us` long column (event time), tag
    * columns, and the value fields the query references. Dispatches
    * SELECT statements to the query planner and SHOW statements to the
    * metadata planner.
    */
  def run(points: DataFrame, text: String): DataFrame =
    if (text.trim.toUpperCase.startsWith("SHOW")) planShow(points, text)
    else if (text.trim.toUpperCase.startsWith("EXPLAIN ")) {
      // whitespace-tolerant keyword handling, same drop+trim shape as the
      // catalog's routing — "EXPLAIN  ANALYZE" (tabs, doubled spaces) must
      // not fall through to a confusing parse error on "ANALYZE ..."
      val body = text.trim.drop("EXPLAIN".length).trim
      if (body.toUpperCase.startsWith("ANALYZE")) {
        // InfluxDB 1.x's EXPLAIN ANALYZE: actually run the query, then
        // render the final plan with observed execution metrics
        explainAnalyze(run(points, body.drop("ANALYZE".length).trim))
      } else {
        // InfluxDB's EXPLAIN, answered with the real physical plan: one
        // row per line of Spark's formatted explain — the user sees the
        // pushed filters, broadcasts, and codegen spans their query gets
        val inner = run(points, body)
        val lines = inner.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
          .split("\n").toList
        import org.apache.spark.sql.Encoders
        points.sparkSession.createDataset(lines)(Encoders.STRING).toDF("plan")
      }
    } else {
      val q = parse(text)
      if (q.into.nonEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: SELECT ... INTO writes a table — use runInto")
      if (q.fromDb.nonEmpty)
        throw new IllegalArgumentException(
          "InfluxQL: a database-qualified FROM routes between databases — " +
            "run it through an InfluxCatalog")
      planResolved(points, q)
    }

  /** `EXPLAIN ANALYZE` body (InfluxDB 1.x's run-and-report variant,
    * stood in by Spark's executed-plan metrics): execute the plan
    * executor-side — `toRdd.foreach` consumes every row where it was
    * produced, rows never reach the driver — then walk the FINAL physical
    * plan (through AQE's materialized stages and reused exchanges) and
    * render one line per operator with its observed SQLMetric values, the
    * Spark analogue of InfluxDB's per-iterator stats. One `plan` string
    * column, like EXPLAIN.
    */
  private[influxql] def explainAnalyze(inner: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val t0 = System.nanoTime()
    inner.queryExecution.toRdd.foreach(_ => ())
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val out = List.newBuilder[String]
    out += s"execution: wall_ms=$wallMs"
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      out += ("  " * depth + p.nodeName + (if (ms.nonEmpty) s" [$ms]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case s: QueryStageExec => walk(s.plan, depth + 1)
        case r: ReusedExchangeExec => walk(r.child, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(inner.queryExecution.executedPlan, 0)
    import org.apache.spark.sql.Encoders
    inner.sparkSession.createDataset(out.result())(Encoders.STRING).toDF("plan")
  }

  /** Recursive planning entry: a subquery FROM plans the inner SELECT and
    * re-shapes its output into the points layout the outer query expects —
    * `time` becomes the event time, and the series key is a synthetic
    * constant measurement. The constant routes through a `when()` on a
    * real attribute so FoldablePropagation cannot fold it out of the
    * fill/transform windows' partitionBy (the zero-unpartitioned-windows
    * pin holds for subquery plans too).
    */
  private[influxql] def planResolved(points: DataFrame, q: Query): DataFrame = q.fromSub match {
    case Some(sub) =>
      val adapted = planResolved(points, sub)
        .withColumnRenamed("time", "ts_us")
        .withColumn("transducer",
          when(col("ts_us").isNotNull, lit("(subquery)")).otherwise(lit("(subquery)")))
      plan(adapted, resolve(adapted, q))
    case None => plan(points, resolve(points, q))
  }

  /** `SELECT ... INTO target`: plan the query and append its result to the
    * [[graft.storage.TxLogTable]] at `root/<target>` — the batch half of
    * the InfluxDB downsample-and-store contract (the streaming half is
    * [[runContinuous]]). Returns one (target table, committed version) pair
    * per table written: a named INTO and a plain-FROM `:MEASUREMENT`
    * backreference commit exactly one; a regex-FROM backreference splits
    * the result by its `measurement` column into one append per source
    * measurement (the InfluxDB downsample-everything idiom), one pair each
    * — the fan-out count is the sequence length, never conflated with a
    * version. Reruns append again, exactly like re-issuing the InfluxDB
    * statement. The regex driver loop runs over the DISTINCT measurement
    * names, a control-plane-bounded set, with the planned result persisted
    * once.
    */
  def runInto(points: DataFrame, text: String, root: String,
              refuseTarget: String => Unit = _ => ()): Seq[(String, Long)] = {
    val q = parse(text)
    val target = q.into.getOrElse(throw new IllegalArgumentException(
      "InfluxQL: runInto needs a SELECT ... INTO statement"))
    def table(name: String) = {
      // the catalog's guard: a name reserved by a continuous query refuses
      // BEFORE any append — an external INTO would break the CQ fill's
      // dense-grid sole-writer invariant
      refuseTarget(name)
      val t = new graft.storage.TxLogTable(points.sparkSession, s"$root/$name")
      // a merge-maintained table (e.g. a dropped CQ's target) holds one
      // row per (time, tags) key; an INTO append would duplicate keys the
      // storage layer is contracted to keep unique — refuse as a clean
      // statement error, not the storage layer's internal refusal
      t.clusteredOn.foreach(rc => throw new IllegalArgumentException(
        s"InfluxQL: measurement $name is merge-maintained (range-clustered " +
          s"on $rc); INTO cannot append into it — choose a fresh target"))
      t
    }
    if (target != ":MEASUREMENT")
      return Seq(target -> table(target).append(planResolved(points, q)))
    if (!q.fromRegex)
      return Seq(q.measurement -> table(q.measurement).append(planResolved(points, q)))
    val res = planResolved(points, q).persist()
    try {
      val names = res.select("measurement").distinct()
        .collect().map(_.getString(0)).sorted
      // refuse EVERY backreference target before appending ANY (the
      // multi-statement pre-authorize discipline): a refusal on name N
      // must not leave targets 0..N-1 committed behind a failed statement
      // — both the CQ-reservation gate and the merge-maintained gate
      names.foreach { m =>
        refuseTarget(m)
        new graft.storage.TxLogTable(points.sparkSession, s"$root/$m")
          .clusteredOn.foreach(rc => throw new IllegalArgumentException(
            s"InfluxQL: measurement $m is merge-maintained (range-clustered " +
              s"on $rc); INTO cannot append into it — choose a fresh target"))
      }
      names.toSeq.map { m =>
        m -> table(m).append(res.filter(col("measurement") === m).drop("measurement"))
      }
    } finally res.unpersist()
  }

  /** `DELETE FROM <measurement|/regex/> [WHERE ...]`,
    * `DROP MEASUREMENT <m>` and
    * `DROP SERIES [FROM <measurement|/regex/>] [WHERE <tag conds>]` — the
    * InfluxDB data-management statements, committed as row-level deletes on
    * the ACID points table (one rewrite commit; time travel keeps every
    * pre-delete version readable, the engine's audit answer to a
    * destructive statement). InfluxDB likewise restricts DELETE predicates
    * to time bounds and tag equality — field conditions are rejected — and
    * DROP SERIES further rejects time intervals (its WHERE clause selects
    * whole series, so only tag conditions are legal; reference
    * `influx_service.py` manages series lifecycle this way via the InfluxDB
    * admin API). Returns the committed version.
    */
  /** The measurement a DROP MEASUREMENT statement names — tokenizer-exact
    * (the same ident rules [[runDelete]] applies, so a quoted name with
    * spaces resolves identically); None for the other delete forms.
    */
  def dropMeasurementName(text: String): Option[String] = {
    val p = new P(tokenize(text))
    if (p.kw("DROP") && p.kw("MEASUREMENT")) Some(p.ident()) else None
  }

  def runDelete(table: graft.storage.TxLogTable, text: String): Long = {
    val p = new P(tokenize(text))
    if (p.kw("DROP")) {
      if (p.kw("SERIES")) {
        // DROP SERIES deletes every point of the matched series. InfluxDB
        // requires at least one of FROM / WHERE (a bare DROP SERIES would
        // wipe the database and is rejected there too).
        val from: Option[Column] = if (p.kw("FROM")) Some(p.peek match {
          case Some(TRegex(re, _)) => p.next(); col("transducer").rlike(re)
          case _ => col("transducer") === p.ident()
        }) else None
        val conds = if (p.kw("WHERE")) parseWhere(p) else Nil
        if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
        if (from.isEmpty && conds.isEmpty) p.fail(
          "DROP SERIES needs FROM <measurement> and/or WHERE <tag conditions>")
        def tagsOnly(c: Cond): Unit = c match {
          case TimeCond(_, _) => throw new IllegalArgumentException(
            "InfluxQL DROP SERIES: time intervals are not supported in the WHERE clause")
          case FieldCond(f, _, _) => throw new IllegalArgumentException(
            s"InfluxQL DROP SERIES: only tag conditions are supported (got field '$f')")
          case OrCond(bs) => bs.foreach(_.foreach(tagsOnly))
          case _ => ()
        }
        conds.foreach(tagsOnly)
        val pred = (from.toSeq ++ conds.map(condColumn)).reduce(_ && _)
        return table.delete(pred)
      }
      p.expectKw("MEASUREMENT")
      val m = p.ident()
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return table.delete(col("transducer") === m)
    }
    p.expectKw("DELETE")
    p.expectKw("FROM")
    val from = p.peek match {
      case Some(TRegex(re, _)) => p.next(); col("transducer").rlike(re)
      case _ => col("transducer") === p.ident()
    }
    val conds = if (p.kw("WHERE")) parseWhere(p) else Nil
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    def noFields(c: Cond): Unit = c match {
      case FieldCond(f, _, _) => throw new IllegalArgumentException(
        s"InfluxQL DELETE: only time and tag conditions are supported (got field '$f')")
      case OrCond(bs) => bs.foreach(_.foreach(noFields))
      case _ => ()
    }
    conds.foreach(noFields)
    table.delete(conds.map(condColumn).foldLeft(from)(_ && _))
  }

  /** Retention-policy DDL — the statements that make expiry expressible in
    * the dialect instead of a Scala API call (the InfluxDB user's actual
    * interface to the engine's retention primitives):
    *
    *   CREATE RETENTION POLICY <name> ON <db> DURATION <dur|INF>
    *     [REPLICATION <n>] [DEFAULT]
    *   ALTER  RETENTION POLICY <name> ON <db> [same clauses]
    *   DROP   RETENTION POLICY <name> ON <db>
    *   SHOW   RETENTION POLICIES [ON <db>]
    *
    * Policies persist in a [[graft.storage.TxLogTable]] at
    * `<root>/_retention_policies` — control-plane rows with the same ACID
    * history as the data they govern. DURATION INF stores -1 (never
    * expires); a finite duration must be >= 1h (InfluxDB's floor). DEFAULT
    * flips the db's previous default off in the same commit
    * (one-default-per-db). CREATE is an upsert (idempotent re-issue, like
    * re-running any of this engine's DDL). Every statement returns the
    * affected db's policies in SHOW shape:
    * (db, name, duration_us, replica_n, is_default) ordered by name.
    *
    * Enforcement is a separate, schedulable step — [[retentionCutoffUs]]
    * feeds [[graft.storage.TxLogTable.expireOlderThan]] (×1000 for the ns
    * point store) or day-floors into
    * [[graft.storage.PointStore.expirePartitionsBefore]]; or call
    * [[enforceRetention]] for the one-line form.
    */
  def runRetention(spark: org.apache.spark.sql.SparkSession, text: String,
                   root: String, requireDb: String => Unit = null): DataFrame = {
    import spark.implicits._
    val table = new graft.storage.TxLogTable(spark, s"$root/_retention_policies")
    def policies(): DataFrame =
      if (table.version.isEmpty)
        Seq.empty[(String, String, Long, Long, Boolean)]
          .toDF("db", "name", "duration_us", "replica_n", "is_default")
      else table.read()
    def show(db: Option[String]): DataFrame = {
      val all = policies()
      db.map(d => all.filter(col("db") === d)).getOrElse(all)
        .select("db", "name", "duration_us", "replica_n", "is_default")
        .orderBy("db", "name")
    }
    val p = new P(tokenize(text))
    if (p.kw("SHOW")) {
      p.expectKw("RETENTION"); p.expectKw("POLICIES")
      val db = if (p.kw("ON")) Some(p.ident()) else None
      if (requireDb != null) db.foreach(requireDb)
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return show(db)
    }
    val alter = p.kw("ALTER")
    val create = !alter && p.kw("CREATE")
    val drop = !alter && !create && p.kw("DROP")
    if (!(alter || create || drop))
      p.fail("expected CREATE, ALTER, DROP or SHOW RETENTION ...")
    p.expectKw("RETENTION"); p.expectKw("POLICY")
    val name = p.next() match {
      case TIdent(s) => s
      case TStr(s, _) => s
      case t => p.fail(s"expected policy name, got '${t.raw}'")
    }
    p.expectKw("ON")
    val db = p.ident()
    if (requireDb != null) requireDb(db)
    if (drop) {
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      if (table.version.nonEmpty)
        table.delete(col("db") === db && col("name") === name)
      return show(Some(db))
    }
    var dur: Option[Long] = None
    var repl = 1L
    var dflt = false
    var progressed = true
    while (progressed && !p.done) {
      if (p.kw("DURATION")) dur = Some(p.peek match {
        case Some(TDur(us, _)) => p.next(); us
        case Some(TIdent(s)) if s.equalsIgnoreCase("INF") => p.next(); -1L
        case t => p.fail(s"expected duration or INF, got '${t.map(_.raw).getOrElse("<end>")}'")
      })
      else if (p.kw("REPLICATION")) repl = p.num().toLong
      else if (p.kw("DEFAULT")) dflt = true
      else progressed = false
    }
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    val durUs = dur.getOrElse(
      p.fail(s"${if (alter) "ALTER" else "CREATE"} RETENTION POLICY needs DURATION"))
    require(durUs == -1L || durUs >= 3600000000L,
      "InfluxQL: retention DURATION must be >= 1h or INF")
    val newRow = Seq((db, name, durUs, repl, dflt))
      .toDF("db", "name", "duration_us", "replica_n", "is_default")
    val updates =
      if (dflt && table.version.nonEmpty) {
        // one default per db: the previous default flips off IN THE SAME
        // merge commit — no window where the db has two defaults
        val prior = table.read()
          .filter(col("db") === db && col("is_default") && col("name") =!= name)
          .withColumn("is_default", lit(false))
        newRow.unionByName(prior)
      } else newRow
    table.merge(updates, Seq("db", "name"))
    show(Some(db))
  }

  /** The expiry cutoff (µs since epoch) the db's DEFAULT retention policy
    * implies at `nowUs`: `now - duration`. None when the db has no default
    * policy or its duration is INF.
    */
  def retentionCutoffUs(spark: org.apache.spark.sql.SparkSession, root: String,
                        db: String, nowUs: Long): Option[Long] = {
    val table = new graft.storage.TxLogTable(spark, s"$root/_retention_policies")
    if (table.version.isEmpty) return None
    table.read().filter(col("db") === db && col("is_default"))
      .select("duration_us").collect().headOption
      .map(_.getLong(0)).filter(_ >= 0L).map(nowUs - _)
  }

  /** Apply the db's default retention policy to an ACID points table: one
    * [[graft.storage.TxLogTable.expireOlderThan]] commit at the policy
    * cutoff. `usToCol` converts the cutoff to the retention column's unit
    * (pass `_ * 1000` for the nanosecond point store). Returns the
    * committed version; None when the db has no finite default policy.
    */
  def enforceRetention(spark: org.apache.spark.sql.SparkSession,
                       table: graft.storage.TxLogTable, tsCol: String,
                       root: String, db: String, nowUs: Long,
                       usToCol: Long => Long = identity): Option[Long] =
    retentionCutoffUs(spark, root, db, nowUs)
      .map(c => table.expireOlderThan(tsCol, usToCol(c)))

  /** Post-parse resolution against the points schema: `GROUP BY *` expands
    * to the tag columns; a regex FROM groups per measurement (InfluxDB
    * keeps matching measurements as separate series), so `transducer`
    * joins the grouping keys and surfaces as a `measurement` column.
    */
  private def resolve(points: DataFrame, q0: Query): Query = {
    // SELECT *: every non-reserved column (tags AND fields), name order —
    // InfluxDB's expansion; raw projection only (aggregates name fields)
    val qs =
      if (q0.selectStar)
        q0.copy(fields = points.columns.toSeq
          .filterNot(Reserved.contains).sorted.map(c => Item(FRef(c), None)))
      else q0
    // unknown names fail HERE with the schema in hand, not as Spark
    // analysis errors naming internal columns deep in the plan
    val known = points.columns.toSet
    def condNames(c: Cond): Seq[String] = c match {
      case TagCond(t, _, _) => Seq(t)
      case TagRegexCond(t, _, _) => Seq(t)
      case FieldCond(f, _, _) => Seq(f)
      case OrCond(bs) => bs.flatten.flatMap(condNames)
      case _ => Nil
    }
    val referenced =
      qs.fields.flatMap(it => it.refs ++ it.calls.map(_.arg) ++
        it.calls.flatMap(_.tagKeys)) ++
        qs.conds.flatMap(condNames) ++ qs.groupTags
    referenced.distinct.filterNot(known.contains) match {
      case Nil => ()
      case bad => throw new IllegalArgumentException(
        s"InfluxQL: unknown field or tag ${bad.mkString("'", "', '", "'")} " +
          s"(available: ${known.toSeq.filterNot(Reserved.contains).sorted.mkString(", ")})")
    }
    val q1 = if (qs.groupStar) qs.copy(groupTags = tagColumns(points)) else qs
    if (q1.fromRegex && q1.fields.exists(_.isAgg))
      q1.copy(groupTags = "transducer" +: q1.groupTags)
    else q1
  }

  /** The reserved (non-tag, non-field) columns of the points layout. */
  private val Reserved = Set("transducer", "ts_us", "ts_ns", "ts")

  /** Tag columns: string-typed and not reserved (`GROUP BY *` expands to
    * these, in name order for deterministic output).
    */
  def tagColumns(points: DataFrame): Seq[String] =
    points.schema.fields
      .filter(f => !Reserved.contains(f.name) &&
        f.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq.sorted

  /** SHOW metadata statements — the discovery half of the dialect
    * (InfluxDB clients issue these before any SELECT): MEASUREMENTS and
    * TAG VALUES are distinct-scans (one partial+final aggregate);
    * TAG KEYS / FIELD KEYS answer from the schema alone, no scan at all;
    * the CARDINALITY forms reduce to a single count (exact, InfluxDB's
    * `EXACT` semantics — a one-row partial+final countDistinct, no
    * sketch); list-shaped statements take LIMIT/OFFSET paging over their
    * deterministic order.
    */
  def planShow(points0: => DataFrame, text: String,
               pointsFor: String => DataFrame = null): DataFrame = {
    val p = new P(tokenize(text))
    // The default points resolve LAZILY: `SHOW ... ON <db>` must work even
    // when the session's default database does not exist (InfluxDB has no
    // server-side default-db coupling — found by the 3x-scale seeded
    // db-DDL differential: drop the default db, then SHOW ON a live one)
    var routed: Option[DataFrame] = None
    def points: DataFrame = {
      if (routed.isEmpty) routed = Some(points0)
      routed.get
    }
    def spark = points.sparkSession
    // `ON <db>` (InfluxDB's database clause on every SHOW statement):
    // re-route the statement to that database's points — only meaningful
    // when a catalog supplies the router
    def onDb(): Unit = if (p.kw("ON")) {
      val d = p.ident()
      if (pointsFor == null)
        p.fail(s"ON $d names a database — run this through an InfluxCatalog")
      routed = Some(pointsFor(d))
    }
    // `FROM m | /re/` (InfluxDB's per-measurement SHOW filter): restricts
    // the scanned points; statements that otherwise answer from the schema
    // alone (TAG KEYS / FIELD KEYS) switch to a presence scan under FROM
    var fromCond: Option[Column] = None
    def fromClause(): Unit = if (p.kw("FROM")) {
      fromCond = Some(p.next() match {
        case TIdent(m) => col("transducer") === m
        case TStr(m, _) => col("transducer") === m
        case TRegex(re, _) => col("transducer").rlike(re)
        case t => p.fail(s"expected measurement or /regex/, got '${t.raw}'")
      })
    }
    /** `WHERE` on SHOW statements (InfluxDB's meta-query filter): tag
      * =/!=/=~/!~ trees (OR/parens) everywhere, `time` bounds only on the
      * scan-backed statements (SERIES / TAG KEYS / TAG VALUES — InfluxDB
      * rejects time on SHOW MEASUREMENTS), field predicates always
      * rejected (meta queries never read field values). Unknown tag names
      * fail loudly like the rest of the resolver.
      */
    var whereCond: Option[Column] = None
    def whereClause(allowTime: Boolean = true): Unit = if (p.kw("WHERE")) {
      val conds = parseWhere(p)
      val tags = tagColumns(points).toSet
      def check(c: Cond): Unit = c match {
        case FieldCond(f, _, _) =>
          p.fail(s"SHOW WHERE supports tag and time predicates only, not field '$f'")
        case TimeCond(_, _) if !allowTime =>
          p.fail("this SHOW statement does not support time in WHERE")
        case TagCond(t, _, _) if !tags.contains(t) => p.fail(s"unknown tag '$t'")
        case TagRegexCond(t, _, _) if !tags.contains(t) => p.fail(s"unknown tag '$t'")
        case OrCond(bs) => bs.foreach(_.foreach(check))
        case _ => ()
      }
      conds.foreach(check)
      whereCond = Some(conds.map(condColumn).reduce(_ && _))
    }
    def scanPoints: DataFrame =
      Seq(fromCond, whereCond).flatten.foldLeft(points)(_ filter _)
    // FROM or WHERE both demote schema-answered statements to a scan
    def scoped: Boolean = fromCond.nonEmpty || whereCond.nonEmpty
    import org.apache.spark.sql.Encoders
    def paged(df: DataFrame): DataFrame = {
      // LIMIT/OFFSET over the statement's own deterministic ORDER BY
      val lim = if (p.kw("LIMIT")) Some(p.num().toInt) else None
      val off = if (p.kw("OFFSET")) Some(p.num().toInt) else None
      val d = off.map(df.offset).getOrElse(df)
      lim.map(d.limit).getOrElse(d)
    }
    def finish(df: DataFrame): DataFrame = {
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      df
    }
    def count1(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("count"))
    // InfluxDB's `[EXACT] CARDINALITY`: every cardinality here IS exact
    // (one countDistinct, no sketch), so EXACT is accepted and a lone
    // EXACT without CARDINALITY is loud
    def expectCard(): Unit = { p.kw("EXACT"); p.expectKw("CARDINALITY") }
    def optCard(): Boolean = {
      val e = p.kw("EXACT")
      val c = p.kw("CARDINALITY")
      if (e && !c) p.fail("expected CARDINALITY after EXACT")
      c
    }
    def seriesKeys: DataFrame = scanPoints.select(concat_ws(",",
      col("transducer") +: tagColumns(points).map(t =>
        concat(lit(t + "="), col(t))): _*).as("key")).distinct()
    /** `WITH KEY = k | != k | =~ /re/ | !~ /re/ | IN (k1, k2, ...)` — the
      * full InfluxDB key-selector grammar. Named keys must exist (loud,
      * like the rest of the resolver); regex forms FILTER the key list and
      * may legitimately select nothing. Key-name regexes match unanchored,
      * the same rlike semantics as tag-value regex predicates.
      */
    def tagKeys(): Seq[String] = {
      p.expectKw("WITH"); p.expectKw("KEY")
      val all = tagColumns(points)
      def one(): String = p.next() match {
        case TIdent(s) => s
        case TStr(s, _) => s
        case t => p.fail(s"expected tag key, got '${t.raw}'")
      }
      def knownOne(): String = {
        val k = one()
        if (!all.contains(k)) p.fail(s"unknown tag key '$k'")
        k
      }
      def re(): java.util.regex.Pattern = p.next() match {
        case TRegex(r, _) => java.util.regex.Pattern.compile(r)
        case t => p.fail(s"expected /regex/, got '${t.raw}'")
      }
      if (p.sym("=~")) { val r = re(); all.filter(k => r.matcher(k).find()) }
      else if (p.sym("!~")) { val r = re(); all.filterNot(k => r.matcher(k).find()) }
      else if (p.sym("!=")) { val k = knownOne(); all.filterNot(_ == k) }
      else if (p.sym("=")) Seq(knownOne())
      else if (p.kw("IN")) {
        p.expectSym("(")
        val ks = Seq.newBuilder[String]
        ks += knownOne()
        while (p.sym(",")) ks += knownOne()
        p.expectSym(")")
        ks.result().distinct
      }
      else p.fail("expected =, !=, =~, !~ or IN after WITH KEY")
    }
    /** The selected keys' (key, value) pairs stacked in ONE scan (explode
      * of a per-row struct array, never a per-key rescan), null tag values
      * dropped per InfluxDB, distinct.
      */
    def tagKeyValues(ks: Seq[String]): DataFrame = {
      if (ks.isEmpty)
        return spark.createDataset(List.empty[(String, String)])(
          Encoders.tuple(Encoders.STRING, Encoders.STRING)).toDF("key", "value")
      scanPoints.select(explode(array(ks.map(k =>
          struct(lit(k).as("key"), col(k).as("value"))): _*)).as("kv"))
        .select(col("kv.key").as("key"), col("kv.value").as("value"))
        .filter(col("value").isNotNull).distinct()
    }
    /** Under a FROM filter, TAG/FIELD KEYS switch from schema-answered to
      * a presence scan: a key exists on a measurement iff some scanned row
      * carries a non-null value for it — one single-row aggregate, the
      * boolean collect is control-plane-bounded (one flag per column).
      */
    def presentKeys(ks: Seq[String]): Seq[String] = {
      if (ks.isEmpty) return Nil
      val row = scanPoints.agg(
        max(col(ks.head).isNotNull).as(ks.head),
        ks.tail.map(k => max(col(k).isNotNull).as(k)): _*).collect()(0)
      ks.zipWithIndex.filter { case (_, i) => !row.isNullAt(i) && row.getBoolean(i) }
        .map(_._1)
    }
    def fieldKeys = points.schema.fields
      .filter(f => !Reserved.contains(f.name) &&
        f.dataType != org.apache.spark.sql.types.StringType)
      .map(f => (f.name, f.dataType.typeName)).toList.sorted
    p.expectKw("SHOW")
    if (p.kw("MEASUREMENTS")) {
      onDb()
      // WITH MEASUREMENT =~ /re/ (or = m): InfluxDB's discovery filter
      val nameFilter: Option[Column] =
        if (p.kw("WITH")) {
          p.expectKw("MEASUREMENT")
          if (p.sym("=~")) p.next() match {
            case TRegex(re, _) => Some(col("name").rlike(re))
            case t => p.fail(s"expected /regex/ after =~, got '${t.raw}'")
          } else if (p.sym("=")) Some(col("name") === p.ident())
          else p.fail("expected = or =~ after WITH MEASUREMENT")
        } else None
      // WHERE keeps measurements with at least one matching row (tag
      // predicates only; InfluxDB rejects time here)
      whereClause(allowTime = false)
      val base = scanPoints.select(col("transducer").as("name")).distinct()
      finish(paged(nameFilter.map(base.filter).getOrElse(base)
        .orderBy(col("name"))))
    } else if (p.kw("MEASUREMENT")) {
      expectCard()
      onDb()
      whereClause(allowTime = false)
      finish(count1(scanPoints.select("transducer").distinct()))
    } else if (p.kw("SERIES")) {
      val card = optCard()
      onDb()
      fromClause()
      whereClause()
      if (card) finish(count1(seriesKeys))
      else finish(paged(seriesKeys.orderBy(col("key"))))
    } else if (p.kw("TAG")) {
      if (p.kw("KEYS")) {
        onDb()
        fromClause()
        whereClause()
        // schema-answered without FROM/WHERE (no scan); presence-scanned
        // under either
        val ks = if (!scoped) tagColumns(points)
          else presentKeys(tagColumns(points))
        finish(paged(spark.createDataset(ks.toList)(
          Encoders.STRING).toDF("tagKey").orderBy("tagKey")))
      } else if (p.kw("KEY")) {
        expectCard()
        onDb()
        fromClause()
        whereClause()
        val n = if (!scoped) tagColumns(points).size
          else presentKeys(tagColumns(points)).size
        finish(spark.createDataset(Seq(n.toLong))(
          Encoders.scalaLong).toDF("count"))
      } else if (p.kw("VALUES")) {
        // a NULL tag (series without that tag) is not a tag value: InfluxDB
        // neither lists it nor counts it toward cardinality
        if (optCard()) {
          onDb()
          fromClause()
          val ks = tagKeys()
          whereClause()
          // cardinality over the selected keys = distinct (key, value)
          // pairs, matching the list form's row count
          finish(count1(tagKeyValues(ks)))
        } else {
          onDb()
          fromClause()
          val ks = tagKeys()
          whereClause()
          finish(paged(tagKeyValues(ks)
            .orderBy(col("key"), col("value"))))
        }
      } else p.fail("expected KEYS, KEY CARDINALITY or VALUES after SHOW TAG")
    } else if (p.kw("FIELD")) {
      def scopedFieldKeys(): List[(String, String)] = {
        fromClause()
        if (!scoped) fieldKeys
        else {
          val present = presentKeys(fieldKeys.map(_._1)).toSet
          fieldKeys.filter(f => present.contains(f._1))
        }
      }
      if (p.kw("KEYS")) {
        onDb()
        finish(paged(spark.createDataset(scopedFieldKeys())(
          Encoders.tuple(Encoders.STRING, Encoders.STRING))
          .toDF("fieldKey", "fieldType").orderBy("fieldKey")))
      } else if (p.kw("KEY")) {
        expectCard()
        onDb()
        finish(spark.createDataset(Seq(scopedFieldKeys().size.toLong))(
          Encoders.scalaLong).toDF("count"))
      } else p.fail("expected KEYS or KEY CARDINALITY after SHOW FIELD")
    } else p.fail(
      "unsupported SHOW statement (MEASUREMENTS, SERIES, TAG KEYS, TAG VALUES, " +
        "FIELD KEYS, or their CARDINALITY forms)")
  }

  def plan(points: DataFrame, q: Query): DataFrame = {
    // a subquery source is already the selected row set — no FROM filter
    var df =
      if (q.fromSub.nonEmpty) points
      else points.filter(
        if (q.fromRegex) col("transducer").rlike(q.measurement)
        else col("transducer") === q.measurement)
    // regex FROM: per-measurement grouping key surfaces under its InfluxDB
    // result name (resolve() already added transducer to the group tags)
    def out(d: DataFrame): DataFrame =
      if (q.fromRegex) d.withColumnRenamed("transducer", "measurement") else d
    // `ts_us` is DERIVED (unix_micros over the timestamp), so a predicate on
    // it cannot reach the parquet scan. When the adapter also exposes the
    // events dual surface (`ts` TIMESTAMP / `ts_ns` LONG — Tables.events),
    // push the EQUIVALENT bound on BOTH alongside: whichever is the file's
    // physical column lands in PushedFilters and prunes row groups /
    // stats-indexed files (ts_us >= X <=> ts_ns >= X*1000 under floor-div
    // truncation, both non-negative; TimestampType is exactly µs so
    // ts <= X  <=>  ts < X+1µs). The ts_us predicate stays for exactness;
    // the raw twins are redundant, never wrong.
    val hasNs = points.columns.contains("ts_ns")
    val hasTs = points.columns.contains("ts")
    q.conds.foreach { c =>
      df = df.filter(condColumn(c))
      // only TOP-LEVEL time conjuncts get the raw-column twin: a bound
      // inside an OR branch doesn't restrict the scan unconditionally
      def twin(nsOp: Long => Column, tsOp: Long => Column, us: Long): Unit = {
        if (hasNs) df = df.filter(nsOp(us))
        if (hasTs) df = df.filter(tsOp(us))
      }
      c match {
        case TimeCond("<", us) =>
          twin(u => col("ts_ns") < u * 1000L, u => col("ts") < timestamp_micros(lit(u)), us)
        case TimeCond("<=", us) =>
          twin(u => col("ts_ns") < (u + 1) * 1000L, u => col("ts") < timestamp_micros(lit(u + 1)), us)
        case TimeCond(">", us) =>
          twin(u => col("ts_ns") >= (u + 1) * 1000L, u => col("ts") >= timestamp_micros(lit(u + 1)), us)
        case TimeCond(">=", us) =>
          twin(u => col("ts_ns") >= u * 1000L, u => col("ts") >= timestamp_micros(lit(u)), us)
        case _ => ()
      }
    }

    if (q.fields.exists(_.calls.exists(_.func == ElapsedFunc)))
      return planElapsed(df, q)
    if (q.fields.forall(!_.isAgg)) return planRaw(df, q)
    if (q.fields.exists(_.calls.exists(_.func == RawOperand)))
      return out(planRawTransform(df, q))
    if (q.fields.exists(_.calls.exists(f => TopBottomFuncs.contains(f.func))))
      return out(planTopBottom(df, q))
    if (q.fields.exists(_.calls.exists(_.func == "sample")))
      return out(planSample(df, q))
    if (q.fields.exists(_.calls.exists(_.func == "distinct")))
      return out(planDistinct(df, q))
    selectorCompanion(q) match {
      case Some((sel, comps)) if PointSelectorFuncs.contains(sel.bareCall.get.func) =>
        return out(planSelectorCompanion(df, q, sel, comps))
      case _ => ()
    }
    if (q.fields.exists(_.calls.exists(_.transform.exists(_.startsWith("holt_winters")))))
      return out(planHoltWinters(df, q))

    // each DISTINCT call computes once under an internal name; the final
    // projection compiles every item's expression over those columns (a
    // call shared by several expressions still aggregates once)
    val calls = q.fields.flatMap(_.calls).distinct
    val intName: Map[Field, String] =
      calls.zipWithIndex.map { case (f, i) => f -> s"__c$i" }.toMap
    val (modeFs, rest1) = calls.partition(_.func == "mode")
    val (integralFs, aggFs) = rest1.partition(_.func == "integral")
    val aggExprs = aggFs.map(f => aggExpr(f).as(intName(f)))
    def projectItems(d: DataFrame, head: Seq[Column]): DataFrame =
      d.select(head ++ q.fields.map(it =>
        compileItem(it.expr, f => col(intName(f))).as(it.outName)): _*)
    q.groupTimeUs match {
      case None =>
        val tagCols = q.groupTags.map(col)
        val base =
          if (aggFs.isEmpty) None
          else if (q.groupTags.isEmpty) {
            // InfluxDB answers EMPTY (no row) when no matching point
            // carries any queried field — a global count over zero points
            // is no rows, not one 0-row. A grouped aggregate gets this for
            // free (no input -> no groups); the GLOBAL Spark agg always
            // emits one row, so it carries a hidden presence count and
            // drops the row when every queried field was absent. (Found by
            // the 5x-scale seeded db-DDL differential: SELECT count(value)
            // against a measurement with no points.)
            val present = aggFs.map(f => count(col(f.arg))).reduce(_ + _)
            val guarded = aggExprs :+ present.as("__present")
            Some(df.agg(guarded.head, guarded.tail: _*)
              .filter(col("__present") > 0).drop("__present"))
          }
          else Some(df.groupBy(tagCols: _*).agg(aggExprs.head, aggExprs.tail: _*))
        val seriesCols = if (q.groupTags.isEmpty) Seq("transducer") else q.groupTags
        val withIntegrals = joinIntegrals(base,
          integralFs.map(f => f -> intName(f)), df, seriesCols, None, q.groupTags)
        val grouped = projectItems(
          joinModes(withIntegrals, modeFs.map(f => f -> intName(f)), df, tagCols, q.groupTags),
          q.groupTags.map(col))
        // LIMIT/OFFSET page over a pinned order (group tags asc) — an
        // unordered page would be nondeterministic across runs/engines
        val ordered =
          if (q.groupTags.isEmpty) grouped
          else grouped.orderBy(q.groupTags.map(col(_).asc): _*)
        out(applyRowRange(applySeriesLimit(ordered, q), q))
      case Some(step) =>
        // epoch-aligned bucket start (shifted by the time() offset), exact
        // integer arithmetic — pmod keeps it right even left of the offset.
        // With tz(), truncation happens in the zone's WALL clock (DST-aware:
        // a local midnight is a different instant either side of a
        // transition) and the bucket surfaces as the UTC instant of that
        // local bucket start — InfluxDB's rule.
        def bucketOf(c: Column): Column = q.tz match {
          case Some(zone) =>
            val wall = unix_micros(from_utc_timestamp(timestamp_micros(c), zone))
            val bWall = wall - pmod(wall - lit(q.groupTimeOffsetUs), lit(step))
            unix_micros(to_utc_timestamp(timestamp_micros(bWall), zone))
          case None =>
            c - pmod(c - lit(q.groupTimeOffsetUs), lit(step))
        }
        val bucket = bucketOf(col("ts_us")).as("time")
        // a TAGLESS query is still one series — keyed by its measurement.
        // Grouping and windowing on the real `transducer` attribute (constant
        // under the FROM filter, but an attribute Catalyst cannot fold) keeps
        // every fill/transform window partitioned; partitionBy(lit(..)) would
        // constant-fold straight back to the unpartitioned scale-killer the
        // plan audit pins to zero.
        val partCols = if (q.groupTags.isEmpty) Seq("transducer") else q.groupTags
        val keys = bucket +: partCols.map(col)
        val base =
          if (aggFs.isEmpty) None
          else Some(df.groupBy(keys: _*).agg(aggExprs.head, aggExprs.tail: _*))
        val withIntegrals = joinIntegrals(base,
          integralFs.map(f => f -> intName(f)), df, partCols,
          Some(bucketOf _), "time" +: partCols)
        val grouped = joinModes(withIntegrals, modeFs.map(f => f -> intName(f)), df,
          keys, "time" +: partCols)
        // fills and transforms act on the CALL columns (per-aggregate, the
        // pinned sequencing: fill feeds LOCF'd values into a derivative);
        // expression arithmetic happens after, in the final projection
        val filled = applyTransforms(
          applyFill(grouped, q, step, partCols, calls.map(intName)),
          q, partCols, intName)
        // explicit output shape: time, tags, fields in declaration order
        // (also drops the synthetic transducer series key of tagless queries)
        val projected = projectItems(filled, col("time") +: q.groupTags.map(col))
        val ordered = applySeriesLimit(projected, q).orderBy(
          (if (q.timeDesc) col("time").desc else col("time").asc) +:
            q.groupTags.map(col(_).asc): _*)
        out(applyRowRange(ordered, q))
    }
  }

  /** SLIMIT/SOFFSET keep a contiguous run of SERIES in tag order. The
    * selector is a distinct over the tag columns → TakeOrderedAndProject
    * (bounded by the series count, small by definition) → broadcast
    * left-semi join back onto the result — never a window over the full
    * output, which would single-partition it.
    */
  private def applySeriesLimit(df: DataFrame, q: Query): DataFrame = {
    if (q.slimit.isEmpty && q.soffset.isEmpty) return df
    val keys = q.groupTags
    var sel = df.select(keys.map(col): _*).distinct()
      .orderBy(keys.map(col(_).asc): _*)
    q.soffset.foreach(n => sel = sel.offset(n))
    q.slimit.foreach(n => sel = sel.limit(n))
    // a USING-columns join fronts the keys; restore the output shape
    df.join(broadcast(sel), keys, "left_semi").select(df.columns.map(col): _*)
  }

  /** LIMIT/OFFSET are whole-result-set row operations over the query's
    * output order (SQL semantics — a deliberate pin where InfluxDB's LIMIT
    * counts points per series in grouped queries).
    */
  private def applyRowRange(df: DataFrame, q: Query): DataFrame = {
    val off = q.offset.fold(df)(df.offset)
    q.limit.fold(off)(off.limit)
  }

  /** Compile a select expression over compiled call columns. A bare call or
    * field reference keeps its native type (a `count` stays a long); any
    * COMPOSITE expression evaluates in double end to end — every leaf casts
    * to double first, so the arithmetic is a fixed IEEE tree, deterministic
    * cross-engine (the repo's bit-exact convention; the integer-typed
    * ceil/floor results cast back to double for the same reason).
    */
  private def compileItem(e: FExpr, leaf: Field => Column): Column = e match {
    case FCall(f) => leaf(f)
    case FRef(n) => col(n)
    case other => compileExpr(other, leaf)
  }

  private def compileExpr(e: FExpr, leaf: Field => Column): Column = e match {
    case FNum(v) => lit(v)
    case FRef(n) => col(n).cast("double")
    case FCall(f) => leaf(f).cast("double")
    case FBin(op, l, r) =>
      val (a, b) = (compileExpr(l, leaf), compileExpr(r, leaf))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case other => throw new IllegalArgumentException(s"bad operator $other")
      }
    case FFun("neg", Seq(x)) => -compileExpr(x, leaf)
    case FFun(fn, args) =>
      val a = args.map(compileExpr(_, leaf))
      fn match {
        case "abs" => abs(a(0))
        case "sqrt" => sqrt(a(0))
        case "ceil" => ceil(a(0)).cast("double")
        case "floor" => floor(a(0)).cast("double")
        case "round" => round(a(0)).cast("double")
        case "exp" => exp(a(0))
        case "ln" => log(a(0))
        case "log2" => log2(a(0))
        case "log10" => log10(a(0))
        // InfluxQL's base-b log(x, b), planned as ln(x)/ln(b) — ONE IEEE
        // division of two natural logs so the DuckDB oracle can mirror the
        // exact shape. Parity caveat (same 1-ulp libm family as `exp`/`ln`):
        // the quotient is only quantization-safe when the true log_b(x) is
        // irrational, i.e. x and b multiplicatively independent — oracle
        // queries derive x as integer-aggregate·2 + 0.5 (never an integer,
        // so never an integer power of the base)
        case "log" => log(a(0)) / log(a(1))
        case "sin" => sin(a(0))
        case "cos" => cos(a(0))
        case "tan" => tan(a(0))
        case "asin" => asin(a(0))
        case "acos" => acos(a(0))
        case "atan" => atan(a(0))
        case "pow" => pow(a(0), a(1))
        case "atan2" => atan2(a(0), a(1))
        case other => throw new IllegalArgumentException(s"unsupported function $other")
      }
  }

  /** Continuous query: the InfluxDB downsampling idiom (`CREATE CONTINUOUS
    * QUERY ... BEGIN SELECT mean(value) INTO ... GROUP BY time(10m) END`)
    * as a Structured Streaming plan. The SELECT subset that makes sense
    * incrementally — single-pass aggregates, GROUP BY time(d) [+ tags] —
    * becomes a watermarked tumbling-window aggregation; append mode emits
    * each bucket once, when the watermark passes its end, which is exactly
    * the continuous query's resample-and-store contract. Selectors that
    * need ordered state (percentile/median/mode/top/bottom), fills
    * (finalized buckets can't be revisited), transforms, and ORDER/LIMIT
    * are rejected rather than silently approximated — except first/last,
    * whose struct min/max IS incremental.
    *
    * `streamPoints` must carry a TIMESTAMP `ts` column (watermarks don't
    * attach to raw longs) plus the tag/field columns; state is
    * watermark-bounded like every streaming aggregate in the engine.
    */
  def runContinuous(streamPoints: DataFrame, text: String, lateness: String): DataFrame =
    runContinuousParsed(streamPoints, parse(text), lateness)

  private def runContinuousParsed(streamPoints: DataFrame, q0: Query,
                                  lateness: String): DataFrame = {
    if (q0.fromSub.nonEmpty)
      throw new IllegalArgumentException(
        "InfluxQL continuous query: subquery FROM cannot run incrementally")
    val q = if (q0.fromRegex) q0.copy(groupTags = "transducer" +: q0.groupTags) else q0
    val step = q.groupTimeUs.getOrElse(throw new IllegalArgumentException(
      "InfluxQL continuous query: GROUP BY time() is required"))
    if (q.fields.exists(!_.isAgg))
      throw new IllegalArgumentException(
        "InfluxQL continuous query: raw fields cannot run incrementally — " +
          "single-pass aggregates only")
    val banned = q.fields.flatMap(_.calls).filter(f => f.transform.nonEmpty ||
      Set("percentile", "median", "mode", "top", "bottom", "count_distinct",
        "integral").contains(f.func))
    if (banned.nonEmpty)
      throw new IllegalArgumentException(
        s"InfluxQL continuous query: ${banned.map(_.func).mkString(", ")} cannot run " +
          "incrementally — single-pass aggregates only")
    // every fill mode is emission-time work over CLOSED buckets
    // ([[startContinuousQuery]]'s MERGE sink does it, no streaming state;
    // previous LOCF-seeds from the committed target, linear interpolates
    // retroactively through the keyed MERGE) — the stream itself emits
    // data buckets either way
    if (q.timeDesc || q.limit.nonEmpty || q.offset.nonEmpty ||
        q.slimit.nonEmpty || q.soffset.nonEmpty)
      throw new IllegalArgumentException(
        "InfluxQL continuous query: ORDER BY/LIMIT do not apply to a stream")
    var df = streamPoints.filter(
      if (q.fromRegex) col("transducer").rlike(q.measurement)
      else col("transducer") === q.measurement)
    q.conds.foreach { c =>
      if (containsTime(c)) throw new IllegalArgumentException(
        "InfluxQL continuous query: time bounds do not apply to a stream")
      df = df.filter(condColumn(c))
    }
    // same internal-column scheme as the batch planner: distinct calls
    // aggregate once, expressions compile over the result in the projection
    val calls = q.fields.flatMap(_.calls).distinct
    val intName: Map[Field, String] =
      calls.zipWithIndex.map { case (f, i) => f -> s"__c$i" }.toMap
    val aggExprs = calls.map(f => aggExprOn(f, unix_micros(col("ts"))).as(intName(f)))
    val res = df.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), s"$step microseconds", s"$step microseconds",
        s"${q.groupTimeOffsetUs} microseconds") +: q.groupTags.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .select(unix_micros(col("window.start")).as("time") +:
        q.groupTags.map(col) ++: q.fields.map(it =>
          compileItem(it.expr, f => col(intName(f))).as(it.outName)): _*)
    if (q.fromRegex) res.withColumnRenamed("transducer", "measurement") else res
  }

  /** `CREATE CONTINUOUS QUERY <name> ON <db> BEGIN SELECT ... INTO <target>
    * FROM ... GROUP BY time(d) [, tags] END` — the full InfluxDB
    * downsample-and-store DDL, end to end: the inner SELECT runs as the
    * watermarked streaming aggregate ([[runContinuous]]'s incremental
    * subset) and every closed bucket commits into the
    * [[graft.storage.TxLogTable]] at `root/<db>/<target>` through the
    * idempotent streaming MERGE sink — keyed on (time, tags) with the
    * bucket time as the order column, so an at-least-once replay of a
    * micro-batch converges instead of double-writing (exactly-once table
    * effect, the reference's resample contract influx_service.py:183-209
    * without its per-message HTTP round-trip).
    */
  /** `RESAMPLE [EVERY <dur>] [FOR <dur>]` between `ON <db>` and `BEGIN`
    * (InfluxDB's CQ scheduling clause; at least one of the two). The
    * streaming mapping: EVERY is the processing-time trigger interval —
    * how often buckets re-evaluate — and FOR is the watermark delay: a
    * bucket stays open (late points still fold in, the MERGE sink
    * converges) until event time passes bucket end + FOR, the event-time
    * face of InfluxDB's "recompute the trailing FOR window each run".
    * InfluxDB's validation rule holds: FOR must cover at least one full
    * GROUP BY time interval.
    */
  final case class Resample(everyUs: Option[Long], forUs: Option[Long])

  private[influxql] def parseResample(p: P): Resample = {
    if (!p.kw("RESAMPLE")) return Resample(None, None)
    def dur(): Long = p.next() match {
      case TDur(us, _) => us
      case t => p.fail(s"expected a duration, got '${t.raw}'")
    }
    val every = if (p.kw("EVERY")) Some(dur()) else None
    val forU = if (p.kw("FOR")) Some(dur()) else None
    if (every.isEmpty && forU.isEmpty)
      p.fail("RESAMPLE needs EVERY <dur> and/or FOR <dur>")
    Resample(every, forU)
  }

  private[influxql] def validateResample(p: P, rs: Resample, q: Query): Unit =
    for (f <- rs.forUs; step <- q.groupTimeUs)
      if (f < step) p.fail(
        "RESAMPLE FOR must be at least the GROUP BY time interval " +
          s"(FOR ${f}us < time ${step}us)")

  def startContinuousQuery(streamPoints: DataFrame, ddl: String, root: String,
                           checkpoint: String, lateness: String,
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val p = new P(tokenize(ddl))
    p.expectKw("CREATE"); p.expectKw("CONTINUOUS"); p.expectKw("QUERY")
    p.ident() // the CQ name: identity lives in the checkpoint + target table
    p.expectKw("ON")
    val db = p.ident()
    val rs = parseResample(p)
    p.expectKw("BEGIN")
    val q = parseQuery(p)
    p.expectKw("END")
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    validateResample(p, rs, q)
    val target = q.into.getOrElse(p.fail("continuous query needs SELECT ... INTO"))
    if (target == ":MEASUREMENT")
      p.fail("continuous queries need a named INTO target, not :MEASUREMENT " +
        "(the streaming MERGE commits to one table)")
    if (q.fields.exists(_.calls.exists(f => TopBottomFuncs.contains(f.func))))
      p.fail("continuous queries aggregate buckets — top()/bottom() return " +
        "original points; run them as batch SELECT ... INTO instead")
    if (selectorCompanion(q).nonEmpty)
      p.fail("continuous queries aggregate buckets — selector companion " +
        "columns return point values the keyed MERGE cannot maintain; run " +
        "them as batch SELECT ... INTO instead")
    // FOR overrides the default watermark delay; EVERY overrides the
    // trigger — except an AvailableNow drain (--once maintenance runs
    // process the backlog regardless of the CQ's schedule)
    val effLateness = rs.forUs.map(us => s"$us microseconds").getOrElse(lateness)
    val effTrigger = rs.everyUs match {
      case Some(us) if trigger != Trigger.AvailableNow() =>
        Trigger.ProcessingTime(math.max(1L, us / 1000L))
      case _ => trigger
    }
    val sel0 = runContinuousParsed(streamPoints, q.copy(into = None), effLateness)
    val tags = (if (q.fromRegex) Seq("measurement") else Nil) ++ q.groupTags
    // fill(linear) promotes every aggregate column to double (a straight
    // line between two counts is generally not a whole number) — the batch
    // planner's exact promotion, applied BEFORE the first commit so the
    // target schema is the batch query's shape from version 0
    val keyColsAll = "time" +: tags
    val sel = if (q.fill == FillLinear)
      sel0.select(sel0.columns.toSeq.map(c =>
        if (keyColsAll.contains(c)) col(c) else col(c).cast("double").as(c)): _*)
    else sel0
    val table = new graft.storage.TxLogTable(
      streamPoints.sparkSession, s"$root/$db/$target")
    // an EXPLICIT fill(null/value/previous/linear) densifies the target at
    // emission: the gaps between closed buckets fill with null / the
    // literal / the nearest preceding bucket's value / the line between
    // the surrounding observed buckets, exactly the batch query's skeleton
    // over the data's own bucket range (the default — no fill() written —
    // and fill(none) emit data buckets only)
    val densify: DataFrame => DataFrame =
      if (q.fillExplicit && (q.fill == FillNull || q.fill == FillPrevious ||
          q.fill == FillLinear || q.fill.isInstanceOf[FillValue]))
        densifyClosedBuckets(_, table, q.groupTimeUs.get, tags, q.fill)
      else identity
    graft.streaming.StreamingIngest.startMergeSink(
      sel, table, keys = "time" +: tags, orderCol = "time",
      checkpoint = checkpoint, trigger = effTrigger, perBatch = densify,
      // granular merge on the bucket time: a batch touches recent buckets
      // (plus, under fill(linear), the open-gap rows it retro-fills), so
      // the target's history carries as metadata instead of rewriting
      // per micro-batch
      rangeCol = Some("time"))
  }

  /** The committed state one fill emission needs, WITHOUT scanning the
    * target's history — the bounded-read backbone of every CQ fill mode.
    *
    * It rests on the DENSE-GRID INVARIANT the emission itself maintains:
    * after every batch the committed target holds EVERY known series at
    * EVERY bucket of [lo, hi] (data, or a synthesized fill row). So the
    * committed frontier is fully recoverable from
    *   - `lo`/`hi`: per-directory stats sidecars ([[graft.storage.TxLogTable.colRange]]),
    *     amortized O(new dirs) — no scan;
    *   - the CARRY bucket: one time-pushdown read at the single bucket
    *     `carryT` = the last committed bucket strictly below the batch
    *     (= hi in steady state, since watermarked batches close buckets
    *     strictly above everything committed; minB − step on a crash
    *     replay). Its rows ARE the complete series set, and — for LOCF —
    *     carry their filled values, so it seeds the fills by induction.
    * Per-batch scanned rows stay O(series + batch) while the target grows
    * without bound (pinned by the flat-scan StreamingSpec case).
    */
  private case class FillScaffold(lo: Long, hiAll: Long, carryT: Option[Long],
                                  carry: DataFrame, series: DataFrame,
                                  gapKeys: DataFrame)

  private def fillScaffold(b: DataFrame, table: graft.storage.TxLogTable,
                           step: Long, tags: Seq[String]): FillScaffold = {
    val keyCols = "time" +: tags
    val bb = b.agg(min(col("time")), max(col("time"))).head()
    val (minB, maxB) = (bb.getLong(0), bb.getLong(1))
    val committed = table.version.flatMap(_ => table.colRange("time"))
    val lo = committed.map(c => math.min(c._1, minB)).getOrElse(minB)
    val hiAll = committed.map(c => math.max(c._2, maxB)).getOrElse(maxB)
    val carryT = committed.map { case (cLo, cHi) =>
      math.max(cLo, math.min(cHi, minB - step)) }
    val carry = (carryT match {
      case Some(t) => table.read().select(b.columns.toSeq.map(col): _*)
        .where(col("time") === lit(t))
      case None => b.limit(0)
    }).persist()
    val nBuckets = (hiAll - lo) / step + 1
    require(nBuckets <= graft.operators.TimeSeriesOps.MaxFillBuckets,
      s"continuous query fill skeleton of $nBuckets buckets exceeds max " +
        s"${graft.operators.TimeSeriesOps.MaxFillBuckets} (max-select-buckets)")
    // gap synthesis: known series continue from the carry bucket; series
    // the batch just introduced back-fill the whole grid from lo (the
    // batch planner's skeleton is series × [lo, hi]). A when() with no
    // otherwise yields a null array — explode drops it — so a series
    // with no room synthesizes nothing.
    val (series, gapKeys) =
      if (tags.isEmpty) {
        val startEx = carryT.getOrElse(lo - step)
        val g = b.sparkSession.range(1)
          .select(explode(when(lit(startEx + step) <= lit(hiAll),
            sequence(lit(startEx + step), lit(hiAll), lit(step)))).as("time"))
          .join(b.select(col("time")), Seq("time"), "left_anti")
        (b.sparkSession.range(1).select(lit(1).as("__one")), g)
      } else {
        val known = carry.select(tags.map(col): _*).distinct()
        val cs = known.withColumn("__startex", lit(carryT.getOrElse(lo - step)))
        val ns = b.select(tags.map(col): _*).distinct()
          .join(known, tags, "left_anti")
          .withColumn("__startex", lit(lo - step))
        val all = cs.unionByName(ns)
        val g = all.select(tags.map(col) :+
            explode(when(col("__startex") + lit(step) <= lit(hiAll),
              sequence(col("__startex") + lit(step), lit(hiAll), lit(step))))
              .as("time"): _*)
          .join(b.select(keyCols.map(col): _*), keyCols, "left_anti")
        (all.drop("__startex"), g)
      }
    if (nBuckets > graft.operators.TimeSeriesOps.FillSeriesProbeBuckets &&
        tags.nonEmpty) {
      // max-select-series face, same rule as the batch planner; the carry
      // is persisted, so the series count is one cheap job
      val nSeries = series.count()
      require(nBuckets * nSeries <= graft.operators.TimeSeriesOps.MaxFillRows,
        s"continuous query fill skeleton of $nBuckets buckets x $nSeries " +
          s"series = ${nBuckets * nSeries} rows exceeds max " +
          s"${graft.operators.TimeSeriesOps.MaxFillRows} (max-select-series)")
    }
    FillScaffold(lo, hiAll, carryT, carry, series, gapKeys)
  }

  /** Emission-time fill for a continuous query's MERGE sink: given one
    * micro-batch of newly CLOSED buckets, synthesize the empty buckets the
    * equivalent batch query's fill skeleton would have produced — filled
    * with null (`fill(null)`) or the literal (`fill(<value>)`), typed per
    * aggregate column.
    *
    * No streaming state: the TARGET TABLE is the memory, and the per-batch
    * read of it is the BOUNDED [[fillScaffold]] frontier (stats sidecars +
    * one carry-bucket read), never the target's history. Work per batch is
    * proportional to the NEW gaps; a replayed batch recomputes a subset
    * deterministically and the keyed MERGE converges (gaps only ever
    * synthesize below the max CLOSED bucket, where the watermark has
    * already discarded later-arriving points). Correct only while the CQ
    * is its target's sole writer, which is the CQ contract.
    *
    * `b` arrives materialized and non-empty: the merge sink checkpoints
    * each micro-batch once and skips empty ones, so the fill reads it as
    * often as it needs without re-running the stream's aggregation.
    */
  private def densifyClosedBuckets(b: DataFrame, table: graft.storage.TxLogTable,
                                   step: Long, tags: Seq[String],
                                   fill: Fill): DataFrame = {
    if (fill == FillLinear || fill == FillPrevious)
      return densifyRewrite(b, table, step, tags, fill)
    val keyCols = "time" +: tags
    val aggCols0 = b.columns.filterNot(keyCols.contains).toSeq
    // the batch planner applies fill(<value>) per CELL: a present bucket's
    // null aggregate (a 1-point stddev) takes the literal too, not just
    // gap buckets — emit the batch coalesced so CQ == batch bit-for-bit
    val batchF = fill match {
      case FillValue(x) => b.select(keyCols.map(col) ++ aggCols0.map { c =>
        coalesce(col(c), lit(x).cast(b.schema(c).dataType)).as(c) }: _*)
      case _ => b
    }
    val sc = fillScaffold(b, table, step, tags)
    try {
      val gapRows = sc.gapKeys.select(keyCols.map(col) ++ aggCols0.map { c =>
        val dt = b.schema(c).dataType
        (fill match {
          case FillValue(x) => lit(x).cast(dt)
          case _ => lit(null).cast(dt)
        }).as(c)
      }: _*)
      // localCheckpoint the synthesized rows so the union the sink merges
      // does not re-read the pre-merge target lazily DURING the merge
      batchF.unionByName(gapRows).localCheckpoint()
    } finally { sc.carry.unpersist(); () }
  }

  /** Emission-time `fill(previous)` and `fill(linear)` for a continuous
    * query's MERGE sink — the two modes whose fills REWRITE cells from
    * series history rather than a constant. Both run the batch planner's
    * exact column-wise expression over (batch ∪ committed ∪ new gaps), so
    * a present bucket's null aggregate (a 1-point stddev) fills exactly
    * like the batch query's, not just gap buckets.
    *
    * `previous` (LOCF) looks backward only: emission covers the batch's
    * closed buckets (null cells carried forward) and the new gaps;
    * committed rows never change. Committed gap rows already CARRY their
    * LOCF value, so filling from them equals filling from the underlying
    * data bucket (induction) — replays converge; cells before a series'
    * first value stay null, like the batch skeleton.
    *
    * `linear` "needs the NEXT bucket" — which does not make it
    * non-incremental, it makes it RETROACTIVE: the target table is
    * mutable through the keyed MERGE, so a gap interpolates the moment
    * its right neighbor closes, and until then it commits as null
    * (exactly the batch planner's edge rule), with every aggregate
    * column promoted to double. Per batch, three row classes emit:
    *
    *   - the batch's newly closed data buckets;
    *   - the new gap buckets of the widened skeleton;
    *   - committed rows with at least one still-null aggregate cell — the
    *     ONLY committed rows a new right neighbor can change. Re-emitting
    *     them every batch maintains the invariant that a committed cell
    *     is null iff it has no observed value on one side, which in turn
    *     guarantees the nearest non-null BELOW any recomputed cell is
    *     always an OBSERVED value, never an earlier interpolation (an
    *     interpolated cell has an observed cell above it, so it can never
    *     be the last non-null under a still-null cell) — incremental
    *     equals batch, by induction over batches.
    *
    * Committed rows whose key a (replayed) batch re-closes drop from the
    * committed side (the batch's deterministic recomputation wins), so
    * duplicate keys never reach the interpolation window. Replays
    * recompute from the CURRENT committed table — at least as much
    * information as the original emission — so the keyed MERGE only ever
    * moves values toward the converged batch answer. One honest corner:
    * a crash-replayed data bucket with a null cell may re-interpolate
    * from a committed interpolated neighbor instead of the original
    * observed endpoints — two points on the same line, so the value is
    * mathematically identical and within 1 IEEE ulp of the batch
    * planner's; it is non-null either way, never recomputes again, and
    * the invariant above is value-independent.
    *
    * Scale posture: the per-batch committed read is BOUNDED — never the
    * target's history. Window participants are
    *   - the [[fillScaffold]] frontier (stats-sidecar bounds + the carry
    *     bucket, which seeds LOCF by induction: committed gap rows CARRY
    *     their filled value, so filling from the carry equals filling
    *     from the underlying data bucket);
    *   - for linear only: the OPEN-GAP set — committed rows still holding
    *     a null cell, read via an IsNull-pushdown scan (row groups with no
    *     nulls skip via footer null counts), these being the only
    *     committed rows a new right neighbor can change — plus, per
    *     (series, column) the batch observed, the one DONOR row under the
    *     trailing null run (the last observed value, found by run
    *     contiguity on the dense grid and fetched with a time-IN
    *     pushdown), masked to its column so its other cells' interpolated
    *     values never pose as observations.
    * Linear re-emits an open-gap row ONLY when a cell actually changed
    * (null -> interpolated), so dead series' trailing nulls and leading
    * nulls stop riding every merge; the skeleton stays
    * MaxFillBuckets/MaxFillRows-guarded and the one window shuffles on
    * the grouping tags.
    */
  private def densifyRewrite(b: DataFrame, table: graft.storage.TxLogTable,
                             step: Long, tags: Seq[String], fill: Fill): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = "time" +: tags
    val aggCols = b.columns.filterNot(keyCols.contains).toSeq
    val cols = b.columns.toSeq
    val sc = fillScaffold(b, table, step, tags)
    val anyNull = aggCols.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    // linear's extra participants (empty frames for previous), and the
    // donor spec's checkpoint, released with the carry
    val (pendingAll, donorRows, donorCkpt) = (fill, sc.carryT) match {
      case (FillLinear, Some(t)) =>
        val pending = table.read().select(cols.map(col): _*)
          .where(col("time") < lit(t) && anyNull)
          .unionByName(sc.carry.where(anyNull)).persist()
        // every null cell among the open gaps, as (series, column, time)
        val nullCells = aggCols.zipWithIndex.map { case (c, i) =>
          pending.where(col(c).isNull)
            .select(tags.map(col) ++ Seq(col("time"), lit(i).as("__ci")): _*)
        }.reduce(_ unionByName _)
        // trailing runs: the rn-th null (descending by time) continues a
        // contiguous suffix of the dense grid iff it sits rn-1 steps below
        // the carry bucket; the row UNDER the run's minimum is the last
        // OBSERVED value (an interpolated cell always has an observation
        // above it, so it can never end a trailing run)
        val wDesc = Window.partitionBy(tags.map(col) :+ col("__ci"): _*)
          .orderBy(col("time").desc)
        val trailingMin = nullCells
          .withColumn("__rn", row_number().over(wDesc))
          .where(col("time") === lit(t) - (col("__rn") - 1) * lit(step))
          .groupBy(tags.map(col) :+ col("__ci"): _*)
          .agg(min(col("time")).as("__tmin"))
        // only (series, column)s the batch observed can change this batch
        val batchObs = aggCols.zipWithIndex.map { case (c, i) =>
          b.where(col(c).isNotNull)
            .select(tags.map(col) :+ lit(i).as("__ci"): _*).distinct()
        }.reduce(_ unionByName _)
        val donorSpec = trailingMin
          .join(batchObs, tags :+ "__ci")
          .select(tags.map(col) ++ Seq(col("__ci"),
            (col("__tmin") - lit(step)).as("time")): _*)
          .where(col("time") >= lit(sc.lo))
          .localCheckpoint() // consumed by the collect AND the lazy join
        val donorTimes = donorSpec.select("time").distinct()
          .collect().map(_.getLong(0)).toSeq
        val donors =
          if (donorTimes.isEmpty) b.limit(0)
          else table.read().select(cols.map(col): _*)
            .where(col("time").isin(donorTimes: _*))
            .join(broadcast(donorSpec), keyCols)
            .select(keyCols.map(col) ++ aggCols.zipWithIndex.map { case (c, i) =>
              when(col("__ci") === i, col(c)).as(c) }: _*)
        (pending, donors, Some(donorSpec))
      case _ => (b.limit(0), b.limit(0), None)
    }
    try {
      val gapNull = sc.gapKeys.select(keyCols.map(col) ++ aggCols.map(c =>
        lit(null).cast(b.schema(c).dataType).as(c)): _*)
      // marker names must dodge user aliases, like the fill(previous) path
      val srcCol = Iterator.iterate("__src")(_ + "_")
        .dropWhile(cols.contains).next()
      def wasCol(i: Int): String = s"${srcCol}was$i"
      // carry rows with a null cell are themselves open gaps — they ride
      // the pending (emit-if-changed) side under linear, not the carry side
      val carryP = (if (fill == FillLinear) sc.carry.where(!anyNull) else sc.carry)
        .select(cols.map(col): _*).withColumn(srcCol, lit(1))
      val union0 = b.withColumn(srcCol, lit(0))
        .unionByName(carryP)
        .unionByName(gapNull.withColumn(srcCol, lit(2)))
        .unionByName(pendingAll.withColumn(srcCol, lit(3)))
        .unionByName(donorRows.withColumn(srcCol, lit(4)))
      val union = union0.select(keyCols.map(col) ++ aggCols.map(col) ++
        Seq(col(srcCol)) ++ aggCols.indices.map(i => col(aggCols(i)).as(wasCol(i))): _*)
      // the tag-less partition key rides a real attribute with UNEQUAL
      // branches — equal branches let SimplifyConditionals fold the key
      // to a constant and the window loses its partitioning (the
      // no-unpartitioned-windows discipline); MaxFillBuckets-bounded
      val part = if (tags.nonEmpty) tags.map(col)
        else Seq(when(col("time").isNotNull, lit(1)).otherwise(lit(2)))
      val back = Window.partitionBy(part: _*).orderBy(col("time"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(part: _*).orderBy(col("time"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val filled = union.select(keyCols.map(col) ++ aggCols.map { n =>
        fill match {
          case FillPrevious =>
            // the batch planner's LOCF expression, verbatim (a non-null
            // cell is its own last non-null, so data stays untouched)
            last(col(n), ignoreNulls = true).over(back).as(n)
          case _ =>
            // the batch planner's applyFill FillLinear expression, verbatim
            val c = col(n).cast("double")
            val obs = when(c.isNotNull, col("time"))
            val pv = last(c, ignoreNulls = true).over(back)
            val pb = last(obs, ignoreNulls = true).over(back)
            val nv = first(c, ignoreNulls = true).over(fwd)
            val nb = first(obs, ignoreNulls = true).over(fwd)
            when(c.isNotNull, c)
              .when(pv.isNotNull && nv.isNotNull,
                pv + (nv - pv) *
                  ((col("time") - pb).cast("double") / (nb - pb).cast("double")))
              .otherwise(lit(null).cast("double")).as(n)
        }
      } ++ Seq(col(srcCol)) ++ aggCols.indices.map(i => col(wasCol(i))): _*)
      // previous never changes a committed row (backward-looking); linear
      // also re-emits an open-gap row — but ONLY when a cell actually
      // changed (null -> interpolated), so unchanged trailing/leading
      // nulls stop riding every merge; carry and donor rows never emit
      val changed = aggCols.indices.map(i =>
        col(wasCol(i)).isNull && col(aggCols(i)).isNotNull)
        .reduceOption(_ || _).getOrElse(lit(false))
      val emit = if (fill == FillPrevious) col(srcCol) === 0 || col(srcCol) === 2
        else col(srcCol) === 0 || col(srcCol) === 2 || (col(srcCol) === 3 && changed)
      filled.where(emit)
        .drop(srcCol +: aggCols.indices.map(wasCol): _*).localCheckpoint()
    } finally {
      sc.carry.unpersist(); pendingAll.unpersist()
      donorCkpt.foreach(graft.streaming.StreamingIngest.release)
    }
  }

  /** mode() needs its own two-level aggregation (value frequencies, then an
    * arg-max over them) — it cannot ride the single-pass aggregate with the
    * other functions. Each mode field aggregates separately and equi-joins
    * back on the group keys; both sides hash-partition on those keys, so
    * the join adds no data-sized shuffle. Tie-break: the SMALLEST value
    * among equally frequent ones (InfluxDB's pick is storage-order
    * arbitrary; the engine's q_ts_mode pins the same rule) — encoded as a
    * struct max over (count, -value).
    */
  /** integral(f [, unit]): trapezoid area under each series' non-null
    * point subsequence divided by the unit (default 1s) — not a hash
    * aggregate, so it computes as a per-series window pass (consecutive
    * non-null points pair via an ignoreNulls lag) plus one grouped sum,
    * joined back onto the other aggregates like mode.
    *
    * GROUP BY time() pins the engine's rule: a segment contributes to the
    * bucket containing BOTH its endpoints (cross-bucket segments drop, no
    * boundary interpolation); a group with points for the field but no
    * segment answers 0.0; a group whose points all lack the field is
    * absent (left-join null when other aggregates are present).
    * Determinism: points order by (ts, value); per-segment areas evaluate
    * in a fixed IEEE tree ((v+pv)/2 * (dt_us/unit_us)), floor-quantize at
    * 1e-6, and sum as int64 — order-independent and cross-engine exact;
    * the final value is one division by 1e6.
    */
  private def joinIntegrals(base: Option[DataFrame], fs: Seq[(Field, String)],
                            df: DataFrame, seriesCols: Seq[String],
                            bucketOf: Option[Column => Column],
                            keyNames: Seq[String]): Option[DataFrame] =
    fs.foldLeft(base) { case (acc, (f, name)) =>
      val v = col(f.arg)
      val w = Window.partitionBy(seriesCols.map(col): _*)
        .orderBy(col("ts_us").asc, v.asc)
      val prev = lag(when(v.isNotNull,
        struct(col("ts_us").as("t"), v.as("v"))), 1, null, ignoreNulls = true).over(w)
      val unitUs = f.pct.getOrElse(1000000.0)
      val dt = (col("ts_us") - prev.getField("t")).cast("double")
      val trap = (v + prev.getField("v")) / lit(2.0) * (dt / lit(unitUs))
      val sameBucket = bucketOf.map(b => b(prev.getField("t")) === b(col("ts_us")))
        .getOrElse(lit(true))
      val seg = when(v.isNotNull && prev.isNotNull && sameBucket,
        floor(trap * lit(1000000.0)).cast("long"))
      val keyExprs: Seq[Column] = bucketOf match {
        case Some(b) => b(col("ts_us")).as("time") +: seriesCols.map(col)
        case None => keyNames.map(col)
      }
      val aggd = df.select((col("ts_us") +: v +: seriesCols.map(col)) :+ seg.as("__seg"): _*)
        .groupBy(keyExprs: _*)
        .agg((coalesce(sum(col("__seg")), lit(0L)).cast("double") / lit(1000000.0)).as(name),
          count(v).as("__ipresent"))
        .filter(col("__ipresent") > 0).drop("__ipresent")
      acc match {
        case None => Some(aggd)
        case Some(a) if keyNames.isEmpty =>
          // global + other aggregates: a keyless left join (both sides are
          // at most one row after the presence filters)
          Some(a.withColumn("__k", lit(1))
            .join(aggd.withColumn("__k", lit(1)), Seq("__k"), "left_outer").drop("__k"))
        case Some(a) => Some(a.join(aggd, keyNames, "left_outer"))
      }
    }

  private def joinModes(base: Option[DataFrame], modeFs: Seq[(Field, String)],
                        df: DataFrame, keys: Seq[Column],
                        keyNames: Seq[String]): DataFrame =
    modeFs.foldLeft(base) { case (acc, (f, name)) =>
      val freq = df.groupBy(keys :+ col(f.arg).as("__mv"): _*)
        .agg(count(lit(1)).as("__mc"))
      // the GLOBAL form groups by a constant and drops it: zero matching
      // points then yield zero groups (EMPTY, per InfluxDB) where a true
      // global aggregate would fabricate one null row
      val m = if (keyNames.isEmpty)
        freq.groupBy(lit(1).as("__g"))
          .agg((-max(struct(col("__mc").as("c"), (-col("__mv")).as("nv")))
            .getField("nv")).as(name)).drop("__g")
      else freq.groupBy(keyNames.map(col): _*)
        .agg((-max(struct(col("__mc").as("c"), (-col("__mv")).as("nv")))
          .getField("nv")).as(name))
      Some(acc.fold(m)(a => if (keyNames.isEmpty) a.crossJoin(m) else a.join(m, keyNames)))
    }.getOrElse(throw new IllegalArgumentException("InfluxQL: no aggregate fields"))

  private def containsTime(c: Cond): Boolean = c match {
    case TimeCond(_, _) => true
    case OrCond(bs) => bs.exists(_.exists(containsTime))
    case _ => false
  }

  /** One condition as a Column predicate (recursive over OR trees). */
  private def condColumn(c: Cond): Column = c match {
    case TimeCond("<", us) => col("ts_us") < us
    case TimeCond("<=", us) => col("ts_us") <= us
    case TimeCond(">", us) => col("ts_us") > us
    case TimeCond(">=", us) => col("ts_us") >= us
    case TimeCond(op, _) => throw new IllegalArgumentException(s"bad time op $op")
    case TagCond(tag, true, v) => col(tag) === v
    case TagCond(tag, false, v) => col(tag) =!= v
    // rlike is UNANCHORED substring search in both Spark and InfluxDB —
    // the two dialects agree without wrapping the pattern
    case TagRegexCond(tag, true, re) => col(tag).rlike(re)
    case TagRegexCond(tag, false, re) => !col(tag).rlike(re)
    case FieldCond(f, "=", v) => col(f) === v
    case FieldCond(f, "!=", v) => col(f) =!= v
    case FieldCond(f, "<", v) => col(f) < v
    case FieldCond(f, "<=", v) => col(f) <= v
    case FieldCond(f, ">", v) => col(f) > v
    case FieldCond(f, ">=", v) => col(f) >= v
    case FieldCond(_, op, _) => throw new IllegalArgumentException(s"bad field op $op")
    case OrCond(branches) =>
      branches.map(_.map(condColumn).reduce(_ && _)).reduce(_ || _)
  }

  /** top/bottom return the N extreme POINTS with their own event times —
    * globally a sort+limit (TakeOrderedAndProject: per-partition heap +
    * driver merge, never a full sort); per tag group / per time bucket a
    * rank window, which Spark's WindowGroupLimit prunes to N rows per
    * group before the exchange. Ties pin on (value, time, tag keys); for
    * the plain form two rows tying on (value, time) are identical in
    * every output column, so any pick yields the same result.
    *
    * The InfluxDB 1.8 extensions:
    *   - `top(field, tag_key [, tag_key...], N)`: each distinct tag(-combo)
    *     value contributes at most ONE point — its own extreme (a rank-1
    *     window per tag value, WindowGroupLimit-pruned to one row per
    *     group before the exchange) — and the N winners are picked among
    *     those champions, whose row count is bounded by tag cardinality.
    *   - `GROUP BY time(d)`: the bucket start joins the partition keys, so
    *     the N extremes pick PER BUCKET — but rows keep their ORIGINAL
    *     point timestamps (top/bottom are the selectors InfluxDB does not
    *     collapse to the bucket start), so no fill/densify applies.
    */
  private def planTopBottom(df: DataFrame, q: Query): DataFrame = {
    val it = q.fields.find(_.isAgg).get
    val f = it.bareCall.get // validate() pins top/bottom to a sole bare call
    // companion columns (InfluxDB 1.8): bare refs beside the selector ride
    // the selected rows — projected from the winners and joined into every
    // tie-break so the pick stays deterministic cross-engine
    val comps = q.fields.filterNot(_.isAgg)
    val compAsc = comps.map(c => col(c.refs.head).asc)
    val n = f.pct.get.toInt
    val sortCols =
      (if (f.func == "top") Seq(col(f.arg).desc, col("ts_us").asc)
       else Seq(col(f.arg).asc, col("ts_us").asc)) ++ compAsc
    val withBk = q.groupTimeUs match {
      case Some(step) => df.withColumn("__bk",
        col("ts_us") - pmod(col("ts_us") - lit(q.groupTimeOffsetUs), lit(step)))
      case None => df
    }
    val bkCols = if (q.groupTimeUs.isDefined) Seq("__bk") else Nil
    val champions =
      if (f.tagKeys.isEmpty) withBk
      else {
        val wc = Window
          .partitionBy((q.groupTags ++ bkCols ++ f.tagKeys).distinct.map(col): _*)
          .orderBy(sortCols: _*)
        withBk.withColumn("__ck", row_number().over(wc))
          .filter(col("__ck") === 1).drop("__ck")
      }
    // champions from different tag values can tie on (value, time): the
    // tag keys are the deterministic last resort
    val finalSort = sortCols ++ f.tagKeys.map(col(_).asc)
    // a tag key named BOTH in GROUP BY and as a selector argument must
    // surface once, not as two identically-named output columns
    val out = ((col("ts_us").as("time") +:
      (q.groupTags ++ f.tagKeys).distinct.map(col)) :+
      col(f.arg).as(it.outName)) ++
      comps.map(c => col(c.refs.head).as(c.outName))
    val partKeys = q.groupTags ++ bkCols
    val picked =
      if (partKeys.isEmpty) champions.orderBy(finalSort: _*).limit(n).select(out: _*)
      else {
        val w = Window.partitionBy(partKeys.map(col): _*).orderBy(finalSort: _*)
        champions.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= n).select(out: _*)
      }
    applyRowRange(applySeriesLimit(picked, q), q)
  }

  /** holt_winters(agg, N, S): N forecast points per series beyond its last
    * bucket — the fixed-coefficient Holt method on the bucketed aggregate
    * series, the same pinned kernel as
    * [[graft.operators.TimeSeriesOps.holtForecast]] (integer EMA level +
    * EMA trend over first differences, n=4 depth=10, quantize-then-int64
    * discipline, oracle-exact). S > 0 adds ADDITIVE seasonality: each
    * bucket's phase is its grid index mod S, the seasonal index is the
    * same EMA kernel over the level residuals along each (series, phase)
    * sub-series, and a forecast adds its target phase's latest index.
    * Fill runs first, so the forecast sees the same series InfluxDB would
    * feed it. One window shuffle on the series key (plus one on
    * series×phase when seasonal); the horizon fan-out and the phase
    * lookup join run on |series|·S rows only.
    */
  private def planHoltWinters(df: DataFrame, q: Query): DataFrame = {
    import graft.operators.TimeSeriesOps.exponentialMovingAverage
    val it = q.fields.head
    val f = it.bareCall.get
    val step = q.groupTimeUs.get
    val horizons = 1 to f.targ.get.toInt
    val season = f.seasonal.getOrElse(0L)
    val bucket = (col("ts_us") -
      pmod(col("ts_us") - lit(q.groupTimeOffsetUs), lit(step))).as("time")
    val partCols = if (q.groupTags.isEmpty) Seq("transducer") else q.groupTags
    val keys = bucket +: partCols.map(col)
    val inner = f.copy(transform = None, targ = None, seasonal = None)
    val grouped = df.groupBy(keys: _*).agg(aggExpr(inner).as("__c0"))
    val filled = applyFill(grouped, q, step, partCols, Seq("__c0"))
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
    val wDesc = Window.partitionBy(partCols.map(col): _*).orderBy(col("time").desc)
    val c = col("__c0").cast("double")
    val withFit = f.transform.contains("holt_winters_with_fit")
    val smoothed0 = filled
      .withColumn("__d", c - lag(c, 1).over(w))
      .withColumn("__lvl", exponentialMovingAverage(c, w, n = 4, depth = 10))
      // a first bucket has no difference: zero trend, not 0/0
      .withColumn("__trd", when(lag(c, 1).over(w).isNotNull,
        exponentialMovingAverage(col("__d"), w, n = 4, depth = 10))
        .otherwise(lit(0.0)))
      .withColumn("__rn", row_number().over(wDesc))
    // with_fit consumes the smoothed series TWICE (in-sample fits + the
    // forecast fan) through a union: persist the shared frame so the whole
    // upstream — bucket agg, fill densification, the EMA windows — runs
    // once, not once per union branch (r18; |buckets × series| rows,
    // bounded by the query's own output scale)
    val smoothed = if (withFit && season == 0) pin(smoothed0.persist()) else smoothed0
    // additive seasonality: each bucket's phase is its index on the grid
    // mod S; the seasonal index is the SAME integer EMA kernel over the
    // level residuals, along each (series, phase) sub-series — computed
    // ONCE here and shared by the forecast fan AND the with_fit in-sample
    // rows (r18: the fit branch previously re-derived it). Forecast
    // buckets look up the latest index of THEIR phase — a join on
    // |series|·S rows, never data-sized.
    val seasonal0 =
      if (season == 0) smoothed
      else {
        val phase = pmod(((col("time") - lit(q.groupTimeOffsetUs)) / lit(step))
          .cast("long"), lit(season))
        val wp = Window.partitionBy((partCols :+ "__ph").map(col): _*)
          .orderBy(col("time"))
        val wpDesc = Window.partitionBy((partCols :+ "__ph").map(col): _*)
          .orderBy(col("time").desc)
        smoothed
          .withColumn("__ph", phase)
          .withColumn("__r", c - col("__lvl"))
          .withColumn("__s", exponentialMovingAverage(col("__r"), wp, n = 4, depth = 10))
          .withColumn("__rnp", row_number().over(wpDesc))
      }
    // the seasonal frame ALWAYS has two consumers — the latest-phase-index
    // broadcast side and the forecast fan (plus the fits under with_fit) —
    // so persist it unconditionally when seasonal: one upstream execution
    // instead of one per consumer
    val seasonal = if (season != 0) pin(seasonal0.persist()) else seasonal0
    val fanBase =
      if (season == 0)
        smoothed.filter(col("__rn") === 1)
          .select(partCols.map(col) ++ Seq(col("time"), col("__lvl"), col("__trd"),
            explode(array(horizons.map(h => lit(h.toLong)): _*)).as("__h")): _*)
      else {
        val seasons = seasonal.filter(col("__rnp") === 1)
          .select((partCols :+ "__ph").map(col) :+ col("__s"): _*)
        val fan = seasonal.filter(col("__rn") === 1)
          .select(partCols.map(col) ++ Seq(col("time"), col("__ph"),
            col("__lvl"), col("__trd"),
            explode(array(horizons.map(h => lit(h.toLong)): _*)).as("__h")): _*)
          .withColumn("__fph", pmod(col("__ph") + col("__h"), lit(season)))
          .drop("__ph")
        // a phase never observed in the series has no index: seasonal 0
        // (as does an all-null phase, whose massless kernel is NaN)
        fan.join(
          broadcast(seasons.withColumnRenamed("__ph", "__fph")),
          partCols :+ "__fph", "left")
          .withColumn("__sv", coalesce(nanvl(col("__s"), lit(0.0)), lit(0.0)))
      }
    // the seasonless tree stays exactly lvl + h·trd (no + 0.0 — it would
    // be a different IEEE expression than the pinned oracle's)
    val forecast =
      if (season == 0) col("__lvl") + col("__h") * col("__trd")
      else col("__lvl") + col("__h") * col("__trd") + col("__sv")
    val fanRes = fanBase
      .select(((col("time") + col("__h") * lit(step)).as("time") +:
        q.groupTags.map(col)) :+ forecast.as(it.outName): _*)
    // holt_winters_with_fit: the in-sample rows ride ahead of the
    // forecasts — pinned as the kernel's smoothed level at each bucket
    // (plus the bucket's OWN phase index when seasonal); a bucket with no
    // trailing kernel mass (before the series' first value) has no fit
    val res =
      if (!withFit) fanRes
      else {
        // in-sample rows read the SAME persisted seasonal/smoothed frame
        // the forecast fan reads (r18) — the bucket's own phase index,
        // identical expression tree to the re-derivation it replaces
        val fitVal =
          if (season == 0) col("__lvl")
          else col("__lvl") + coalesce(nanvl(col("__s"), lit(0.0)), lit(0.0))
        val fits = seasonal.filter(!isnan(col("__lvl")))
          .select((col("time") +: q.groupTags.map(col)) :+ fitVal.as(it.outName): _*)
        fits.unionAll(fanRes)
      }
    applyRowRange(applySeriesLimit(
      res.orderBy(col("time").asc +: q.groupTags.map(col(_).asc): _*), q), q)
  }

  /** elapsed(): each point's distance to its series predecessor in whole
    * units (integer division, InfluxQL's rule); the first point of a
    * series has none and drops. One window per measurement series, ordered
    * by (ts, value) so equal-timestamp pairs resolve deterministically.
    */
  private def planElapsed(df: DataFrame, q: Query): DataFrame = {
    val f = q.fields.head.bareCall.get
    val unit = f.targ.get
    val w = Window.partitionBy(col("transducer"))
      .orderBy(col("ts_us").asc, col(f.arg).asc)
    val d = col("ts_us") - lag(col("ts_us"), 1).over(w)
    val head =
      if (q.fromRegex) Seq(col("ts_us").as("time"), col("transducer").as("measurement"))
      else Seq(col("ts_us").as("time"))
    val sel = df.filter(col(f.arg).isNotNull)
      .withColumn("__e", floor(d.cast("double") / lit(unit.toDouble)).cast("long"))
      .filter(col("__e").isNotNull)
      .select(head :+ col("__e").as(q.fields.head.outName): _*)
    // equal-timestamp rows tie-break on the remaining output columns so
    // OFFSET/LIMIT paging is deterministic (the module's pinned discipline)
    val tie = sel.columns.filter(_ != "time").map(col(_).asc)
    val res = sel.orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*)
    applyRowRange(res, q)
  }

  /** sample(field, N): N points per (measurement, tags) series, picked by
    * deterministic md5-derived hash order over the point time (the
    * SampleOps discipline — a pure function of the data, never `rand()`,
    * so the kept set is a stable uniform sample that survives retries and
    * dataset growth, and the DuckDB oracle reproduces it exactly). One
    * rank window per series; WindowGroupLimit prunes it to the top N per
    * partition — never a full per-group sort of the output.
    */
  private def planSample(df: DataFrame, q: Query): DataFrame = {
    val it = q.fields.find(_.isAgg).get
    val f = it.bareCall.get
    // companion refs (InfluxDB 1.8) ride the sampled rows; they join the
    // window tie-break so equal-(hash, ts, value) rows pick deterministically
    val comps = q.fields.filterNot(_.isAgg)
    val compAsc = comps.map(c => col(c.refs.head).asc)
    val n = f.pct.get.toInt
    val partCols = ("transducer" +: q.groupTags).distinct
    val h = graft.operators.TextOps.hash60(col("ts_us").cast("string"))
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(Seq(h.asc, col("ts_us").asc, col(f.arg).asc) ++ compAsc: _*)
    val res = df.filter(col(f.arg).isNotNull)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .select(((col("ts_us").as("time") +: q.groupTags.map(col)) :+
        col(f.arg).as(it.outName)) ++
        comps.map(c => col(c.refs.head).as(c.outName)): _*)
    val tie = res.columns.filter(_ != "time").map(col(_).asc)
    applyRowRange(applySeriesLimit(res, q).orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*), q)
  }

  /** Selector companion columns (InfluxDB 1.8): a single bare selector —
    * max/min/first/last/percentile — beside bare field/tag references
    * returns the SELECTED point's companion values alongside the selector
    * value (`SELECT max(value), device FROM m`). top/bottom and sample
    * carry companions on their own plan paths; this covers the rank-1
    * family. Semantics pinned to InfluxDB 1.x:
    *
    *   - the output time is the selected POINT's own time; under GROUP BY
    *     time(d) it is the bucket start (these selectors, unlike
    *     top/bottom, collapse to the interval start) while companions
    *     still come from the selected point;
    *   - max picks the earliest of tied maxima, min the earliest of tied
    *     minima; first/last agree with the bare aggregate forms (min/max
    *     over (ts, value) structs); remaining ties pin on the companion
    *     values in SELECT order — the module's determinism discipline;
    *   - percentile selects an ACTUAL point by InfluxDB's nearest-rank
    *     rule (1-based rank = floor(n·P/100 + 0.5) over the
    *     value-ascending order; an out-of-range rank answers no row) —
    *     the bare percentile AGGREGATE interpolates instead, mirroring
    *     InfluxDB's own selector-vs-aggregate split;
    *   - explicit fill() is refused in validate() — companions are point
    *     values, there is nothing to densify.
    *
    * Scale: one rank window per (measurement, tags[, bucket]) group —
    * WindowGroupLimit prunes the rank-1 family to one row per group before
    * the exchange; percentile adds a count over the same partition (the
    * same single shuffle, never a self-join or second scan). The tagless
    * query windows on the measurement attribute, which Catalyst cannot
    * constant-fold, so the partitioning survives.
    */
  private def planSelectorCompanion(df: DataFrame, q: Query,
                                    sel: Item, comps: Seq[Item]): DataFrame = {
    val f = sel.bareCall.get
    val v = col(f.arg)
    val withBk = q.groupTimeUs match {
      case Some(step) => df.withColumn("__bk",
        col("ts_us") - pmod(col("ts_us") - lit(q.groupTimeOffsetUs), lit(step)))
      case None => df
    }
    val bkCols = if (q.groupTimeUs.isDefined) Seq("__bk") else Nil
    val partCols = (("transducer" +: q.groupTags).distinct ++ bkCols).map(col)
    val compAsc = comps.map(c => col(c.refs.head).asc)
    val order: Seq[Column] = (f.func match {
      case "max" => Seq(v.desc, col("ts_us").asc)
      case "min" => Seq(v.asc, col("ts_us").asc)
      case "first" => Seq(col("ts_us").asc, v.asc)
      case "last" => Seq(col("ts_us").desc, v.desc)
      case "percentile" => Seq(v.asc, col("ts_us").asc)
      case other => throw new IllegalArgumentException(
        s"InfluxQL: $other() does not take companion columns")
    }) ++ compAsc
    val w = Window.partitionBy(partCols: _*).orderBy(order: _*)
    val ranked = withBk.filter(v.isNotNull)
      .withColumn("__rk", row_number().over(w).cast("long"))
    val picked = f.func match {
      case "percentile" =>
        val p = f.pct.get
        require(p >= 0 && p <= 100, s"percentile N out of [0,100]: $p")
        val wAll = Window.partitionBy(partCols: _*)
        ranked.withColumn("__n", count(lit(1)).over(wAll))
          .filter(col("__rk") ===
            floor(col("__n").cast("double") * lit(p) / lit(100.0) + lit(0.5)))
      case _ => ranked.filter(col("__rk") === 1L)
    }
    val timeCol =
      if (q.groupTimeUs.isDefined) col("__bk").as("time")
      else col("ts_us").as("time")
    val res = picked.select(((timeCol +: q.groupTags.map(col)) :+
      v.as(sel.outName)) ++ comps.map(c => col(c.refs.head).as(c.outName)): _*)
    val tie = res.columns.filter(_ != "time").map(col(_).asc)
    applyRowRange(applySeriesLimit(res, q).orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*), q)
  }

  /** Raw distinct(field) selector: the unique values of a field per
    * (tags) group, surfaced at time 0 — InfluxDB's rule for an ungrouped
    * distinct (there is no single source point to take a time from). One
    * partial+final hash aggregate; no window, no skew.
    */
  private def planDistinct(df: DataFrame, q: Query): DataFrame = {
    val outName = q.fields.head.outName
    val f = q.fields.head.bareCall.get
    val res = df.filter(col(f.arg).isNotNull)
      .select(q.groupTags.map(col) :+ col(f.arg).as(outName): _*)
      .distinct()
      .select((lit(0L).as("time") +: q.groupTags.map(col)) :+ col(outName): _*)
    val tie = res.columns.filter(_ != "time").map(col(_).asc)
    applyRowRange(applySeriesLimit(res, q).orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*), q)
  }

  /** Raw-series transformations — `derivative(value[, unit])`,
    * `difference(value)`, `moving_average(value, N)`,
    * `cumulative_sum(value)` directly over the raw points of each series
    * (no GROUP BY time()), the core InfluxQL idiom for counters. Same
    * kernels as the bucketed path ([[applyTransforms]]) but windowed per
    * (measurement, tags) series over raw points ordered by
    * (ts, operand values) — the module's pinned tie-break, so paging and
    * lag() are deterministic cross-engine. Emission follows InfluxDB: each
    * field transforms over ITS OWN non-null points (a row where `a` is
    * null but `b` is set still advances `b`'s series — `ignoreNulls`
    * lags/conditional sums make every kernel see only that field's
    * subsequence) and emits only at those points; results merge by time.
    * The first point of a field has no derivative/difference, a
    * moving_average(N) emits from the Nth point; rows where EVERY
    * transformed field is null drop from the output.
    *
    * Scale: one window shuffle on the series key; the time predicates
    * pushed in [[plan]] still reach the parquet scan.
    */
  private def planRawTransform(df: DataFrame, q: Query): DataFrame = {
    val calls = q.fields.flatMap(_.calls).distinct
    val intName: Map[Field, String] =
      calls.zipWithIndex.map { case (f, i) => f -> s"__c$i" }.toMap
    val args = calls.map(_.arg).distinct
    val partCols = ("transducer" +: q.groupTags).distinct
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("ts_us").asc +: args.map(col(_).asc): _*)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Technical-analysis transforms need materialized intermediates (the
    // per-field subsequence diff; staged EMA outputs) — a window over a
    // window is not one expression. Each aux column follows the raw-path
    // discipline: non-null exactly at the field's own points, ignoreNulls
    // lags walk the subsequence.
    def emaSub(src: Column, n: Int, depth: Int): Column = {
      val cs = graft.operators.TimeSeriesOps.emaCoefficients(n, depth)
      val vuS = when(src.isNotNull, floor(src.cast("double") * lit(1000000.0)))
      def lagJ(j: Int): Column =
        if (j == 0) vuS else lag(vuS, j, null, ignoreNulls = true).over(w)
      val num = cs.zipWithIndex.map { case (cf, j) =>
        coalesce(lagJ(j) * lit(cf), lit(0L))
      }.reduce(_ + _)
      val den = cs.zipWithIndex.map { case (cf, j) =>
        when(lagJ(j).isNotNull, lit(cf)).otherwise(lit(0L))
      }.reduce(_ + _)
      num.cast("double") / den.cast("double") / lit(1000000.0)
    }
    def withTaColumns(base: DataFrame): DataFrame =
      calls.filter(f => TaFuncs.contains(f.transform.get)).foldLeft(base) { (d, f) =>
        val c = col(f.arg).cast("double")
        val nArg = f.targ.get.toInt
        val id = intName(f)
        f.transform.get match {
          case "relative_strength_index" | "chande_momentum_oscillator" |
               "kaufmans_efficiency_ratio" =>
            val vuF = when(c.isNotNull, floor(c * lit(1000000.0)))
            d.withColumn(s"__du$id",
              when(c.isNotNull, floor(c * lit(1000000.0)) -
                lag(vuF, 1, null, ignoreNulls = true).over(w)))
          case "exponential_moving_average" =>
            val depth = graft.operators.TimeSeriesOps.emaDialectDepth(nArg)
            d.withColumn(s"__e1$id", when(c.isNotNull, emaSub(c, nArg, depth)))
          case "kaufmans_adaptive_moving_average" =>
            throw new IllegalArgumentException(
              "InfluxQL: kaufmans_adaptive_moving_average runs on GROUP BY " +
                "time() buckets — add a time() grouping")
          case tf =>
            val depth = graft.operators.TimeSeriesOps.emaDialectDepth(nArg)
            val stages = if (tf == "double_exponential_moving_average") 2 else 3
            var dd = d.withColumn(s"__e1$id", when(c.isNotNull, emaSub(c, nArg, depth)))
            for (k <- 2 to stages)
              dd = dd.withColumn(s"__e$k$id",
                when(col(s"__e${k - 1}$id").isNotNull,
                  emaSub(col(s"__e${k - 1}$id"), nArg, depth)))
            dd
        }
      }
    def kernel(f: Field): Column = {
      val c = col(f.arg).cast("double")
      val vu = floor(c * lit(1000000.0)).cast("decimal(38,0)")
      // previous point OF THIS FIELD: ignoreNulls lag skips rows where the
      // operand is absent, so each field walks its own subsequence even
      // when other SELECT operands interleave on different rows
      def prevVal: Column = lag(c, 1, null, true).over(w)
      def prevTs: Column =
        lag(when(c.isNotNull, col("ts_us")), 1, null, true).over(w)
      val out = f.transform.get match {
        case tf @ ("derivative" | "non_negative_derivative") =>
          // duplicate-timestamp points have no defined rate: Δt = 0 emits
          // null (InfluxDB never sees the case — its storage collapses
          // duplicate timestamps; raw parquet points can carry them)
          val dt = (col("ts_us") - prevTs).cast("double")
          val dv = when(dt =!= 0.0,
            (c - prevVal) / (dt / lit(f.targ.get.toDouble)))
          if (tf == "derivative") dv
          else when(dv < 0, lit(null).cast("double")).otherwise(dv)
        case tf @ ("difference" | "non_negative_difference") =>
          val dv = c - prevVal
          if (tf == "difference") dv
          else when(dv < 0, lit(null).cast("double")).otherwise(dv)
        case "cumulative_sum" =>
          // 1e-6-quantized int64/decimal running sum: order-independent,
          // one double conversion at the end (the bucketed path's pin);
          // sum() skips null vu, so the running sum is per-field already
          sum(vu).over(cum).cast("double") / lit(1000000.0)
        case "moving_average" =>
          // per-field frame-of-N emulated on the shared window: S = this
          // field's running sum, lag(S, n, ignoreNulls) = S at the n-th
          // previous point of THIS field, so S - lagS = sum of the last n
          // values of the field regardless of interleaved other-field rows
          val n = f.targ.get.toInt
          val s = sum(vu).over(cum)
          val lagS = lag(when(c.isNotNull, s), n, null, true).over(w)
          when(count(c).over(cum) >= n,
            (s - coalesce(lagS, lit(0).cast("decimal(38,0)"))).cast("double") /
              lit(n.toDouble) / lit(1000000.0))
        case "exponential_moving_average" => col(s"__e1${intName(f)}")
        case "double_exponential_moving_average" =>
          lit(2.0) * col(s"__e1${intName(f)}") - col(s"__e2${intName(f)}")
        case "triple_exponential_moving_average" =>
          lit(3.0) * col(s"__e1${intName(f)}") -
            lit(3.0) * col(s"__e2${intName(f)}") + col(s"__e3${intName(f)}")
        case "triple_exponential_derivative" =>
          // percent change of e3 to THIS FIELD's previous point (subsequence
          // semantics, like prevVal above)
          val e3 = col(s"__e3${intName(f)}")
          val prev = lag(when(c.isNotNull, e3), 1, null, true).over(w)
          when(prev.isNotNull && prev =!= 0.0,
            (lit(100.0) * (e3 - prev)) / prev).otherwise(lit(null).cast("double"))
        case "relative_strength_index" =>
          // truncated Wilder kernel over the field's subsequence diffs; the
          // only null du inside the subsequence is its head, which carries
          // no mass — so ignoreNulls lags stay position-aligned
          val nArg = f.targ.get.toInt
          val cs = graft.operators.TimeSeriesOps.wilderCoefficients(
            nArg, graft.operators.TimeSeriesOps.wilderDialectDepth(nArg))
          val du = col(s"__du${intName(f)}")
          def lagJ(j: Int): Column =
            if (j == 0) du else lag(du, j, null, ignoreNulls = true).over(w)
          val g = cs.zipWithIndex.map { case (cf, j) =>
            coalesce(when(lagJ(j) > 0, lagJ(j)).otherwise(lit(0L)) * lit(cf), lit(0L))
          }.reduce(_ + _)
          val l = cs.zipWithIndex.map { case (cf, j) =>
            coalesce(when(lagJ(j) < 0, -lagJ(j)).otherwise(lit(0L)) * lit(cf), lit(0L))
          }.reduce(_ + _)
          val mass = cs.zipWithIndex.map { case (cf, j) =>
            when(lagJ(j).isNotNull, lit(cf)).otherwise(lit(0L))
          }.reduce(_ + _)
          when(mass > 0,
            when(g + l === 0, lit(50.0))
              .otherwise((lit(100.0) * g.cast("double")) / (g + l).cast("double")))
            .otherwise(lit(null).cast("double"))
        case tf @ ("chande_momentum_oscillator" | "kaufmans_efficiency_ratio") =>
          // trailing-n diff sums via the running-sum trick (as moving_average
          // above); the guard — the field HAS an n-back point — also means
          // every diff in the window exists, so the sums are over exactly n
          val nArg = f.targ.get.toInt
          val du = col(s"__du${intName(f)}")
          val vuF = when(c.isNotNull, floor(c * lit(1000000.0)))
          val lagVuN = lag(vuF, nArg, null, true).over(w)
          def trailing(contrib: Column): Column = {
            val s = sum(when(c.isNotNull, coalesce(contrib, lit(0L)))).over(cum)
            s - coalesce(lag(when(c.isNotNull, s), nArg, null, true).over(w), lit(0L))
          }
          if (tf == "chande_momentum_oscillator") {
            val up = trailing(when(du > 0, du).otherwise(lit(0L)))
            val down = trailing(when(du < 0, -du).otherwise(lit(0L)))
            when(lagVuN.isNotNull,
              when(up + down === 0, lit(0.0))
                .otherwise((lit(100.0) * (up - down).cast("double")) /
                  (up + down).cast("double")))
              .otherwise(lit(null).cast("double"))
          } else {
            val vol = trailing(abs(du))
            val dir = abs(floor(c * lit(1000000.0)) - lagVuN)
            when(lagVuN.isNotNull,
              when(vol === 0, lit(0.0))
                .otherwise(dir.cast("double") / vol.cast("double")))
              .otherwise(lit(null).cast("double"))
          }
        case other => throw new IllegalArgumentException(s"unsupported raw transform $other")
      }
      // a field emits only at its own points
      when(c.isNotNull, out)
    }
    // groupTags already carries `transducer` for regex FROM (resolve());
    // the caller's out() renames it to `measurement` after paging
    val computed = withTaColumns(df
      .filter(args.map(col(_).isNotNull).reduce(_ || _)))
      .select((col("ts_us") +: partCols.map(col)) ++
        calls.map(f => kernel(f).as(intName(f))): _*)
      // InfluxDB's emission rule: a row appears only if some field emitted
      .filter(calls.map(f => col(intName(f)).isNotNull).reduce(_ || _))
    val sel = computed.select(
      (col("ts_us").as("time") +: q.groupTags.map(col)) ++
        q.fields.map(it => compileItem(it.expr, f => col(intName(f))).as(it.outName)): _*)
    val tie = sel.columns.filter(_ != "time").map(col(_).asc)
    val res = applySeriesLimit(sel, q).orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*)
    applyRowRange(res, q)
  }

  private def planRaw(df: DataFrame, q: Query): DataFrame = {
    val head =
      if (q.fromRegex) Seq(col("ts_us").as("time"), col("transducer").as("measurement"))
      else Seq(col("ts_us").as("time"))
    val noCalls: Field => Column =
      f => throw new IllegalArgumentException(s"unexpected aggregate ${f.func}")
    val cols = head ++ q.fields.map(it => compileItem(it.expr, noCalls).as(it.outName))
    val sel = df.select(cols: _*)
    // tie-break equal timestamps on the remaining output columns: paged raw
    // scans must return the same rows on every run and engine
    val tie = sel.columns.filter(_ != "time").map(col(_).asc)
    val out = sel.orderBy(
      (if (q.timeDesc) col("time").desc else col("time").asc) +: tie.toSeq: _*)
    applyRowRange(out, q)
  }

  /** One aggregation expression per SELECT function, each deterministic
    * cross-engine (see class doc): decimal-routed sums, struct-tie-broken
    * selectors, exact-moment stddev.
    */
  private def aggExpr(f: Field): Column = aggExprOn(f, col("ts_us"))

  private def aggExprOn(f: Field, ts: Column): Column = {
    val v = col(f.arg)
    f.func match {
      case "count" => count(v)
      case "count_distinct" => countDistinct(v)
      case "sum" => sum(v.cast("decimal(38,4)")).cast("double")
      case "mean" =>
        sum(v.cast("decimal(38,4)")).cast("double") / count(v).cast("double")
      case "min" => min(v)
      case "max" => max(v)
      case "first" => min(struct(ts.as("t"), v.as("v"))).getField("v")
      case "last" => max(struct(ts.as("t"), v.as("v"))).getField("v")
      case "median" => expr(s"percentile(${f.arg}, 0.5)")
      case "percentile" =>
        val p = f.pct.get
        require(p >= 0 && p <= 100, s"percentile N out of [0,100]: $p")
        expr(s"percentile(${f.arg}, ${p / 100.0})")
      case "spread" => max(v) - min(v)
      case "stddev" =>
        // sample stddev of 1e-6-quantized values from exact integer moments
        // (the pearsonUnits discipline): operand-first decimal casts keep
        // the products exact and order-independent; each moment converts to
        // double ONCE, then a fixed IEEE tree — bit-identical cross-engine
        val vu = floor(v * lit(1000000.0)).cast("decimal(38,0)")
        val nd = count(v).cast("double")
        val s1 = sum(vu).cast("double")
        val s2 = sum(vu * vu).cast("double")
        when(count(v) > 1,
          sqrt((nd * s2 - s1 * s1) /
            (count(v) * (count(v) - lit(1L))).cast("double")) / lit(1000000.0))
          .otherwise(lit(null).cast("double"))
      case other => throw new IllegalArgumentException(s"unsupported function $other")
    }
  }

  /** Densify the bucketed aggregate over the queried time range and fill
    * empty buckets per the FILL mode. The skeleton is series-keys ×
    * sequence(bucket starts) — a bounded explode, never a driver loop; all
    * fill modes ride ONE window shuffle on the grouping tags.
    */
  private def applyFill(grouped: DataFrame, q: Query, step: Long,
                        partCols: Seq[String], aggNames: Seq[String]): DataFrame = {
    if (q.fill == FillNone) return grouped
    // the default fill(null) densifies only when the query bounds the range
    // (InfluxDB likewise only emits empty buckets inside explicit bounds);
    // an EXPLICIT fill with no finite skeleton is a user error and throws
    if (q.fill == FillNull && fillBoundsOpt(q).isEmpty) return grouped
    val (lo, hi) = fillBounds(q)
    val off = q.groupTimeOffsetUs
    // with tz() the skeleton densifies in the zone's WALL clock (uniform
    // steps there, non-uniform instants across DST) and each wall bucket
    // converts back to its UTC instant — matching the grouped bucket ids
    def wallUs(us: Long, zone: java.time.ZoneId): Long = {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      us + zone.getRules.getOffset(inst).getTotalSeconds * 1000000L
    }
    val (loT, hiT) = q.tz match {
      case Some(z) =>
        val zone = java.time.ZoneId.of(z)
        (wallUs(lo, zone), wallUs(hi - 1, zone))
      case None => (lo, hi - 1)
    }
    val bLo = loT - Math.floorMod(loT - off, step)
    val bHi = hiT - Math.floorMod(hiT - off, step)
    // max-select-buckets guard: the skeleton is ONE sequence() array per
    // series row before the explode, so an unbounded range would build a
    // multi-million-element array in a single row (executor OOM). Fail
    // fast like InfluxDB instead (TimeSeriesOps.MaxFillBuckets).
    val nBuckets = (bHi - bLo) / step + 1
    require(nBuckets <= graft.operators.TimeSeriesOps.MaxFillBuckets,
      s"fill skeleton of $nBuckets buckets exceeds max " +
        s"${graft.operators.TimeSeriesOps.MaxFillBuckets} (max-select-buckets); " +
        "widen GROUP BY time() or narrow the WHERE time range")
    // max-select-series face of the same guard: the skeleton's TOTAL row
    // count is buckets × series. Checked only past the probe threshold so
    // small skeletons (every dashboard query) never pay the extra jobs.
    // In the probe regime this deliberately EXECUTES at plan time — the
    // guard must refuse loudly before any skeleton row generates, EXPLAIN
    // of a pathological statement included — and once the guard passes,
    // the series frame is provably tiny (≤ MaxFillRows / nBuckets rows),
    // so it checkpoints and the skeleton reuses it instead of recomputing
    // the aggregation's distinct a second time at execution.
    val seriesFrame0 = grouped.select(partCols.map(col): _*).distinct()
    val seriesFrame =
      if (nBuckets > graft.operators.TimeSeriesOps.FillSeriesProbeBuckets &&
          partCols.nonEmpty) {
        val nSeries = seriesFrame0.count()
        require(nBuckets * nSeries <= graft.operators.TimeSeriesOps.MaxFillRows,
          s"fill skeleton of $nBuckets buckets x $nSeries series = " +
            s"${nBuckets * nSeries} rows exceeds max " +
            s"${graft.operators.TimeSeriesOps.MaxFillRows} (max-select-series); " +
            "widen GROUP BY time(), narrow the WHERE time range, or filter tags")
        seriesFrame0.localCheckpoint(true)
      } else seriesFrame0
    val timeCol = q.tz match {
      case Some(z) =>
        unix_micros(to_utc_timestamp(timestamp_micros(col("__wall")), z)).as("time")
      case None => col("__wall").as("time")
    }
    // a wall bucket start inside a spring-forward gap (e.g. 02:00 on the
    // transition day with time(1h)) does not exist locally: to_utc resolves
    // it forward onto the NEXT bucket's instant, which would duplicate that
    // skeleton row. Keep only wall values that round-trip utc→wall — a
    // map-side filter, no extra shuffle (vs dropDuplicates)
    val wallExists: Column = q.tz match {
      case Some(z) =>
        unix_micros(from_utc_timestamp(
          to_utc_timestamp(timestamp_micros(col("__wall")), z), z)) === col("__wall")
      case None => lit(true)
    }
    val skeleton = seriesFrame
      .select(
        (partCols.map(col) :+
          explode(sequence(lit(bLo), lit(bHi), lit(step))).as("__wall")): _*)
      .filter(wallExists)
      .select((partCols.map(col) :+ timeCol): _*)
    val joined = skeleton.join(grouped, "time" +: partCols, "left")

    def series = Window.partitionBy(partCols.map(col): _*)
    val back = series.orderBy(col("time")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = series.orderBy(col("time")).rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val outCols = col("time") +: partCols.map(col)
    val filledAggs: Seq[Column] = q.fill match {
      case FillNull => aggNames.map(col)
      case FillValue(x) =>
        // the literal takes each aggregate's own type (fill(0) on a count
        // stays a long; on a mean stays a double)
        aggNames.map { n =>
          val dt = grouped.schema(n).dataType
          coalesce(col(n), lit(x).cast(dt)).as(n)
        }
      case FillPrevious =>
        aggNames.map(n => last(col(n), ignoreNulls = true).over(back).as(n))
      case FillLinear =>
        // integer aggregates promote to double: a straight line between two
        // counts is generally not a whole number
        aggNames.map { n =>
          val c = col(n).cast("double")
          val obs = when(c.isNotNull, col("time"))
          val pv = last(c, ignoreNulls = true).over(back)
          val pb = last(obs, ignoreNulls = true).over(back)
          val nv = first(c, ignoreNulls = true).over(fwd)
          val nb = first(obs, ignoreNulls = true).over(fwd)
          when(c.isNotNull, c)
            .when(pv.isNotNull && nv.isNotNull,
              pv + (nv - pv) * ((col("time") - pb).cast("double") / (nb - pb).cast("double")))
            .otherwise(lit(null).cast("double")).as(n)
        }
      case FillNone => aggNames.map(col) // unreachable (early return)
    }
    joined.select(outCols ++ filledAggs: _*)
  }

  /** InfluxQL transformations over the (densified) bucket series — one
    * window on the grouping tags ordered by bucket time, shared by every
    * transformed field; runs AFTER fill, so `fill(previous)` feeds LOCF'd
    * values into a derivative exactly as InfluxDB sequences it.
    *
    * Determinism pins: a transform whose operand bucket (or its
    * predecessor) is null yields null — nulls propagate, they are never
    * skipped over; cumulative_sum and moving_average run on
    * 1e-6-quantized int64/decimal sums (order-independent, one double
    * conversion at the end), while derivative/difference are two-operand
    * fixed IEEE trees on exact inputs.
    */
  private def applyTransforms(df: DataFrame, q: Query, partCols: Seq[String],
                              intName: Map[Field, String]): DataFrame = {
    val tcalls = q.fields.flatMap(_.calls).distinct.filter(_.transform.nonEmpty)
    if (tcalls.isEmpty) return df
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ---- shared kernel stages -------------------------------------------
    // Sibling indicators of ONE inner aggregate recompute identical
    // intermediates: ema/dema/tema/trix over the same (agg, N) share their
    // staged EMA columns (dema's stage 1 IS ema; trix's stages ARE tema's),
    // and rsi/cmo/ker share the quantized bucket diff. Computing each
    // shared column ONCE — from the group's representative agg column,
    // whose values are bit-identical across the group — folds the TA sweep
    // from one Window chain per call to one per distinct kernel stage,
    // without touching a single emitted value (the expressions are the
    // same, just not re-planned per sibling).
    val emaKinds = Set("exponential_moving_average",
      "double_exponential_moving_average", "triple_exponential_moving_average",
      "triple_exponential_derivative")
    val diffKinds = Set("relative_strength_index",
      "chande_momentum_oscillator", "kaufmans_efficiency_ratio")
    def stagesOf(tf: String): Int = tf match {
      case "exponential_moving_average" => 1
      case "double_exponential_moving_average" => 2
      case _ => 3
    }
    def groupKey(f: Field) = (f.func, f.arg, f.pct, f.targ)
    var d0 = df
    val emaStage = scala.collection.mutable.Map.empty[((String, String, Option[Double], Option[Long]), Int), String]
    for ((key, fs) <- tcalls.filter(f => emaKinds(f.transform.get)).groupBy(groupKey)) {
      val rep = intName(fs.head)
      val nArg = fs.head.targ.get.toInt
      val depth = graft.operators.TimeSeriesOps.emaDialectDepth(nArg)
      val stages = fs.map(f => stagesOf(f.transform.get)).max
      for (k <- 1 to stages) {
        val sn = s"__shema_${rep}_$k"
        val src = if (k == 1) col(rep).cast("double") else col(emaStage((key, k - 1)))
        d0 = d0.withColumn(sn, when(src.isNotNull,
          graft.operators.TimeSeriesOps.exponentialMovingAverage(src, w, nArg, depth)))
        emaStage((key, k)) = sn
      }
    }
    val sharedDiff = scala.collection.mutable.Map.empty[(String, String, Option[Double], Option[Long]), String]
    for ((key, fs) <- tcalls.filter(f => diffKinds(f.transform.get)).groupBy(groupKey)) {
      val rep = intName(fs.head)
      val vuL = floor(col(rep).cast("double") * lit(1000000.0))
      val duN = s"__shdu_$rep"
      d0 = d0.withColumn(duN, vuL - lag(vuL, 1).over(w))
      sharedDiff(key) = duN
    }
    val sharedCols = (emaStage.values ++ sharedDiff.values).toSeq
    // each transformed call column rewrites IN PLACE from its own inner
    // aggregate (independent of the other columns, so sequential
    // withColumn is one collapsed Project over the shared window)
    tcalls.foldLeft(d0) { (d, f) =>
      val n = intName(f)
      val c = col(n).cast("double")
      val vu = floor(c * lit(1000000.0)).cast("decimal(38,0)")
      f.transform.get match {
        case tf @ ("derivative" | "non_negative_derivative") =>
          val dv = (c - lag(c, 1).over(w)) /
            ((col("time") - lag(col("time"), 1).over(w)).cast("double") /
              lit(f.targ.get.toDouble))
          d.withColumn(n, if (tf == "derivative") dv
            else when(dv < 0, lit(null).cast("double")).otherwise(dv))
        case tf @ ("difference" | "non_negative_difference") =>
          val dv = c - lag(c, 1).over(w)
          d.withColumn(n, if (tf == "difference") dv
            else when(dv < 0, lit(null).cast("double")).otherwise(dv))
        case "cumulative_sum" =>
          d.withColumn(n, sum(vu).over(cum).cast("double") / lit(1000000.0))
        case "moving_average" =>
          val frame = w.rowsBetween(-(f.targ.get.toInt - 1), Window.currentRow)
          d.withColumn(n, sum(vu).over(frame).cast("double") /
            count(c).over(frame).cast("double") / lit(1000000.0))
        case tf @ ("exponential_moving_average" | "double_exponential_moving_average" |
                   "triple_exponential_moving_average" | "triple_exponential_derivative") =>
          // staged truncated-kernel EMAs (TimeSeriesOps discipline): each
          // stage re-quantizes inside the kernel, null buckets carry no
          // mass, and the indicator emits only at non-null operand buckets.
          // The stages themselves are the SHARED columns computed above —
          // sibling indicators read them instead of re-planning them
          val sn = (1 to stagesOf(tf)).map(k => col(emaStage((groupKey(f), k))))
          val out = tf match {
            case "exponential_moving_average" => sn(0)
            case "double_exponential_moving_average" =>
              lit(2.0) * sn(0) - sn(1)
            case "triple_exponential_moving_average" =>
              lit(3.0) * sn(0) - lit(3.0) * sn(1) + sn(2)
            case "triple_exponential_derivative" =>
              // percent change of the triple-smoothed series; the previous
              // BUCKET's value (positional — nulls propagate, the bucketed
              // path's two-operand pin)
              val prev = lag(sn(2), 1).over(w)
              when(prev.isNotNull && prev =!= 0.0,
                (lit(100.0) * (sn(2) - prev)) / prev)
                .otherwise(lit(null).cast("double"))
          }
          d.withColumn(n, when(c.isNotNull, out))
        case "kaufmans_adaptive_moving_average" =>
          // KAMA is the one TA recurrence whose smoothing constant is
          // data-dependent per step: sc = (er·(2/3 − 2/31) + 2/31)² with
          // er the trailing efficiency ratio (InfluxDB's fast=2 / slow=30
          // constants). sc computes per bucket on the KER int64 machinery;
          // the recursion itself runs as kamaScan's per-series O(1)-state
          // partition scan (one repartition on the series key, join back
          // on (series, time)). Buckets without a defined ratio emit null
          // and do not advance the state; the first ratio-bearing bucket
          // seeds with its own value.
          val nArg = f.targ.get.toInt
          val pN = s"__p_$n"
          val duN = s"__du_$n"
          val scN = s"__sc_$n"
          val dd = d.withColumnRenamed(n, pN)
          val cP = col(pN).cast("double")
          val vuP = floor(cP * lit(1000000.0))
          val er = graft.operators.TimeSeriesOps.kaufmansEfficiencyRatio(
            vuP, col(duN), w, nArg)
          val sct = er * lit(2.0 / 3.0 - 2.0 / 31.0) + lit(2.0 / 31.0)
          val dd2 = dd.withColumn(duN, vuP - lag(vuP, 1).over(w))
            .withColumn(scN, when(cP.isNotNull, sct * sct))
          graft.operators.TimeSeriesOps.kamaScan(
            dd2, partCols, "time", pN, scN, n)
            .drop(duN, scN, pN)
        case tf @ ("relative_strength_index" | "chande_momentum_oscillator" |
                   "kaufmans_efficiency_ratio") =>
          // diff-based indicators need the quantized bucket-to-bucket diff
          // materialized first (window-in-window is not expressible); diffs
          // across a null neighbor are null and contribute nothing. The
          // diff is the SHARED column computed above — rsi/cmo/ker of one
          // inner aggregate read one materialization of it
          val nArg = f.targ.get.toInt
          val vuL = floor(c * lit(1000000.0))
          val duC = col(sharedDiff(groupKey(f)))
          val out = tf match {
            case "relative_strength_index" =>
              graft.operators.TimeSeriesOps.relativeStrengthIndex(
                duC, w, nArg, graft.operators.TimeSeriesOps.wilderDialectDepth(nArg))
            case "chande_momentum_oscillator" =>
              graft.operators.TimeSeriesOps.chandeMomentumOscillator(vuL, duC, w, nArg)
            case "kaufmans_efficiency_ratio" =>
              graft.operators.TimeSeriesOps.kaufmansEfficiencyRatio(vuL, duC, w, nArg)
          }
          d.withColumn(n, when(c.isNotNull, out))
        case other => throw new IllegalArgumentException(s"unsupported transform $other")
      }
    }.drop(sharedCols: _*)
  }

  /** FILL needs explicit bounds: InfluxDB likewise only densifies inside the
    * queried range — without both bounds there is no finite skeleton.
    */
  private def fillBounds(q: Query): (Long, Long) =
    fillBoundsOpt(q).getOrElse(throw new IllegalArgumentException(
      "InfluxQL: FILL() other than none needs both time bounds in WHERE"))

  private def fillBoundsOpt(q: Query): Option[(Long, Long)] = {
    val lo = q.conds.collect {
      case TimeCond(">=", us) => us
      case TimeCond(">", us) => us + 1
    }
    val hi = q.conds.collect {
      case TimeCond("<", us) => us
      case TimeCond("<=", us) => us + 1
    }
    if (lo.isEmpty || hi.isEmpty) None else Some((lo.max, hi.min))
  }
}
