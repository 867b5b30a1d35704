package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.functions.{col, concat, lit, timestamp_micros}
import graft.influxql.{InfluxQL, RetentionPolicies}

/** Randomized differential test: the InfluxQL planner against an exact
  * in-memory reference interpreter, over the aggregate subset (functions,
  * expressions, WHERE trees, time buckets with offsets, tags, fills).
  *
  * The interpreter mirrors the engine's determinism pins literally —
  * decimal(38,4)-routed sums, (ts, value) struct tie-breaks for
  * first/last, per-call fill before expression arithmetic, double
  * expression trees with leaf casts — so every comparison is bit-exact,
  * not tolerance-based. 80 seeded random queries over 300 seeded random
  * points; any mismatch prints the offending query text.
  */
class InfluxQLDifferentialSpec extends SparkSuite {
  import spark.implicits._

  // deep-verification knob: scale every seeded loop (default 1x); a
  // one-off `GRAFT_DIFF_SCALE=5 sbt test` shakes out rare seeds without
  // making the routine suite slower
  private val diffScale: Int =
    sys.env.getOrElse("GRAFT_DIFF_SCALE", "1").toInt.max(1)

  private case class Pt(device: String, ts: Long, value: Double)

  // one interpreted aggregate call; returns Long (count) or Double, null-able
  private def aggCall(fn: String, pct: Option[Int], rows: Seq[Pt]): Any = fn match {
    case "count" => rows.size.toLong
    case "sum" =>
      if (rows.isEmpty) null
      else rows.map(p => BigDecimal(p.value).setScale(4, RoundingMode.HALF_UP))
        .sum.toDouble
    case "mean" =>
      if (rows.isEmpty) null
      else aggCall("sum", None, rows).asInstanceOf[Double] / rows.size.toDouble
    case "min" => if (rows.isEmpty) null else rows.map(_.value).min
    case "max" => if (rows.isEmpty) null else rows.map(_.value).max
    case "spread" =>
      if (rows.isEmpty) null else rows.map(_.value).max - rows.map(_.value).min
    case "first" =>
      if (rows.isEmpty) null else rows.minBy(p => (p.ts, p.value)).value
    case "last" =>
      if (rows.isEmpty) null else rows.maxBy(p => (p.ts, p.value)).value
    case "median" => aggCall("percentile", Some(50), rows)
    case "percentile" =>
      // Spark's Percentile interpolation formula, operation for operation:
      // v[lo]·(hi - pos) + v[hi]·(pos - lo) — algebraically the type-7
      // lerp but a DIFFERENT IEEE tree than v[lo] + frac·(v[hi]-v[lo])
      if (rows.isEmpty) null
      else {
        val vs = rows.map(_.value).sorted
        val pos = (pct.get / 100.0) * (vs.size - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        if (lo == hi) vs(lo) else vs(lo) * (hi - pos) + vs(hi) * (pos - lo)
      }
    case "stddev" =>
      // exact integer moments of 1e-6-quantized values, one double
      // conversion per moment, then a fixed IEEE tree (the engine's pin)
      if (rows.size < 2) null
      else {
        val vu = rows.map(p => BigInt(math.floor(p.value * 1000000.0).toLong))
        val n = rows.size.toLong
        val nd = n.toDouble
        val s1 = BigDecimal(vu.sum).toDouble
        val s2 = BigDecimal(vu.map(u => u * u).sum).toDouble
        math.sqrt((nd * s2 - s1 * s1) / (n * (n - 1)).toDouble) / 1000000.0
      }
    case "mode" =>
      // most frequent value; equally frequent ties pick the SMALLEST value
      if (rows.isEmpty) null
      else rows.groupBy(_.value).view.mapValues(_.size).toSeq
        .maxBy { case (v, c) => (c, -v) }._1
    case "integral" =>
      // the engine's pin operation for operation: points ordered by
      // (ts, value), per-segment fixed IEEE tree (v+pv)/2 * (dt/unit),
      // floor-quantized at 1e-6, int64 sum, ONE final division; a lone
      // point has no segment and answers 0.0 (pct carries the unit in us)
      if (rows.isEmpty) null
      else {
        val unit = pct.map(_.toDouble).getOrElse(1000000.0)
        val s = rows.sortBy(p => (p.ts, p.value))
        val u = s.sliding(2).collect { case Seq(a, b) =>
          math.floor((b.value + a.value) / 2.0 *
            ((b.ts - a.ts).toDouble / unit) * 1000000.0).toLong
        }.sum
        u.toDouble / 1000000.0
      }
  }

  // a generated SELECT item: a call, optionally transform-wrapped,
  // optionally combined with a literal
  private case class GItem(fn: String, pct: Option[Int], op: Option[(Char, Double)],
                           alias: String, tf: Option[(String, Long)] = None) {
    private def call: String = {
      // integral's second argument is a DURATION (unit), not a number
      val inner =
        if (fn == "integral") pct.fold("integral(value)")(u => s"integral(value, ${u}u)")
        else pct.fold(s"$fn(value)")(p => s"$fn(value, $p)")
      tf match {
        case None => inner
        case Some(("moving_average", k)) => s"moving_average($inner, $k)"
        case Some(("derivative", u)) => s"derivative($inner, ${u}u)"
        case Some(("non_negative_derivative", u)) => s"non_negative_derivative($inner, ${u}u)"
        case Some((t, k)) if InfluxQL.TaFuncs.contains(t) => s"$t($inner, $k)"
        case Some((t, _)) => s"$t($inner)"
      }
    }
    def text: String = op match {
      case None => s"$call AS $alias"
      case Some((c, k)) => s"$call $c $k AS $alias"
    }
    // expression evaluation mirrors compileExpr: leaves cast to double
    def eval(call: Any): Any = op match {
      case None => call
      case Some((c, k)) =>
        if (call == null) null
        else {
          val d = call match { case l: Long => l.toDouble; case x: Double => x }
          c match { case '+' => d + k; case '-' => d - k; case '*' => d * k }
        }
    }
  }

  /** Apply one InfluxQL transformation along a series of (bucket, value)
    * pairs — the literal mirror of the engine's window formulas: operands
    * cast to double, kernels on floor(c·1e6) decimals summed exactly,
    * nulls propagating through two-operand forms and skipped by the
    * running/frame sums.
    */
  private def applyTf(tf: String, targ: Long, buckets: Seq[Long],
                      vals: Seq[Any]): Seq[Any] = {
    val c: Seq[Any] = vals.map {
      case null => null
      case l: Long => l.toDouble
      case d: Double => d
    }
    def vu(i: Int): Option[BigInt] = c(i) match {
      case null => None
      case d: Double => Some(BigInt(math.floor(d * 1000000.0).toLong))
    }
    tf match {
      case "derivative" | "non_negative_derivative" =>
        c.indices.map { i =>
          if (i == 0 || c(i) == null || c(i - 1) == null) null
          else {
            val d = (c(i).asInstanceOf[Double] - c(i - 1).asInstanceOf[Double]) /
              ((buckets(i) - buckets(i - 1)).toDouble / targ.toDouble)
            if (tf == "non_negative_derivative" && d < 0) null else d
          }
        }
      case "difference" | "non_negative_difference" =>
        c.indices.map { i =>
          if (i == 0 || c(i) == null || c(i - 1) == null) null
          else {
            val d = c(i).asInstanceOf[Double] - c(i - 1).asInstanceOf[Double]
            if (tf == "non_negative_difference" && d < 0) null else d
          }
        }
      case "cumulative_sum" =>
        var seen = false
        var run = BigInt(0)
        c.indices.map { i =>
          vu(i).foreach { u => seen = true; run += u }
          if (!seen) null else BigDecimal(run).toDouble / 1000000.0
        }
      case "moving_average" =>
        c.indices.map { i =>
          val frame = (math.max(0, i - targ.toInt + 1) to i).flatMap(vu)
          if (frame.isEmpty) null
          else BigDecimal(frame.sum).toDouble / frame.size.toDouble / 1000000.0
        }
      case "exponential_moving_average" | "double_exponential_moving_average" |
           "triple_exponential_moving_average" | "triple_exponential_derivative" =>
        // the dialect's truncated integer EMA kernel, staged with per-stage
        // re-quantization — the literal mirror of applyTransforms
        import graft.operators.TimeSeriesOps
        val nArg = targ.toInt
        val cs = TimeSeriesOps.emaCoefficients(nArg, TimeSeriesOps.emaDialectDepth(nArg))
        def emaPass(src: Seq[Any]): Seq[Any] = {
          val us: Seq[Option[Long]] = src.map {
            case null => None
            case d: Double => Some(math.floor(d * 1000000.0).toLong)
          }
          src.indices.map { i =>
            if (us(i).isEmpty) null
            else {
              val js = cs.indices.filter(j => i - j >= 0 && us(i - j).nonEmpty)
              val num = js.map(j => BigInt(cs(j)) * us(i - j).get).sum
              val den = js.map(cs(_)).sum
              num.toDouble / den.toDouble / 1000000.0
            }
          }
        }
        val e1 = emaPass(c)
        lazy val e2 = emaPass(e1)
        lazy val e3 = emaPass(e2)
        tf match {
          case "exponential_moving_average" => e1
          case "double_exponential_moving_average" =>
            c.indices.map(i => if (e1(i) == null) null
              else 2.0 * e1(i).asInstanceOf[Double] - e2(i).asInstanceOf[Double])
          case "triple_exponential_moving_average" =>
            c.indices.map(i => if (e1(i) == null) null
              else 3.0 * e1(i).asInstanceOf[Double] -
                3.0 * e2(i).asInstanceOf[Double] + e3(i).asInstanceOf[Double])
          case "triple_exponential_derivative" =>
            c.indices.map { i =>
              if (e3(i) == null || i == 0 || e3(i - 1) == null) null
              else {
                val prev = e3(i - 1).asInstanceOf[Double]
                if (prev == 0.0) null
                else (100.0 * (e3(i).asInstanceOf[Double] - prev)) / prev
              }
            }
        }
      case "relative_strength_index" | "chande_momentum_oscillator" |
           "kaufmans_efficiency_ratio" | "kaufmans_adaptive_moving_average" =>
        import graft.operators.TimeSeriesOps
        val nArg = targ.toInt
        val vus: Seq[Option[Long]] = c.map {
          case null => None
          case d: Double => Some(math.floor(d * 1000000.0).toLong)
        }
        // positional bucket-to-bucket diff: null through a null neighbor
        val dus: Seq[Option[Long]] = c.indices.map { i =>
          if (i == 0) None
          else for (a <- vus(i); b <- vus(i - 1)) yield a - b
        }
        tf match {
          case "relative_strength_index" =>
            val cs = TimeSeriesOps.wilderCoefficients(
              nArg, TimeSeriesOps.wilderDialectDepth(nArg))
            c.indices.map { i =>
              if (vus(i).isEmpty) null
              else {
                var g = BigInt(0); var l = BigInt(0); var mass = 0L
                cs.indices.foreach { j =>
                  if (i - j >= 0) dus(i - j).foreach { du =>
                    if (du > 0) g += BigInt(cs(j)) * du
                    else if (du < 0) l += BigInt(cs(j)) * (-du)
                    mass += cs(j)
                  }
                }
                if (mass == 0) null
                else if (g + l == 0) 50.0
                else (100.0 * g.toDouble) / (g + l).toDouble
              }
            }
          case "chande_momentum_oscillator" =>
            c.indices.map { i =>
              if (vus(i).isEmpty || i - nArg < 0 || vus(i - nArg).isEmpty) null
              else {
                val frame = (i - nArg + 1 to i).flatMap(dus)
                val up = frame.filter(_ > 0).sum
                val down = frame.filter(_ < 0).map(-_).sum
                if (up + down == 0) 0.0
                else (100.0 * (up - down).toDouble) / (up + down).toDouble
              }
            }
          case "kaufmans_efficiency_ratio" =>
            c.indices.map { i =>
              if (vus(i).isEmpty || i - nArg < 0 || vus(i - nArg).isEmpty) null
              else {
                val frame = (i - nArg + 1 to i).flatMap(dus)
                if (frame.isEmpty) null
                else {
                  val vol = frame.map(_.abs).sum
                  if (vol == 0) 0.0
                  else (vus(i).get - vus(i - nArg).get).abs.toDouble / vol.toDouble
                }
              }
            }
          case "kaufmans_adaptive_moving_average" =>
            // the efficiency ratio exactly as above, then the pinned
            // recursion: a null-ratio bucket emits null WITHOUT advancing
            // the state; the first ratio-bearing bucket seeds with its
            // own (double) value
            val A = 2.0 / 3.0 - 2.0 / 31.0
            val B = 2.0 / 31.0
            var kama: java.lang.Double = null
            c.indices.map { i =>
              val er: Option[Double] =
                if (vus(i).isEmpty || i - nArg < 0 || vus(i - nArg).isEmpty) None
                else {
                  val frame = (i - nArg + 1 to i).flatMap(dus)
                  if (frame.isEmpty) None
                  else {
                    val vol = frame.map(_.abs).sum
                    Some(if (vol == 0) 0.0
                      else (vus(i).get - vus(i - nArg).get).abs.toDouble / vol.toDouble)
                  }
                }
              er match {
                case Some(r) =>
                  val t = r * A + B
                  val sc = t * t
                  if (kama == null) kama = c(i).asInstanceOf[Double]
                  else kama = kama + sc * (c(i).asInstanceOf[Double] - kama)
                  kama
                case None => null
              }
            }
        }
    }
  }

  private sealed trait GCond { def text: String; def holds(p: Pt): Boolean }
  private case class GTime(op: String, us: Long) extends GCond {
    def text = s"time $op $us"
    def holds(p: Pt): Boolean = op match {
      case ">=" => p.ts >= us; case "<" => p.ts < us
    }
  }
  private case class GTag(eq: Boolean, dev: String) extends GCond {
    def text = s"device ${if (eq) "=" else "!="} '$dev'"
    def holds(p: Pt): Boolean = (p.device == dev) == eq
  }
  private case class GField(op: String, v: Double) extends GCond {
    def text = s"value $op $v"
    def holds(p: Pt): Boolean = op match {
      case ">" => p.value > v; case "<=" => p.value <= v
    }
  }
  private case class GTagRe(matches: Boolean, re: String) extends GCond {
    def text = s"device ${if (matches) "=~" else "!~"} /$re/"
    def holds(p: Pt): Boolean = re.r.findFirstIn(p.device).nonEmpty == matches
  }
  private case class GOr(l: GCond, r: GCond) extends GCond {
    def text = s"(${l.text} OR ${r.text})"
    def holds(p: Pt): Boolean = l.holds(p) || r.holds(p)
  }

  private val devices = Vector("a", "b", "c")
  private val fixture: Seq[(String, String, Long, Double)] = {
    val r = new scala.util.Random(777L)
    (0 until 300).map { _ =>
      (devices(r.nextInt(3)),
        if (r.nextInt(10) == 0) "other" else "m",
        r.nextInt(1000).toLong,
        math.floor(r.nextDouble() * 1000) / 10.0)
    }
  }

  test("80 random aggregate queries match the in-memory reference exactly") {
    val rnd = new scala.util.Random(20260813L)
    val pts = fixture
    val df = pts.toDF("device", "transducer", "ts_us", "value")
    val funcs = Vector("count", "sum", "mean", "min", "max", "spread", "first",
      "last", "median", "percentile", "stddev", "mode", "integral")

    for (iter <- 0 until 80 * diffScale) {
      // --- generate one query configuration -----------------------------
      val groupTime: Option[(Long, Long)] =
        if (rnd.nextInt(4) == 0) None
        else {
          val step = Seq(50L, 100L, 250L)(rnd.nextInt(3))
          val off = if (rnd.nextBoolean()) 0L else rnd.nextInt(step.toInt).toLong
          Some((step, off))
        }
      val nf = 1 + rnd.nextInt(3)
      val items = (0 until nf).map { i =>
        val op = if (rnd.nextInt(10) < 3)
          Some(("+-*".charAt(rnd.nextInt(3)), (1 + rnd.nextInt(50)).toDouble))
        else None
        val fn = funcs(rnd.nextInt(funcs.size))
        val pct = if (fn == "percentile") Some(rnd.nextInt(101))
          // integral draws its unit (in us) through the same slot
          else if (fn == "integral" && rnd.nextBoolean())
            Some(Seq(10, 50, 100, 250)(rnd.nextInt(4)))
          else None
        // transformations ride the bucket series: only with GROUP BY time
        val tf = if (groupTime.isEmpty || rnd.nextInt(4) != 0) None
          else rnd.nextInt(14) match {
            case 0 => Some(("derivative", Seq(10L, 50L, 100L)(rnd.nextInt(3))))
            case 1 => Some(("non_negative_derivative", Seq(10L, 50L)(rnd.nextInt(2))))
            case 2 => Some(("difference", 0L))
            case 3 => Some(("non_negative_difference", 0L))
            case 4 => Some(("cumulative_sum", 0L))
            case 5 => Some(("moving_average", (2 + rnd.nextInt(4)).toLong))
            case 6 => Some(("exponential_moving_average", (2 + rnd.nextInt(4)).toLong))
            case 7 => Some(("double_exponential_moving_average", (2 + rnd.nextInt(4)).toLong))
            case 8 => Some(("triple_exponential_moving_average", (2 + rnd.nextInt(4)).toLong))
            case 9 => Some(("triple_exponential_derivative", (2 + rnd.nextInt(4)).toLong))
            case 10 => Some(("relative_strength_index", (2 + rnd.nextInt(4)).toLong))
            case 11 => Some(("chande_momentum_oscillator", (2 + rnd.nextInt(4)).toLong))
            case 12 => Some(("kaufmans_efficiency_ratio", (2 + rnd.nextInt(4)).toLong))
            case _ => Some(("kaufmans_adaptive_moving_average", (2 + rnd.nextInt(4)).toLong))
          }
        GItem(fn, pct, op, s"f$i", tf)
      }
      val byDevice = rnd.nextInt(3) > 0
      val fill: String =
        if (groupTime.isEmpty) "null"
        else Seq("null", "none", "previous", "linear", "0")(rnd.nextInt(5))
      // a non-default fill needs both time bounds; generate them then
      val needBounds = fill != "null" && fill != "none"
      val lo = rnd.nextInt(300).toLong
      val hi = lo + 100 + rnd.nextInt(600)
      val timeConds: Seq[GCond] =
        if (needBounds || rnd.nextInt(3) == 0) Seq(GTime(">=", lo), GTime("<", hi))
        else Nil
      val otherConds: Seq[GCond] = (0 until rnd.nextInt(3)).map { _ =>
        def simple(): GCond = rnd.nextInt(3) match {
          case 0 => GTag(rnd.nextBoolean(), devices(rnd.nextInt(3)))
          case 1 => GTagRe(rnd.nextBoolean(), Seq("[ab]", "a|c", "b")(rnd.nextInt(3)))
          case _ =>
            if (rnd.nextBoolean()) GField(">", math.floor(rnd.nextDouble() * 1000) / 10.0)
            else GField("<=", math.floor(rnd.nextDouble() * 1000) / 10.0)
        }
        if (rnd.nextInt(4) == 0) GOr(simple(), simple()) else simple()
      }
      val conds = timeConds ++ otherConds

      val sb = new StringBuilder("SELECT ")
      sb ++= items.map(_.text).mkString(", ")
      sb ++= " FROM m"
      if (conds.nonEmpty) sb ++= " WHERE " + conds.map(_.text).mkString(" AND ")
      val groups =
        groupTime.map { case (s, o) => if (o == 0) s"time($s)" else s"time($s, $o)" }.toSeq ++
          (if (byDevice) Seq("device") else Nil)
      if (groups.nonEmpty) sb ++= " GROUP BY " + groups.mkString(", ")
      if (groupTime.nonEmpty && fill != "null") sb ++= s" FILL($fill)"
      val text = sb.toString

      // --- engine -------------------------------------------------------
      val cols = (groupTime.map(_ => "time").toSeq ++
        (if (byDevice) Seq("device") else Nil)) ++ items.map(_.alias)
      val engine = InfluxQL.run(df, text).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSet

      // --- reference interpreter ---------------------------------------
      val filtered = pts.collect {
        case (d, "m", t, v) if conds.forall(_.holds(Pt(d, t, v))) => Pt(d, t, v)
      }
      def bucketOf(t: Long): Long = groupTime match {
        case Some((step, off)) => t - Math.floorMod(t - off, step)
        case None => 0L
      }
      val expected: Set[Seq[Any]] = groupTime match {
        case None if !byDevice =>
          // a global aggregate over ZERO matching points answers EMPTY
          // (the engine's presence-filter rule, per InfluxDB)
          if (filtered.isEmpty) Set.empty
          else Set(items.map(it => it.eval(aggCall(it.fn, it.pct, filtered))))
        case None =>
          filtered.groupBy(_.device).map { case (d, rs) =>
            d +: items.map(it => it.eval(aggCall(it.fn, it.pct, rs)))
          }.toSet
        case Some((step, off)) =>
          val grouped = filtered.groupBy(p => (bucketOf(p.ts), p.device))
          val seriesKeys: Seq[String] =
            if (byDevice) grouped.keys.map(_._2).toSeq.distinct.sorted
            // tagless: one series keyed by the measurement — but the
            // skeleton only densifies series that exist in the grouped
            // result, so an empty selection yields no rows at all
            else if (filtered.nonEmpty) Seq("m")
            else Nil
          def rowsAt(b: Long, s: String): Seq[Pt] =
            if (byDevice) grouped.getOrElse((b, s), Nil)
            else filtered.filter(p => bucketOf(p.ts) == b)
          val buckets: Seq[Long] =
            if (timeConds.nonEmpty) {
              val bLo = lo - Math.floorMod(lo - off, step)
              val bHi = hi - 1 - Math.floorMod(hi - 1 - off, step)
              (bLo to bHi by step)
            } else grouped.keys.map(_._1).toSeq.distinct.sorted
          val out = Set.newBuilder[Seq[Any]]
          for (s <- seriesKeys) {
            // per-CALL values along the bucket series (fill acts here,
            // before expression arithmetic — the engine's sequencing)
            // fill(none) never densifies; fill(null) only inside explicit
            // bounds — otherwise empty buckets simply don't exist
            val densify = fill match {
              case "none" => false
              case "null" => timeConds.nonEmpty
              case _ => true // the generator guarantees bounds here
            }
            val callVals: Seq[Seq[Any]] = buckets.map { b =>
              val rs = rowsAt(b, s)
              if (rs.isEmpty && densify) items.map(_ => null)
              else if (rs.isEmpty) null // no skeleton: row dropped below
              else items.map(it => aggCall(it.fn, it.pct, rs))
            }
            // fills act PER COLUMN on any null — an empty bucket nulls every
            // column, but a single-point bucket's stddev is null inside an
            // observed bucket and fills exactly the same way in the engine
            val filled: Seq[Option[Seq[Any]]] = fill match {
              case "none" | "null" => callVals.map(Option(_))
              case "0" => callVals.map(vs => Some(
                vs.zip(items).map { case (v, it) =>
                  if (v != null) v else if (it.fn == "count") 0L else 0.0
                }))
              case "previous" =>
                val prev = Array.fill[Any](items.size)(null)
                callVals.map { vs =>
                  Some(vs.zipWithIndex.map { case (v, c) =>
                    if (v != null) { prev(c) = v; v } else prev(c)
                  })
                }
              case "linear" =>
                // every column promotes to double; null cells take the
                // straight line between that COLUMN's observed neighbors
                val asD: Seq[Seq[Any]] = callVals.map(vs => vs.map {
                  case null => null
                  case l: Long => l.toDouble
                  case d: Double => d
                })
                buckets.indices.map { i =>
                  Some(items.indices.map { c =>
                    if (asD(i)(c) != null) asD(i)(c)
                    else {
                      val pb = (i - 1 to 0 by -1).find(j => asD(j)(c) != null)
                      val nb = (i + 1 until buckets.size).find(j => asD(j)(c) != null)
                      (pb, nb) match {
                        case (Some(p0), Some(n0)) =>
                          val pv = asD(p0)(c).asInstanceOf[Double]
                          val nv = asD(n0)(c).asInstanceOf[Double]
                          pv + (nv - pv) *
                            ((buckets(i) - buckets(p0)).toDouble /
                              (buckets(n0) - buckets(p0)).toDouble)
                        case _ => null
                      }
                    }
                  })
                }
            }
            // transforms run over the KEPT (post-fill) bucket series, per
            // column — exactly the engine's window-after-fill sequencing
            val kept = buckets.zip(filled).collect { case (b, Some(vs)) => (b, vs) }
            val keptB = kept.map(_._1)
            val colVals: Seq[Seq[Any]] = items.indices.map { c =>
              val col0 = kept.map(_._2(c))
              items(c).tf match {
                case None => col0
                case Some((t, targ)) => applyTf(t, targ, keptB, col0)
              }
            }
            for (i <- kept.indices) {
              val projected = items.indices.map(c => items(c).eval(colVals(c)(i)))
              out += (if (byDevice) keptB(i) +: s +: projected
                      else keptB(i) +: projected)
            }
          }
          out.result()
      }

      assert(engine == expected,
        s"""differential mismatch (iter $iter)
           |QUERY: $text
           |ENGINE-ONLY: ${(engine -- expected).take(5)}
           |EXPECTED-ONLY: ${(expected -- engine).take(5)}""".stripMargin)
    }
  }

  test("raw, top/bottom, and elapsed queries match the reference") {
    val rnd = new scala.util.Random(424242L)
    val pts = fixture
    val df = pts.toDF("device", "transducer", "ts_us", "value")
    val mPts = pts.collect { case (d, "m", t, v) => Pt(d, t, v) }

    for (iter <- 0 until 30 * diffScale) {
      val conds: Seq[GCond] = (0 until rnd.nextInt(3)).map { _ =>
        rnd.nextInt(3) match {
          case 0 => GTime(if (rnd.nextBoolean()) ">=" else "<", rnd.nextInt(1000).toLong)
          case 1 => GTag(rnd.nextBoolean(), devices(rnd.nextInt(3)))
          case _ => GField(if (rnd.nextBoolean()) ">" else "<=",
            math.floor(rnd.nextDouble() * 1000) / 10.0)
        }
      }
      val whereTxt = if (conds.isEmpty) "" else " WHERE " + conds.map(_.text).mkString(" AND ")
      val kept = mPts.filter(p => conds.forall(_.holds(p)))

      rnd.nextInt(3) match {
        case 0 => // raw expression projection
          val k = (1 + rnd.nextInt(9)).toDouble
          val engine = InfluxQL.run(df, s"SELECT value * $k + 1 AS v FROM m$whereTxt")
            .as[(Long, Double)].collect().toSeq.sorted
          val expected = kept.map(p => (p.ts, p.value * k + 1.0)).sorted
          assert(engine == expected, s"raw mismatch (iter $iter) k=$k$whereTxt")
        case 1 => // top/bottom: global, per device, per-tag 3-arg, bucketed
          val n = 1 + rnd.nextInt(5)
          val (fn, desc) = if (rnd.nextBoolean()) ("top", true) else ("bottom", false)
          def key(p: Pt): (Double, Long) = (if (desc) -p.value else p.value, p.ts)
          rnd.nextInt(4) match {
            case 0 =>
              val engine = InfluxQL.run(df, s"SELECT $fn(value, $n) FROM m$whereTxt")
                .as[(Long, Double)].collect().toSeq.sorted
              val expected = kept.sortBy(key).take(n).map(p => (p.ts, p.value)).sorted
              assert(engine == expected, s"$fn global mismatch (iter $iter)$whereTxt")
            case 1 =>
              val engine = InfluxQL.run(df,
                s"SELECT $fn(value, $n) FROM m$whereTxt GROUP BY device")
                .as[(Long, String, Double)].collect().toSeq.sorted
              val expected = kept.groupBy(_.device).toSeq.flatMap { case (d, rs) =>
                rs.sortBy(key).take(n).map(p => (p.ts, d, p.value))
              }.sorted
              assert(engine == expected, s"$fn grouped mismatch (iter $iter)$whereTxt")
            case 2 =>
              // InfluxDB 1.8's three-arg per-tag form: each device's own
              // extreme is its champion; n winners among champions with
              // (value, time, tag) tie-breaks
              val engine = InfluxQL.run(df,
                s"SELECT $fn(value, device, $n) FROM m$whereTxt")
                .as[(Long, String, Double)].collect().toSeq.sorted
              val champs = kept.groupBy(_.device).toSeq
                .map { case (_, rs) => rs.minBy(key) }
              val expected = champs
                .sortBy(p => (if (desc) -p.value else p.value, p.ts, p.device))
                .take(n).map(p => (p.ts, p.device, p.value)).sorted
              assert(engine == expected, s"$fn per-tag mismatch (iter $iter)$whereTxt")
            case _ =>
              // GROUP BY time(k): extremes pick per bucket, rows keep
              // their ORIGINAL timestamps
              val k = Seq(7L, 50L, 160L)(rnd.nextInt(3))
              val engine = InfluxQL.run(df,
                s"SELECT $fn(value, $n) FROM m$whereTxt GROUP BY time(${k}u)")
                .as[(Long, Double)].collect().toSeq.sorted
              val expected = kept.groupBy(p => p.ts - (((p.ts % k) + k) % k))
                .toSeq.flatMap { case (_, rs) =>
                  rs.sortBy(key).take(n).map(p => (p.ts, p.value))
                }.sorted
              assert(engine == expected, s"$fn bucketed mismatch (iter $iter) k=$k$whereTxt")
          }
        case _ => // elapsed with a random unit
          val unit = Seq(1L, 5L, 20L)(rnd.nextInt(3))
          val engine = InfluxQL.run(df, s"SELECT elapsed(value, ${unit}u) FROM m$whereTxt")
            .as[(Long, Long)].collect().toSeq.sorted
          val ordered = kept.sortBy(p => (p.ts, p.value))
          val expected = ordered.zip(ordered.drop(1)).map { case (a, b) =>
            (b.ts, math.floor((b.ts - a.ts).toDouble / unit.toDouble).toLong)
          }.sorted
          assert(engine == expected, s"elapsed mismatch (iter $iter) unit=$unit$whereTxt")
      }
    }
  }

  /** Seeded companion-selector draws (r17): every selector that takes
    * companion refs — max/min/first/last/percentile/top/bottom — against a
    * literal in-memory replay of the engine's pick rules, across the four
    * grouping shapes (global, GROUP BY device, GROUP BY time(k), both) and
    * companion sets drawn from a second tag-like column and a second field.
    * The replay mirrors the pinned tie-break chains operation for
    * operation (value/ts keys, then companions asc in SELECT order;
    * percentile's nearest rank computed with the same IEEE expression), so
    * every comparison is exact.
    */
  test("selector companion draws match the reference") {
    val rnd = new scala.util.Random(171717L)
    val pts = fixture
    // a second FIELD derived purely from ts so the model can replay it
    val df = pts.toDF("device", "transducer", "ts_us", "value")
      .withColumn("v2", (col("ts_us") % 17).cast("double"))
    val mPts = pts.collect { case (d, "m", t, v) => Pt(d, t, v) }

    case class Comp(name: String, alias: Option[String], value: Pt => Any) {
      def sel: String = alias.fold(name)(a => s"$name AS $a")
    }
    val compDevice = Comp("device", None, _.device)
    val compV2 = Comp("v2", None, p => (p.ts % 17).toDouble)

    def cmpAny(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => sys.error(s"uncomparable tie-break values $a / $b")
    }
    def lexOrd(keys: Pt => Seq[(Any, Boolean)]): Ordering[Pt] =
      (p1: Pt, p2: Pt) => keys(p1).zip(keys(p2)).iterator
        .map { case ((a, desc), (b, _)) =>
          val c = cmpAny(a, b); if (desc) -c else c }
        .find(_ != 0).getOrElse(0)

    for (iter <- 0 until 40 * diffScale) {
      val conds: Seq[GCond] = (0 until rnd.nextInt(3)).map { _ =>
        rnd.nextInt(3) match {
          case 0 => GTime(if (rnd.nextBoolean()) ">=" else "<", rnd.nextInt(1000).toLong)
          case 1 => GTag(rnd.nextBoolean(), devices(rnd.nextInt(3)))
          case _ => GField(if (rnd.nextBoolean()) ">" else "<=",
            math.floor(rnd.nextDouble() * 1000) / 10.0)
        }
      }
      val whereTxt = if (conds.isEmpty) "" else " WHERE " + conds.map(_.text).mkString(" AND ")
      val kept = mPts.filter(p => conds.forall(_.holds(p)))

      val grp = rnd.nextInt(4)
      val byDevice = grp == 1 || grp == 3
      val byTime = grp == 2 || grp == 3
      val k = Seq(7L, 50L, 160L)(rnd.nextInt(3))
      // a device companion beside GROUP BY device collides — alias it out,
      // exactly what validate() demands of a user
      val comps = (rnd.nextInt(3) match {
        case 0 => Seq(compDevice)
        case 1 => Seq(compV2)
        case _ => Seq(compDevice, compV2)
      }).map(c =>
        if (byDevice && c.name == "device") c.copy(alias = Some("d")) else c)
      val groupTxt =
        if (grp == 0) ""
        else " GROUP BY " + ((if (byTime) Seq(s"time(${k}u)") else Nil) ++
          (if (byDevice) Seq("device") else Nil)).mkString(", ")
      def bucket(ts: Long): Long = ts - (((ts % k) + k) % k)
      def groupOf(p: Pt): (String, Long) =
        (if (byDevice) p.device else "", if (byTime) bucket(p.ts) else 0L)
      val compKeys: Pt => Seq[(Any, Boolean)] =
        p => comps.map(c => (c.value(p), false))

      val fn = Vector("max", "min", "first", "last",
        "percentile", "top", "bottom")(rnd.nextInt(7))
      val n = 1 + rnd.nextInt(4)
      val pct = Seq(5, 25, 50, 75, 90, 99)(rnd.nextInt(6))
      val call = fn match {
        case "percentile" => s"percentile(value, $pct)"
        case "top" | "bottom" => s"$fn(value, $n)"
        case _ => s"$fn(value)"
      }
      val text =
        s"SELECT ${(call +: comps.map(_.sel)).mkString(", ")} FROM m$whereTxt$groupTxt"

      val engine = InfluxQL.run(df, text).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq

      def rowOf(g: (String, Long), p: Pt, pointTime: Boolean): String = {
        val t: Long = if (byTime && !pointTime) g._2 else p.ts
        ((Vector[Any](t) ++ (if (byDevice) Vector(g._1) else Vector()) :+
          p.value) ++ comps.map(_.value(p))).mkString("|")
      }
      val groups = kept.groupBy(groupOf).toSeq
      val expected: Seq[String] = (fn match {
        case "top" | "bottom" =>
          val o = lexOrd(p => Seq((p.value, fn == "top"), (p.ts, false)) ++ compKeys(p))
          groups.flatMap { case (g, rs) =>
            rs.sorted(o).take(n).map(p => rowOf(g, p, pointTime = true)) }
        case "percentile" =>
          val o = lexOrd(p => Seq((p.value, false), (p.ts, false)) ++ compKeys(p))
          groups.flatMap { case (g, rs) =>
            val s = rs.sorted(o)
            val rank = math.floor(s.size.toDouble * pct.toDouble / 100.0 + 0.5).toLong
            if (rank >= 1 && rank <= s.size)
              Seq(rowOf(g, s(rank.toInt - 1), pointTime = false))
            else Nil
          }
        case _ =>
          val keys: Pt => Seq[(Any, Boolean)] = fn match {
            case "max" => p => Seq((p.value, true), (p.ts, false)) ++ compKeys(p)
            case "min" => p => Seq((p.value, false), (p.ts, false)) ++ compKeys(p)
            case "first" => p => Seq((p.ts, false), (p.value, false)) ++ compKeys(p)
            case _ => p => Seq((p.ts, true), (p.value, true)) ++ compKeys(p)
          }
          groups.collect { case (g, rs) if rs.nonEmpty =>
            rowOf(g, rs.min(lexOrd(keys)), pointTime = false) }
      }).sorted

      assert(engine == expected,
        s"""companion differential mismatch (iter $iter)
           |QUERY: $text
           |ENGINE-ONLY: ${(engine.toSet -- expected.toSet).take(5)}
           |EXPECTED-ONLY: ${(expected.toSet -- engine.toSet).take(5)}""".stripMargin)
    }
  }

  /** The raw-path TA model: truncated integer kernels over a field's
    * compacted (ts, value) subsequence — the literal mirror of
    * planRawTransform's ignoreNulls discipline (each field walks only its
    * own non-null points; diffs/EMA stages live entirely in that space).
    */
  private def taRawKernel(tf: String, n: Int,
                          s: IndexedSeq[(Long, Double)]): Seq[Any] = {
    import graft.operators.TimeSeriesOps
    val us: IndexedSeq[Long] = s.map(p => math.floor(p._2 * 1000000.0).toLong)
    val ecs = TimeSeriesOps.emaCoefficients(n, TimeSeriesOps.emaDialectDepth(n))
    def emaPass(src: IndexedSeq[Double]): IndexedSeq[Double] = {
      val uu = src.map(x => math.floor(x * 1000000.0).toLong)
      src.indices.map { i =>
        val js = ecs.indices.filter(j => i - j >= 0)
        val num = js.map(j => BigInt(ecs(j)) * uu(i - j)).sum
        num.toDouble / js.map(ecs(_)).sum.toDouble / 1000000.0
      }.toIndexedSeq
    }
    lazy val e1 = emaPass(s.map(_._2))
    lazy val e2 = emaPass(e1)
    lazy val e3 = emaPass(e2)
    tf match {
      case "exponential_moving_average" => e1
      case "double_exponential_moving_average" =>
        s.indices.map(i => 2.0 * e1(i) - e2(i))
      case "triple_exponential_moving_average" =>
        s.indices.map(i => 3.0 * e1(i) - 3.0 * e2(i) + e3(i))
      case "triple_exponential_derivative" =>
        s.indices.map { i =>
          if (i == 0 || e3(i - 1) == 0.0) null
          else (100.0 * (e3(i) - e3(i - 1))) / e3(i - 1)
        }
      case "relative_strength_index" =>
        val wcs = TimeSeriesOps.wilderCoefficients(n, TimeSeriesOps.wilderDialectDepth(n))
        s.indices.map { i =>
          val js = wcs.indices.filter(j => i - j >= 1)
          if (js.isEmpty) null
          else {
            def d(j: Int): Long = us(i - j) - us(i - j - 1)
            val g = js.map(j => if (d(j) > 0) BigInt(wcs(j)) * d(j) else BigInt(0)).sum
            val l = js.map(j => if (d(j) < 0) BigInt(wcs(j)) * -d(j) else BigInt(0)).sum
            if (g + l == 0) 50.0 else (100.0 * g.toDouble) / (g + l).toDouble
          }
        }
      case "chande_momentum_oscillator" | "kaufmans_efficiency_ratio" =>
        s.indices.map { i =>
          if (i < n) null
          else {
            val frame = (i - n + 1 to i).map(j => us(j) - us(j - 1))
            if (tf == "chande_momentum_oscillator") {
              val up = frame.filter(_ > 0).sum
              val down = frame.filter(_ < 0).map(-_).sum
              if (up + down == 0) 0.0
              else (100.0 * (up - down).toDouble) / (up + down).toDouble
            } else {
              val vol = frame.map(math.abs).sum
              if (vol == 0) 0.0
              else math.abs(us(i) - us(i - n)).toDouble / vol.toDouble
            }
          }
        }
    }
  }

  test("raw-series transformations match the reference") {
    val rnd = new scala.util.Random(5150505L)
    val pts = fixture
    val df = pts.toDF("device", "transducer", "ts_us", "value")
    val mPts = pts.collect { case (d, "m", t, v) => Pt(d, t, v) }
    val tfs = Vector("derivative", "non_negative_derivative", "difference",
      "non_negative_difference", "cumulative_sum", "moving_average") ++
      InfluxQL.TaFuncs.toVector.sorted
        .filterNot(_ == "kaufmans_adaptive_moving_average") // bucketed-only

    // the engine's raw kernels, literally: per-series points ordered by
    // (ts, value), operands in double, quantized decimal running/frame sums,
    // moving_average emitting only once its frame is full
    def kernel(tf: String, targ: Long, s: IndexedSeq[Pt]): Seq[Any] = {
      val c = s.map(_.value)
      def vu(i: Int): BigInt = BigInt(math.floor(c(i) * 1000000.0).toLong)
      tf match {
        case "derivative" | "non_negative_derivative" =>
          s.indices.map { i =>
            if (i == 0 || s(i).ts == s(i - 1).ts) null // Δt = 0: no defined rate
            else {
              val d = (c(i) - c(i - 1)) /
                ((s(i).ts - s(i - 1).ts).toDouble / targ.toDouble)
              if (tf == "non_negative_derivative" && d < 0) null else d
            }
          }
        case "difference" | "non_negative_difference" =>
          s.indices.map { i =>
            if (i == 0) null
            else {
              val d = c(i) - c(i - 1)
              if (tf == "non_negative_difference" && d < 0) null else d
            }
          }
        case "cumulative_sum" =>
          var run = BigInt(0)
          s.indices.map { i => run += vu(i); BigDecimal(run).toDouble / 1000000.0 }
        case "moving_average" =>
          s.indices.map { i =>
            if (i < targ.toInt - 1) null
            else {
              val frame = ((i - targ.toInt + 1) to i).map(vu)
              BigDecimal(frame.sum).toDouble / targ.toDouble / 1000000.0
            }
          }
        case ta if InfluxQL.TaFuncs.contains(ta) =>
          taRawKernel(ta, targ.toInt, s.map(p => (p.ts, p.value)))
      }
    }

    for (iter <- 0 until 30 * diffScale) {
      val conds: Seq[GCond] = (0 until rnd.nextInt(3)).map { _ =>
        rnd.nextInt(3) match {
          case 0 => GTime(if (rnd.nextBoolean()) ">=" else "<", rnd.nextInt(1000).toLong)
          case 1 => GTag(rnd.nextBoolean(), devices(rnd.nextInt(3)))
          case _ => GField(if (rnd.nextBoolean()) ">" else "<=",
            math.floor(rnd.nextDouble() * 1000) / 10.0)
        }
      }
      val whereTxt = if (conds.isEmpty) "" else " WHERE " + conds.map(_.text).mkString(" AND ")
      val byDevice = rnd.nextBoolean()
      val items = (0 until 1 + rnd.nextInt(2)).map { i =>
        val tf = tfs(rnd.nextInt(tfs.size))
        val targ = tf match {
          case "derivative" | "non_negative_derivative" => Seq(10L, 50L, 100L)(rnd.nextInt(3))
          case "moving_average" => (2 + rnd.nextInt(4)).toLong
          case ta if InfluxQL.TaFuncs.contains(ta) => (2 + rnd.nextInt(4)).toLong
          case _ => 0L
        }
        val op = if (rnd.nextInt(10) < 3)
          Some(("+-*".charAt(rnd.nextInt(3)), (1 + rnd.nextInt(50)).toDouble)) else None
        (tf, targ, op, s"f$i")
      }
      def callTxt(tf: String, targ: Long): String = tf match {
        case "derivative" | "non_negative_derivative" => s"$tf(value, ${targ}u)"
        case "moving_average" => s"moving_average(value, $targ)"
        case ta if InfluxQL.TaFuncs.contains(ta) => s"$ta(value, $targ)"
        case t => s"$t(value)"
      }
      val sel = items.map { case (tf, targ, op, a) =>
        val c = callTxt(tf, targ)
        op match { case None => s"$c AS $a"; case Some((o, k)) => s"$c $o $k AS $a" }
      }.mkString(", ")
      val text = s"SELECT $sel FROM m$whereTxt" +
        (if (byDevice) " GROUP BY device" else "")

      val cols = (Seq("time") ++ (if (byDevice) Seq("device") else Nil)) ++ items.map(_._4)
      val engine = InfluxQL.run(df, text).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSet

      val kept = mPts.filter(p => conds.forall(_.holds(p)))
      val series: Seq[(String, IndexedSeq[Pt])] =
        if (byDevice) kept.groupBy(_.device).view
          .mapValues(_.sortBy(p => (p.ts, p.value)).toIndexedSeq).toSeq
        else Seq("m" -> kept.sortBy(p => (p.ts, p.value)).toIndexedSeq)
      val expected = Set.newBuilder[Seq[Any]]
      for ((d, s) <- series) {
        val colVals = items.map { case (tf, targ, _, _) => kernel(tf, targ, s) }
        for (i <- s.indices) {
          val row = items.indices.map(c => colVals(c)(i))
          // InfluxDB's emission rule: the row exists iff some field emitted
          if (row.exists(_ != null)) {
            val projected = items.indices.map { c =>
              (items(c)._3, row(c)) match {
                case (None, v) => v
                case (_, null) => null
                case (Some((o, k)), v) =>
                  val dd = v.asInstanceOf[Double]
                  o match { case '+' => dd + k; case '-' => dd - k; case '*' => dd * k }
              }
            }
            expected += (if (byDevice) s(i).ts +: d +: projected
                         else s(i).ts +: projected)
          }
        }
      }
      assert(engine == expected.result(),
        s"""raw-transform mismatch (iter $iter)
           |QUERY: $text
           |ENGINE-ONLY: ${(engine -- expected.result()).take(5)}
           |EXPECTED-ONLY: ${(expected.result() -- engine).take(5)}""".stripMargin)
    }
  }

  test("multi-field raw transforms walk each field's own non-null points") {
    // ADVICE r5: SELECT derivative(a), difference(b) with interleaved nulls
    // must compute each field over its own subsequence and merge by time —
    // a row with a null but b set still advances b's lag neighbor.
    val rnd = new scala.util.Random(61606060L)
    val tfs = Vector("derivative", "non_negative_derivative", "difference",
      "non_negative_difference", "cumulative_sum", "moving_average") ++
      InfluxQL.TaFuncs.toVector.sorted
        .filterNot(_ == "kaufmans_adaptive_moving_average") // bucketed-only

    def kernel(tf: String, targ: Long,
               s: IndexedSeq[(Long, Double)]): Seq[Any] = {
      val c = s.map(_._2)
      def vu(i: Int): BigInt = BigInt(math.floor(c(i) * 1000000.0).toLong)
      tf match {
        case "derivative" | "non_negative_derivative" =>
          s.indices.map { i =>
            if (i == 0 || s(i)._1 == s(i - 1)._1) null
            else {
              val d = (c(i) - c(i - 1)) /
                ((s(i)._1 - s(i - 1)._1).toDouble / targ.toDouble)
              if (tf == "non_negative_derivative" && d < 0) null else d
            }
          }
        case "difference" | "non_negative_difference" =>
          s.indices.map { i =>
            if (i == 0) null
            else {
              val d = c(i) - c(i - 1)
              if (tf == "non_negative_difference" && d < 0) null else d
            }
          }
        case "cumulative_sum" =>
          var run = BigInt(0)
          s.indices.map { i => run += vu(i); BigDecimal(run).toDouble / 1000000.0 }
        case "moving_average" =>
          s.indices.map { i =>
            if (i < targ.toInt - 1) null
            else {
              val frame = ((i - targ.toInt + 1) to i).map(vu)
              BigDecimal(frame.sum).toDouble / targ.toDouble / 1000000.0
            }
          }
        case ta if InfluxQL.TaFuncs.contains(ta) =>
          taRawKernel(ta, targ.toInt, s)
      }
    }

    for (iter <- 0 until 30 * diffScale) {
      // globally distinct timestamps: no duplicate-ts tie-break to model
      val allTs = rnd.shuffle((0 until 2000).toVector).take(120)
      val rows: Seq[(String, String, Long, Option[Double], Option[Double])] =
        allTs.map { t =>
          def v() = Some(math.floor(rnd.nextDouble() * 1000) / 10.0)
          val (a, b) = (rnd.nextInt(10) < 6, rnd.nextInt(10) < 6) match {
            case (false, false) => (v(), None) // at least one field per row
            case (ha, hb) => (if (ha) v() else None, if (hb) v() else None)
          }
          (devices(rnd.nextInt(3)), "m", t.toLong, a, b)
        }
      val df = rows.toDF("device", "transducer", "ts_us", "a", "b")
      val byDevice = rnd.nextBoolean()
      val items = Seq("a", "b").map { arg =>
        val tf = tfs(rnd.nextInt(tfs.size))
        val targ = tf match {
          case "derivative" | "non_negative_derivative" => Seq(10L, 50L, 100L)(rnd.nextInt(3))
          case "moving_average" => (2 + rnd.nextInt(4)).toLong
          case ta if InfluxQL.TaFuncs.contains(ta) => (2 + rnd.nextInt(4)).toLong
          case _ => 0L
        }
        (tf, targ, arg)
      }
      val sel = items.map { case (tf, targ, arg) =>
        val c = tf match {
          case "derivative" | "non_negative_derivative" => s"$tf($arg, ${targ}u)"
          case "moving_average" => s"moving_average($arg, $targ)"
          case ta if InfluxQL.TaFuncs.contains(ta) => s"$ta($arg, $targ)"
          case t => s"$t($arg)"
        }
        s"$c AS f_$arg"
      }.mkString(", ")
      val text = s"SELECT $sel FROM m" + (if (byDevice) " GROUP BY device" else "")

      val cols = (Seq("time") ++ (if (byDevice) Seq("device") else Nil)) ++
        items.map("f_" + _._3)
      val engine = InfluxQL.run(df, text).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSet

      val series: Seq[(String, Seq[(String, String, Long, Option[Double], Option[Double])])] =
        if (byDevice) rows.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toSeq
        else Seq("m" -> rows.sortBy(_._3))
      val expected = Set.newBuilder[Seq[Any]]
      for ((d, s) <- series) {
        val sIdx = s.toIndexedSeq
        // per field: kernel over the compacted non-null subsequence, then
        // scatter results back to the originating row positions
        val colVals: Seq[Array[Any]] = items.map { case (tf, targ, arg) =>
          val get: ((String, String, Long, Option[Double], Option[Double])) => Option[Double] =
            if (arg == "a") _._4 else _._5
          val defined = sIdx.indices.filter(i => get(sIdx(i)).isDefined)
          val sub = defined.map(i => (sIdx(i)._3, get(sIdx(i)).get)).toIndexedSeq
          val vals = kernel(tf, targ, sub)
          val out = Array.fill[Any](sIdx.size)(null)
          defined.zipWithIndex.foreach { case (pos, j) => out(pos) = vals(j) }
          out
        }
        for (i <- sIdx.indices) {
          val row = items.indices.map(c => colVals(c)(i))
          if (row.exists(_ != null))
            expected += (if (byDevice) sIdx(i)._3 +: d +: row
                         else sIdx(i)._3 +: row)
        }
      }
      assert(engine == expected.result(),
        s"""multi-field raw-transform mismatch (iter $iter)
           |QUERY: $text
           |ENGINE-ONLY: ${(engine -- expected.result()).take(5)}
           |EXPECTED-ONLY: ${(expected.result() -- engine).take(5)}""".stripMargin)
    }
  }

  test("40 seeded management statements round-trip the ACID points table") {
    // r5 gap: the differential net covered only SELECT shapes. This drives
    // seeded SHOW / DELETE / DROP MEASUREMENT statements against a live
    // TxLogTable plus an exact in-memory model — every mutation re-compares
    // the full table, every SHOW re-compares the metadata surface.
    val rnd = new scala.util.Random(90909090L)
    val root = java.nio.file.Files.createTempDirectory("mgmt_diff").toString
    val table = new graft.storage.TxLogTable(spark, root + "/pts")
    val devs = Vector("a", "b", "c")
    val meas = Vector("m1", "m2", "m3")
    def randPts(n: Int): Vector[(String, String, Long, Double)] =
      Vector.fill(n)((devs(rnd.nextInt(3)), meas(rnd.nextInt(3)),
        rnd.nextInt(1000).toLong, math.floor(rnd.nextDouble() * 1000) / 10.0))
    var model = randPts(150)
    table.append(model.toDF("device", "transducer", "ts_us", "value"))
    def dfNow = table.read()
    def tableRows = dfNow.as[(String, String, Long, Double)].collect().toVector

    sealed trait MCond { def text: String; def holds(p: (String, String, Long, Double)): Boolean }
    case class MTime(op: String, us: Long) extends MCond {
      def text = s"time $op $us"
      def holds(p: (String, String, Long, Double)): Boolean = op match {
        case ">" => p._3 > us; case ">=" => p._3 >= us
        case "<" => p._3 < us; case "<=" => p._3 <= us
      }
    }
    case class MTag(eq: Boolean, dev: String) extends MCond {
      def text = s"device ${if (eq) "=" else "!="} '$dev'"
      def holds(p: (String, String, Long, Double)): Boolean = (p._1 == dev) == eq
    }
    case class MTagRe(matches: Boolean, re: String) extends MCond {
      def text = s"device ${if (matches) "=~" else "!~"} /$re/"
      def holds(p: (String, String, Long, Double)): Boolean =
        re.r.findFirstIn(p._1).nonEmpty == matches
    }
    def randCond(): MCond = rnd.nextInt(3) match {
      case 0 => MTime(Seq(">", ">=", "<", "<=")(rnd.nextInt(4)), rnd.nextInt(1000).toLong)
      case 1 => MTag(rnd.nextBoolean(), devs(rnd.nextInt(3)))
      case _ => MTagRe(rnd.nextBoolean(), Seq("[ab]", "a|c", "b")(rnd.nextInt(3)))
    }
    // an optional SHOW ... WHERE draw (AND conjunctions; tag-only when the
    // statement rejects time, e.g. SHOW MEASUREMENTS)
    def showWhere(allowTime: Boolean): (String, ((String, String, Long, Double)) => Boolean) = {
      val conds = Vector.fill(rnd.nextInt(3))(
        if (allowTime) randCond()
        else if (rnd.nextBoolean()) MTag(rnd.nextBoolean(), devs(rnd.nextInt(3)))
        else MTagRe(rnd.nextBoolean(), Seq("[ab]", "a|c", "b")(rnd.nextInt(3))))
      if (conds.isEmpty) ("", _ => true)
      else (" WHERE " + conds.map(_.text).mkString(" AND "),
        p => conds.forall(_.holds(p)))
    }

    for (iter <- 0 until 40 * diffScale) {
      rnd.nextInt(9) match {
        case 0 => // SHOW MEASUREMENTS, sometimes narrowed by WITH MEASUREMENT
          val (withTxt, pred): (String, String => Boolean) = rnd.nextInt(3) match {
            case 0 => ("", _ => true)
            case 1 =>
              val re = Seq("m[12]", "m1|m3", "2")(rnd.nextInt(3))
              (s" WITH MEASUREMENT =~ /$re/", m => re.r.findFirstIn(m).nonEmpty)
            case _ =>
              val m = meas(rnd.nextInt(3)); (s" WITH MEASUREMENT = $m", _ == m)
          }
          val (whereTxt, rowPred) = showWhere(allowTime = false)
          val got = InfluxQL.run(dfNow, s"SHOW MEASUREMENTS$withTxt$whereTxt")
            .as[String].collect().toSeq
          assert(got == model.filter(rowPred).map(_._2).distinct.filter(pred).sorted,
            s"iter $iter MEASUREMENTS$withTxt$whereTxt")
        case 1 => // SHOW SERIES [FROM m | /re/]
          val (fromTxt, pred): (String, String => Boolean) = rnd.nextInt(3) match {
            case 0 => ("", _ => true)
            case 1 => val m = meas(rnd.nextInt(3)); (s" FROM $m", _ == m)
            case _ =>
              val re = Seq("m[12]", "m1|m3")(rnd.nextInt(2))
              (s" FROM /$re/", (s: String) => re.r.findFirstIn(s).nonEmpty)
          }
          val (whereTxt, rowPred) = showWhere(allowTime = true)
          val got = InfluxQL.run(dfNow, s"SHOW SERIES$fromTxt$whereTxt")
            .as[String].collect().toSeq
          val want = model.filter(p => pred(p._2) && rowPred(p))
            .map(p => s"${p._2},device=${p._1}").distinct.sorted
          assert(got == want, s"iter $iter SERIES$fromTxt$whereTxt")
        case 2 => // SHOW TAG VALUES [FROM m] WITH KEY <selector>
          val (fromTxt, fromPred): (String, String => Boolean) =
            if (rnd.nextBoolean()) ("", _ => true)
            else { val m = meas(rnd.nextInt(3)); (s" FROM $m", _ == m) }
          val (selTxt, selectsDevice): (String, Boolean) = rnd.nextInt(4) match {
            case 0 => ("= device", true)
            case 1 => ("IN (device)", true)
            case 2 => ("=~ /dev/", true)
            case _ => ("!~ /dev/", false) // selects no key: empty, not error
          }
          val (whereTxt, rowPred) = showWhere(allowTime = true)
          val got = InfluxQL.run(dfNow,
            s"SHOW TAG VALUES$fromTxt WITH KEY $selTxt$whereTxt")
            .as[(String, String)].collect().toSeq
          val want = if (!selectsDevice) Nil
            else model.filter(p => fromPred(p._2) && rowPred(p)).map(_._1)
              .distinct.sorted.map(("device", _))
          assert(got == want, s"iter $iter TAG VALUES$fromTxt WITH KEY $selTxt$whereTxt")
        case 3 => // DELETE FROM <m|/re/> [WHERE ...]
          val (fromTxt, fromPred): (String, String => Boolean) =
            if (rnd.nextBoolean()) {
              val m = meas(rnd.nextInt(3)); (m, (_: String) == m)
            } else {
              val re = s"m[${1 + rnd.nextInt(2)}${2 + rnd.nextInt(2)}]"
              (s"/$re/", (s: String) => re.r.findFirstIn(s).nonEmpty)
            }
          val conds = Vector.fill(rnd.nextInt(3))(randCond())
          val whereTxt =
            if (conds.isEmpty) "" else " WHERE " + conds.map(_.text).mkString(" AND ")
          val survives = model.filterNot(p =>
            fromPred(p._2) && conds.forall(_.holds(p)))
          if (survives.nonEmpty) { // keep the table non-degenerate
            InfluxQL.runDelete(table, s"DELETE FROM $fromTxt$whereTxt")
            model = survives
            assert(tableRows.sorted == model.sorted, s"iter $iter DELETE $fromTxt$whereTxt")
          }
        case 4 => // DROP MEASUREMENT
          val m = meas(rnd.nextInt(3))
          val survives = model.filterNot(_._2 == m)
          if (survives.nonEmpty) {
            InfluxQL.runDelete(table, s"DROP MEASUREMENT $m")
            model = survives
            assert(tableRows.sorted == model.sorted, s"iter $iter DROP $m")
          }
        case 5 => // append fresh points: state keeps evolving mid-sequence
          val fresh = randPts(30)
          table.append(fresh.toDF("device", "transducer", "ts_us", "value"))
          model = model ++ fresh
          assert(tableRows.sorted == model.sorted, s"iter $iter APPEND")
        case 6 => // exact CARDINALITY forms
          def one(q: String): Long = InfluxQL.run(dfNow, q).as[Long].collect().head
          assert(one("SHOW MEASUREMENT CARDINALITY") ==
            model.map(_._2).distinct.size.toLong, s"iter $iter MEAS CARD")
          assert(one("SHOW SERIES CARDINALITY") ==
            model.map(p => (p._2, p._1)).distinct.size.toLong, s"iter $iter SERIES CARD")
          assert(one("SHOW TAG VALUES CARDINALITY WITH KEY = device") ==
            model.map(_._1).distinct.size.toLong, s"iter $iter TAGV CARD")
        case 7 => // SHOW paging windows the deterministic order
          val lim = 1 + rnd.nextInt(3)
          val off = rnd.nextInt(3)
          val got = InfluxQL.run(dfNow, s"SHOW MEASUREMENTS LIMIT $lim OFFSET $off")
            .as[String].collect().toSeq
          assert(got == model.map(_._2).distinct.sorted.slice(off, off + lim),
            s"iter $iter SHOW paging LIMIT $lim OFFSET $off")
        case _ => // TAG/FIELD KEYS under FROM/WHERE: presence-scanned
          val m = meas(rnd.nextInt(3))
          val has = model.exists(_._2 == m)
          assert(InfluxQL.run(dfNow, s"SHOW TAG KEYS FROM $m")
            .as[String].collect().toSeq == (if (has) Seq("device") else Nil),
            s"iter $iter TAG KEYS FROM $m")
          assert(InfluxQL.run(dfNow, s"SHOW FIELD KEYS FROM $m")
            .as[(String, String)].collect().toSeq ==
            (if (has) Seq(("value", "double")) else Nil),
            s"iter $iter FIELD KEYS FROM $m")
          assert(InfluxQL.run(dfNow, s"SHOW TAG KEY CARDINALITY FROM $m")
            .as[Long].collect().head == (if (has) 1L else 0L),
            s"iter $iter TAG KEY CARD FROM $m")
          val d = devs(rnd.nextInt(3))
          val hasDev = model.exists(_._1 == d)
          assert(InfluxQL.run(dfNow, s"SHOW TAG KEYS WHERE device = '$d'")
            .as[String].collect().toSeq == (if (hasDev) Seq("device") else Nil),
            s"iter $iter TAG KEYS WHERE device=$d")
      }
    }
    // field conditions stay rejected on the management path
    val e = intercept[IllegalArgumentException](
      InfluxQL.runDelete(table, "DELETE FROM m1 WHERE value > 5"))
    assert(e.getMessage.contains("field"))
  }

  test("10 seeded DROP SERIES statements round-trip the ACID points table") {
    // Same exact-model harness as the management loop, driving the one
    // remaining data-management statement: DROP SERIES selects whole
    // series by measurement and/or tag (never time or field — those stay
    // rejected, matching InfluxDB).
    val rnd = new scala.util.Random(80808080L)
    val root = java.nio.file.Files.createTempDirectory("dropser_diff").toString
    val table = new graft.storage.TxLogTable(spark, root + "/pts")
    val devs = Vector("a", "b", "c")
    val meas = Vector("m1", "m2", "m3")
    def randPts(n: Int): Vector[(String, String, Long, Double)] =
      Vector.fill(n)((devs(rnd.nextInt(3)), meas(rnd.nextInt(3)),
        rnd.nextInt(1000).toLong, math.floor(rnd.nextDouble() * 1000) / 10.0))
    var model = randPts(120)
    table.append(model.toDF("device", "transducer", "ts_us", "value"))
    def tableRows = table.read().as[(String, String, Long, Double)].collect().toVector

    for (iter <- 0 until 10 * diffScale) {
      // FROM (ident | regex | absent), WHERE (tag eq/ne | tag regex | OR
      // of two tag conds | absent) — at least one present
      val (fromTxt, fromPred): (String, String => Boolean) = rnd.nextInt(3) match {
        case 0 => val m = meas(rnd.nextInt(3)); (s" FROM $m", (_: String) == m)
        case 1 =>
          val re = s"m[${1 + rnd.nextInt(2)}${2 + rnd.nextInt(2)}]"
          (s" FROM /$re/", (s: String) => re.r.findFirstIn(s).nonEmpty)
        case _ => ("", (_: String) => true)
      }
      val (whereTxt, wherePred): (String, String => Boolean) =
        rnd.nextInt(if (fromTxt.isEmpty) 3 else 4) match {
          case 0 =>
            val d = devs(rnd.nextInt(3)); val eq = rnd.nextBoolean()
            (s" WHERE device ${if (eq) "=" else "!="} '$d'",
              (s: String) => (s == d) == eq)
          case 1 =>
            val re = Seq("[ab]", "a|c", "b")(rnd.nextInt(3))
            val m = rnd.nextBoolean()
            (s" WHERE device ${if (m) "=~" else "!~"} /$re/",
              (s: String) => re.r.findFirstIn(s).nonEmpty == m)
          case 2 =>
            val d1 = devs(rnd.nextInt(3)); val d2 = devs(rnd.nextInt(3))
            (s" WHERE device = '$d1' OR device = '$d2'",
              (s: String) => s == d1 || s == d2)
          case _ => ("", (_: String) => true)
        }
      val survives = model.filterNot(p => fromPred(p._2) && wherePred(p._1))
      InfluxQL.runDelete(table, s"DROP SERIES$fromTxt$whereTxt")
      model = survives
      assert(tableRows.sorted == model.sorted,
        s"iter $iter DROP SERIES$fromTxt$whereTxt")
      if (model.size < 40) { // keep the table populated mid-sequence
        val fresh = randPts(60)
        table.append(fresh.toDF("device", "transducer", "ts_us", "value"))
        model = model ++ fresh
      }
    }
    // time and field predicates stay rejected on DROP SERIES
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(table, "DROP SERIES FROM m1 WHERE time < 100"))
      .getMessage.contains("time"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(table, "DROP SERIES WHERE value > 5"))
      .getMessage.contains("field"))
  }

  test("30 seeded user-management statements round-trip the auth store") {
    // The GRANT-replaces / REVOKE-lattice semantics live in tiny
    // conditionals — exactly the kind randomized sequences shake out.
    // Exact in-memory model: users(name -> (pwHash, admin)),
    // grants((user, db) -> privilege).
    import graft.influxql.InfluxAuth
    val rnd = new scala.util.Random(42424242L)
    val root = java.nio.file.Files.createTempDirectory("auth_diff").toString
    val names = Vector("u1", "u2", "u3")
    val dbs = Vector("dba", "dbb")
    val privs = Vector("READ", "WRITE", "ALL")
    var users = Map.empty[String, (String, Boolean)]
    var grants = Map.empty[(String, String), String]
    def runA(text: String) = InfluxAuth.run(spark, root, text)
    def checkAll(ctx: String): Unit = {
      val gotUsers = runA("SHOW USERS").as[(String, Boolean)].collect().toSeq
      assert(gotUsers == users.toSeq.map { case (u, (_, a)) => (u, a) }.sortBy(_._1),
        s"$ctx SHOW USERS")
      for (u <- names if users.contains(u)) {
        val got = runA(s"SHOW GRANTS FOR $u").as[(String, String)].collect().toSeq
        val want = grants.collect { case ((`u`, db), p) =>
          (db, if (p == "ALL") "ALL PRIVILEGES" else p) }.toSeq.sortBy(_._1)
        assert(got == want, s"$ctx SHOW GRANTS FOR $u")
      }
    }
    for (iter <- 0 until 30 * diffScale) {
      val u = names(rnd.nextInt(names.size))
      rnd.nextInt(6) match {
        case 0 => // CREATE USER (error if exists)
          val admin = rnd.nextBoolean()
          val stmt = s"CREATE USER $u WITH PASSWORD 'pw$iter'" +
            (if (admin) " WITH ALL PRIVILEGES" else "")
          if (users.contains(u))
            assert(intercept[IllegalArgumentException](runA(stmt))
              .getMessage.contains("exists"), s"iter $iter CREATE dup")
          else {
            runA(stmt)
            users += u -> (InfluxAuth.hashPassword(u, s"pw$iter"), admin)
          }
        case 1 => // DROP USER cascades grants (error if missing)
          if (!users.contains(u))
            assert(intercept[IllegalArgumentException](runA(s"DROP USER $u"))
              .getMessage.contains("not found"), s"iter $iter DROP missing")
          else {
            runA(s"DROP USER $u")
            users -= u
            grants = grants.filterNot(_._1._1 == u)
          }
        case 2 => // SET PASSWORD
          if (users.contains(u)) {
            runA(s"SET PASSWORD FOR $u = 'npw$iter'")
            users += u -> (InfluxAuth.hashPassword(u, s"npw$iter"), users(u)._2)
            assert(InfluxAuth.authenticate(spark, root, u, s"npw$iter"),
              s"iter $iter rotated password must authenticate")
          }
        case 3 => // GRANT p ON db: replaces the held privilege
          val db = dbs(rnd.nextInt(2)); val p = privs(rnd.nextInt(3))
          val stmt = s"GRANT $p ON $db TO $u"
          if (!users.contains(u))
            assert(intercept[IllegalArgumentException](runA(stmt))
              .getMessage.contains("not found"), s"iter $iter GRANT missing user")
          else { runA(stmt); grants += (u, db) -> p }
        case 4 => // REVOKE p ON db: the downgrade lattice
          val db = dbs(rnd.nextInt(2)); val p = privs(rnd.nextInt(3))
          if (users.contains(u)) {
            runA(s"REVOKE $p ON $db FROM $u")
            grants.get((u, db)) match {
              case Some(c) if c == p || p == "ALL" => grants -= ((u, db))
              case Some("ALL") =>
                grants += (u, db) -> (if (p == "READ") "WRITE" else "READ")
              case _ => ()
            }
          }
        case 5 => // admin flag toggle via the no-ON form
          val grant = rnd.nextBoolean()
          val stmt = if (grant) s"GRANT ALL PRIVILEGES TO $u"
                     else s"REVOKE ALL PRIVILEGES FROM $u"
          if (users.contains(u)) {
            runA(stmt)
            users += u -> (users(u)._1, grant)
          }
      }
      checkAll(s"iter $iter")
    }
    // the model exercised both branches at least once
    assert(users.nonEmpty, "seeded run must end with live users")
  }

  test("30 seeded retention-DDL statements round-trip the policy store") {
    val rnd = new scala.util.Random(31313131L)
    val root = java.nio.file.Files.createTempDirectory("rp_diff").toString
    val dbs = Vector("telemetry", "metrics")
    val names = Vector("p1", "p2", "p3")
    val durs = Vector(3600000000L, 86400000000L, 7L * 86400000000L, -1L)
    def durTxt(us: Long): String = us match {
      case -1L => "INF"
      case 3600000000L => "1h"
      case 86400000000L => "1d"
      case _ => "1w"
    }
    // model: (db, name) -> (duration_us, replica, default)
    var model = Map.empty[(String, String), (Long, Long, Boolean)]
    def modelShow(db: Option[String]): Seq[(String, String, Long, Long, Boolean)] =
      model.toSeq.map { case ((d, n), (u, r, df)) => (d, n, u, r, df) }
        .filter(t => db.forall(_ == t._1)).sortBy(t => (t._1, t._2))
    for (iter <- 0 until 30 * diffScale) {
      val db = dbs(rnd.nextInt(2))
      val name = names(rnd.nextInt(3))
      rnd.nextInt(4) match {
        case 0 | 1 => // CREATE / ALTER (same upsert semantics)
          val verb = if (rnd.nextBoolean()) "CREATE" else "ALTER"
          val dur = durs(rnd.nextInt(4))
          val repl = 1L + rnd.nextInt(3)
          val dflt = rnd.nextBoolean()
          RetentionPolicies.run(spark,
            s"$verb RETENTION POLICY $name ON $db DURATION ${durTxt(dur)} " +
              s"REPLICATION $repl${if (dflt) " DEFAULT" else ""}", root)
          if (dflt) model = model.map { case (k @ (d, _), v) =>
            k -> (if (d == db) v.copy(_3 = false) else v)
          }
          model += (db, name) -> (dur, repl, dflt)
        case 2 => // DROP (possibly of a policy that never existed)
          RetentionPolicies.run(spark,
            s"DROP RETENTION POLICY $name ON $db", root)
          model -= ((db, name))
        case 3 => // SHOW, with or without ON
          val on = if (rnd.nextBoolean()) Some(db) else None
          val got = RetentionPolicies.run(spark,
            s"SHOW RETENTION POLICIES${on.map(" ON " + _).getOrElse("")}", root)
            .as[(String, String, Long, Long, Boolean)].collect().toSeq
          assert(got == modelShow(on), s"iter $iter SHOW${on.getOrElse("")}")
      }
      // every mutation's returned SHOW matches the model too
      val all = RetentionPolicies.run(spark, "SHOW RETENTION POLICIES", root)
        .as[(String, String, Long, Long, Boolean)].collect().toSeq
      assert(all == modelShow(None), s"iter $iter full-store drift")
      // invariant: at most one default per db
      assert(all.groupBy(_._1).values.forall(_.count(_._5) <= 1),
        s"iter $iter two defaults in one db")
    }
  }

  test("20 seeded database-DDL statements round-trip the catalog") {
    // CREATE/DROP DATABASE, SHOW DATABASES, qualified FROM routing, ON-db
    // discovery, and retention-policy interaction (autogen on create,
    // cascade on drop) against an exact in-memory model of the catalog
    val rnd = new scala.util.Random(70707070L)
    val root = java.nio.file.Files.createTempDirectory("db_diff").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "d1")
    val dbNames = Vector("d1", "d2", "d3")
    val devs = Vector("a", "b")
    val meas = Vector("m1", "m2")
    var dbs = Set.empty[String]
    var pts = Map.empty[String, Vector[(String, String, Long, Double)]]
    // (db, policy) -> (duration_us, replica, default)
    var pols = Map.empty[(String, String), (Long, Long, Boolean)]
    def polShow(db: Option[String]): Seq[(String, String, Long, Long, Boolean)] =
      pols.toSeq.map { case ((d, n), (u, r, f)) => (d, n, u, r, f) }
        .filter(t => db.forall(_ == t._1)).sortBy(t => (t._1, t._2))
    def pick(): String = dbs.toSeq.sorted.apply(rnd.nextInt(dbs.size))
    def randPts(n: Int): Vector[(String, String, Long, Double)] =
      Vector.fill(n)((devs(rnd.nextInt(2)), meas(rnd.nextInt(2)),
        rnd.nextInt(100).toLong, rnd.nextInt(100).toDouble))
    for (iter <- 0 until 20 * diffScale) {
      rnd.nextInt(7) match {
        case 0 => // CREATE DATABASE: idempotent; autogen only when NEW
          val db = dbNames(rnd.nextInt(3))
          cat.run(s"CREATE DATABASE $db")
          if (!dbs(db)) { dbs += db; pols += (db, "autogen") -> (-1L, 1L, true) }
        case 1 => // DROP DATABASE (sometimes of one that doesn't exist)
          val db = dbNames(rnd.nextInt(3))
          cat.run(s"DROP DATABASE $db")
          dbs -= db; pts -= db
          pols = pols.filterNot(_._1._1 == db)
        case 2 =>
          assert(cat.run("SHOW DATABASES").as[String].collect().toSeq ==
            dbs.toSeq.sorted, s"iter $iter SHOW DATABASES")
        case 3 if dbs.nonEmpty => // write points into a random live db
          val db = pick()
          val fresh = randPts(10)
          cat.writePoints(db, fresh.toDF("device", "transducer", "ts_us", "value"))
          pts += db -> (pts.getOrElse(db, Vector.empty) ++ fresh)
        case 4 if dbs.nonEmpty => // qualified SELECT routes to THAT db
          val db = pick()
          val m = meas(rnd.nextInt(2))
          val want = pts.getOrElse(db, Vector.empty).count(_._2 == m).toLong
          val got = cat.run(s"SELECT count(value) FROM $db..$m")
            .as[Long].collect().toSeq
          assert(got == (if (want == 0) Nil else Seq(want)),
            s"iter $iter SELECT $db..$m")
        case 5 if dbs.nonEmpty => // ON-db discovery answers from that db only
          val db = pick()
          val rows = pts.getOrElse(db, Vector.empty)
          assert(cat.run(s"SHOW MEASUREMENTS ON $db").as[String].collect().toSeq ==
            rows.map(_._2).distinct.sorted, s"iter $iter SHOW MEAS ON $db")
          assert(cat.run(s"SHOW TAG VALUES ON $db WITH KEY = device")
            .as[(String, String)].collect().toSeq ==
            rows.map(_._1).distinct.sorted.map(("device", _)),
            s"iter $iter TAG VALUES ON $db")
        case 6 if dbs.nonEmpty => // retention DDL threads the db check
          val db = pick()
          val name = Seq("p1", "p2")(rnd.nextInt(2))
          val (durTxt, durUs) =
            Seq(("1d", 86400000000L), ("INF", -1L))(rnd.nextInt(2))
          val dflt = rnd.nextBoolean()
          cat.run(s"CREATE RETENTION POLICY $name ON $db DURATION $durTxt" +
            (if (dflt) " DEFAULT" else ""))
          if (dflt) pols = pols.map { case (k @ (d, _), v) =>
            k -> (if (d == db) v.copy(_3 = false) else v)
          }
          pols += (db, name) -> (durUs, 1L, dflt)
          assert(cat.run(s"SHOW RETENTION POLICIES ON $db")
            .as[(String, String, Long, Long, Boolean)].collect().toSeq ==
            polShow(Some(db)), s"iter $iter RP ON $db")
        case _ => // statements against missing databases fail loudly
          val ghost = dbNames.find(!dbs(_))
          ghost.foreach { g =>
            assert(intercept[IllegalArgumentException](
              cat.run(s"SELECT count(value) FROM $g..m1"))
              .getMessage.contains("database not found"), s"iter $iter ghost $g")
          }
      }
      // invariant every iteration: the full policy store holds exactly the
      // live dbs' policies (DROP DATABASE cascaded, nothing leaked)
      assert(RetentionPolicies.run(spark, "SHOW RETENTION POLICIES", root)
        .as[(String, String, Long, Long, Boolean)].collect().toSeq ==
        polShow(None), s"iter $iter policy-store drift")
    }
  }

  test("subquery re-aggregation matches the reference, nulls and all") {
    val rnd = new scala.util.Random(99991L)
    val pts = fixture
    val df = pts.toDF("device", "transducer", "ts_us", "value")
    val mPts = pts.collect { case (d, "m", t, v) => Pt(d, t, v) }
    val innerFns = Vector("count", "sum", "mean", "min", "max", "spread",
      "first", "last", "median", "stddev", "mode")
    // outer functions restricted to the null-transparent set: the inner
    // skeleton emits null rows (empty day-buckets) the outer aggregates
    // must IGNORE — while a bucket whose inner rows are all null still
    // exists, with count 0 and null everything else
    val outerFns = Vector("count", "sum", "mean", "min", "max")

    for (iter <- 0 until 25 * diffScale) {
      val fn1 = innerFns(rnd.nextInt(innerFns.size))
      val fn2 = outerFns(rnd.nextInt(outerFns.size))
      val step1 = Seq(50L, 100L)(rnd.nextInt(2))
      val step2 = Seq(100L, 250L, 500L)(rnd.nextInt(3))
      val bounded = rnd.nextBoolean()
      val lo = rnd.nextInt(300).toLong
      val hi = lo + 100 + rnd.nextInt(500)
      val innerWhere = if (bounded) s" WHERE time >= $lo AND time < $hi" else ""
      val text =
        s"""SELECT $fn2(x) AS y FROM
           |(SELECT $fn1(value) AS x FROM m$innerWhere GROUP BY time($step1), device)
           |GROUP BY time($step2)""".stripMargin
      val engine = InfluxQL.run(df, text)
        .select("time", "y").collect().map(r => (r.getLong(0), r.get(1))).toSet

      // reference: inner bucket series incl skeleton nulls, then re-bucket
      val kept = mPts.filter(p => !bounded || (p.ts >= lo && p.ts < hi))
      def b1(t: Long) = t - Math.floorMod(t, step1)
      val grouped = kept.groupBy(p => (b1(p.ts), p.device))
      val innerRows: Seq[(Long, Any)] =
        if (!bounded) grouped.toSeq.map { case ((b, _), rs) => (b, aggCall(fn1, None, rs)) }
        else if (kept.isEmpty) Nil
        else {
          val bLo = lo - Math.floorMod(lo, step1)
          val bHi = hi - 1 - Math.floorMod(hi - 1, step1)
          val series = grouped.keys.map(_._2).toSeq.distinct
          for (d <- series; b <- bLo to bHi by step1)
            yield (b, grouped.get((b, d)).map(aggCall(fn1, None, _)).orNull)
        }
      val expected: Set[(Long, Any)] = innerRows
        .groupBy { case (t, _) => t - Math.floorMod(t, step2) }
        .map { case (b2, rows) =>
          val raw = rows.map(_._2).filter(_ != null)
          val xs = raw.map { case l: Long => l.toDouble; case d: Double => d }
          val y: Any = fn2 match {
            case "count" => raw.size.toLong
            case "sum" =>
              if (xs.isEmpty) null
              else xs.map(BigDecimal(_).setScale(4, RoundingMode.HALF_UP)).sum.toDouble
            case "mean" =>
              if (xs.isEmpty) null
              else xs.map(BigDecimal(_).setScale(4, RoundingMode.HALF_UP))
                .sum.toDouble / xs.size.toDouble
            case "min" | "max" =>
              // min/max keep the inner column's native type: a count stays long
              if (raw.isEmpty) null
              else if (fn1 == "count") {
                val ls = raw.map(_.asInstanceOf[Long])
                if (fn2 == "min") ls.min else ls.max
              } else if (fn2 == "min") xs.min else xs.max
          }
          (b2, y)
        }.toSet

      assert(engine == expected,
        s"""subquery mismatch (iter $iter)
           |QUERY: $text
           |ENGINE-ONLY: ${(engine -- expected).take(5)}
           |EXPECTED-ONLY: ${(expected -- engine).take(5)}""".stripMargin)
    }
  }

  test("20 seeded continuous queries: streamed MERGE output equals the interpreter's closed buckets") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the incremental subset runContinuous accepts: single-pass aggregates,
    // GROUP BY time(d[, off])[, device], tag/field WHERE trees — each seed
    // drives random points through a MemoryStream into the ACID target
    // table and replays the same buckets in the in-memory interpreter
    val fns = Vector("count", "sum", "mean", "min", "max", "first", "last",
      "spread", "stddev")
    val devices = Vector("a", "b", "c")
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in us
    val root = java.nio.file.Files.createTempDirectory("cq_diff").toString
    for (seed <- 0 until 20 * diffScale) {
      val rnd = new scala.util.Random(7000L + seed)
      val n = 30 + rnd.nextInt(40)
      val pts: Vector[(String, String, Long, Double)] = Vector.fill(n) {
        (devices(rnd.nextInt(3)), if (rnd.nextInt(4) == 0) "other" else "m",
          base + rnd.nextInt(6000).toLong * 1000000L,
          math.floor(rnd.nextDouble() * 1000) / 10.0)
      }
      val items = (0 until 1 + rnd.nextInt(3)).map { i =>
        val op = if (rnd.nextInt(3) == 0)
          Some((Seq('+', '-', '*')(rnd.nextInt(3)), (rnd.nextInt(19) + 1).toDouble))
        else None
        GItem(fns(rnd.nextInt(fns.size)), None, op, s"f$i")
      }
      val byDevice = rnd.nextBoolean()
      val stepUs = Seq(300L, 600L, 1200L)(rnd.nextInt(3)) * 1000000L
      val offUs = if (rnd.nextInt(3) == 0) 60000000L * (1 + rnd.nextInt(4)) else 0L
      val conds: Seq[GCond] = (0 until rnd.nextInt(3)).map { _ =>
        def simple(): GCond = rnd.nextInt(3) match {
          case 0 => GTag(rnd.nextBoolean(), devices(rnd.nextInt(3)))
          case 1 => GTagRe(rnd.nextBoolean(), Seq("[ab]", "a|c", "b")(rnd.nextInt(3)))
          case _ =>
            if (rnd.nextBoolean()) GField(">", math.floor(rnd.nextDouble() * 1000) / 10.0)
            else GField("<=", math.floor(rnd.nextDouble() * 1000) / 10.0)
        }
        if (rnd.nextInt(4) == 0) GOr(simple(), simple()) else simple()
      }
      val matched = pts.collect {
        case (d, "m", t, v) if conds.forall(_.holds(Pt(d, t, v))) => Pt(d, t, v)
      }
      val whereTxt =
        if (conds.isEmpty) "" else " WHERE " + conds.map(_.text).mkString(" AND ")
      val timeTxt =
        if (offUs == 0) s"time(${stepUs}u)" else s"time(${stepUs}u, ${offUs}u)"
      // fill draw: 0 = default (no FILL written), 1 = none, 2 = null,
      // 3 = a literal (fractional and negative values exercise the
      // per-column cast), 4 = previous (emission-time LOCF), 5 = linear
      // (retroactive interpolation; every column promotes to double)
      val fillKind = rnd.nextInt(6)
      val fillVal = Seq(0.0, 7.0, 2.5, -1.0)(rnd.nextInt(4))
      val fillTxt = fillKind match {
        case 0 => ""
        case 1 => " FILL(none)"
        case 2 => " FILL(null)"
        case 3 => s" FILL($fillVal)"
        case 4 => " FILL(previous)"
        case 5 => " FILL(linear)"
      }
      val ddl =
        s"""CREATE CONTINUOUS QUERY cq$seed ON db BEGIN
           |SELECT ${items.map(_.text).mkString(", ")} INTO t$seed FROM m$whereTxt
           |GROUP BY $timeTxt${if (byDevice) ", device" else ""}$fillTxt END""".stripMargin

      // the flush sentinel: a COPY of a matched point 10 days out — it
      // passes the same filters, so it advances the watermark past every
      // real bucket; its own (still-open) bucket is exactly what the
      // append-mode contract withholds, on both sides of the comparison
      val sentinel = matched.headOption.map(p =>
        (p.device, "m", base + 864000L * 1000000L, p.value))

      // ADVERSARIAL BATCH SPLITS (r14 task): deliver the points as 1-3
      // time-contiguous micro-batches (sorted so nothing falls behind the
      // 0-second watermark), then the sentinel alone. Gaps whose right
      // neighbor lands 2+ batches later now retro-fill through the MERGE
      // instead of inside one emission — the fill(previous/linear)
      // cross-batch machinery (carry bucket, open-gap re-read, donors)
      // is on the hook for every seed, not just the hand-built specs.
      def deliver(checkpoint: String, chunkDraw: scala.util.Random): Unit = {
        val in = MemoryStream[(String, String, Long, Double)]
        val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val q = InfluxQL.startContinuousQuery(points, ddl, root,
          checkpoint = checkpoint, lateness = "0 seconds",
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        try {
          val sorted = pts.sortBy(_._3)
          val nChunks = 1 + chunkDraw.nextInt(3)
          val cuts = Vector.fill(nChunks - 1)(chunkDraw.nextInt(sorted.size + 1))
            .sorted :+ sorted.size
          var from = 0
          cuts.foreach { to =>
            if (to > from) { in.addData(sorted.slice(from, to): _*); q.processAllAvailable() }
            from = to
          }
          sentinel.foreach { s => in.addData(s); q.processAllAvailable() }
        } finally q.stop()
      }
      deliver(s"$root/cp$seed", new scala.util.Random(8300L + seed))
      // every 3rd seed: an at-least-once FULL re-delivery against the
      // populated target (fresh checkpoint, different chunking). The keyed
      // MERGE must converge back to the batch answer bit-exactly — the
      // retroactive fills recompute from observed endpoints, never from a
      // surviving interpolation
      if (seed % 3 == 0)
        deliver(s"$root/cp${seed}_replay", new scala.util.Random(8900L + seed))

      // --- reference interpreter: closed buckets only --------------------
      val all = matched ++ sentinel.map(s => Pt(s._1, s._3, s._4))
      val wm = all.map(_.ts).maxOption.getOrElse(Long.MinValue)
      def bucketOf(t: Long): Long = t - Math.floorMod(t - offUs, stepUs)
      val closed: Map[(Long, String), Seq[Any]] = all.groupBy(p =>
          (bucketOf(p.ts), if (byDevice) p.device else ""))
        .collect { case ((b, d), rs) if b + stepUs <= wm =>
          (b, d) -> items.map(it => it.eval(aggCall(it.fn, it.pct, rs)))
        }
      def render(b: Long, d: String, vals: Seq[Any]): Seq[Any] =
        (b +: (if (byDevice) Seq(d) else Nil)) ++ vals
      // a bare count column is LONG; everything else (expressions
      // included) evaluates in double — the fill literal casts to the
      // OUTPUT column's type, truncating toward zero like Spark's cast
      def isLong(it: GItem): Boolean = it.fn == "count" && it.op.isEmpty
      val expected: Set[Seq[Any]] =
        if (fillKind <= 1 || closed.isEmpty)
          closed.map { case ((b, d), vals) => render(b, d, vals) }.toSet
        else if (fillKind == 5) {
          // fill(linear): every column promotes to double; any null cell
          // (gap bucket OR a present bucket's null aggregate, e.g. a
          // 1-point stddev) takes the line between the nearest non-null
          // neighbors in the series — the engine's exact IEEE tree:
          // pv + (nv - pv) * ((b - pb) / (nb - pb)) on µs longs cast to
          // double — and edges stay null
          val lo = closed.keys.map(_._1).min
          val hi = closed.keys.map(_._1).max
          val series = closed.keys.map(_._2).toSet
          series.flatMap { d =>
            val bs = (lo to hi by stepUs).toVector
            val colVals: Seq[Vector[Any]] = items.indices.map { i =>
              val cell: Vector[Any] =
                bs.map(b => closed.get((b, d)).map(_(i)).orNull)
              val obs = bs.indices.collect { case k if cell(k) != null =>
                (bs(k), cell(k).asInstanceOf[Number].doubleValue) }
              bs.indices.map { k =>
                if (cell(k) != null) cell(k).asInstanceOf[Number].doubleValue
                else {
                  val b = bs(k)
                  val pv = obs.filter(_._1 < b).lastOption
                  val nv = obs.find(_._1 > b)
                  (pv, nv) match {
                    case (Some((pb, p)), Some((nb, nx))) =>
                      p + (nx - p) * ((b - pb).toDouble / (nb - pb).toDouble)
                    case _ => null
                  }
                }
              }.toVector
            }
            bs.indices.map(k => render(bs(k), d, items.indices.map(colVals(_)(k))))
          }
        } else {
          val lo = closed.keys.map(_._1).min
          val hi = closed.keys.map(_._1).max
          val series = closed.keys.map(_._2).toSet
          series.flatMap { d =>
            // per-column fills apply per CELL, exactly like the batch
            // planner: a PRESENT bucket's null aggregate (a 1-point
            // stddev) takes the literal / the LOCF carry too, not just
            // gap buckets; fill(null) leaves present nulls alone
            val carry = Array.fill[Any](items.size)(null)
            def cell(v: Any, i: Int): Any =
              if (v != null) v
              else fillKind match {
                case 2 => null
                case 3 => if (isLong(items(i))) fillVal.toLong else fillVal
                case 4 => carry(i)
              }
            (lo to hi by stepUs).map { b =>
              val raw = closed.get((b, d))
                .getOrElse(items.map(_ => null: Any))
              val filled = raw.zipWithIndex.map { case (v, i) => cell(v, i) }
              filled.zipWithIndex.foreach { case (v, i) =>
                if (v != null) carry(i) = v }
              render(b, d, filled)
            }
          }
        }

      val table = new graft.storage.TxLogTable(spark, s"$root/db/t$seed")
      val engine: Set[Seq[Any]] =
        if (table.version.isEmpty) Set.empty
        else {
          val cols = "time" +: (if (byDevice) Seq("device") else Nil) ++: items.map(_.alias)
          table.read().select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
        }
      assert(engine == expected,
        s"""continuous-query mismatch (seed $seed)
           |DDL: $ddl
           |ENGINE-ONLY: ${(engine -- expected).take(5)}
           |EXPECTED-ONLY: ${(expected -- engine).take(5)}""".stripMargin)
    }
  }

  test("15 seeded field-type-conflict interleavings match the two-phase registry model") {
    // the r13 surface: a field's type is fixed by its FIRST write —
    // persisted registry first, then batch-internal first-seen; a line
    // conflicting with either 400s as a partial write but an intra-batch
    // reject still registers its other fields (the engine's documented
    // two-phase rule). The model tracks the registry and acceptance line
    // by line across seeded multi-batch interleavings of float/bool/
    // string writes, malformed lines included.
    import graft.influxql.InfluxCatalog
    val meas = Vector("m1", "m2")
    for (seed <- 0 until 15 * diffScale) {
      val rnd = new scala.util.Random(9100L + seed)
      val root = java.nio.file.Files.createTempDirectory("ftc_diff").toString
      val cat = new InfluxCatalog(spark, root, defaultDb = "db")
      cat.run("CREATE DATABASE db")
      var reg = Map.empty[(String, String), String]
      val wantRows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      var ts = 1000000L
      case class L(text: String, m: String, pts: Seq[(String, String)], malformed: Boolean)
      for (batch <- 0 until 2 + rnd.nextInt(3)) {
        val lines: Seq[L] = (0 until 2 + rnd.nextInt(6)).map { _ =>
          if (rnd.nextInt(8) == 0) L("not a line!!!", "", Nil, malformed = true)
          else {
            val m = meas(rnd.nextInt(2))
            val fs = (0 until 1 + rnd.nextInt(2)).map { i =>
              val f = if (i == 0) "value" else "g"
              val t = Seq("float", "boolean", "string")(rnd.nextInt(3))
              (f, t)
            }.distinctBy(_._1)
            ts += 1000L
            val body = fs.map { case (f, t) => t match {
              case "float" => s"$f=${rnd.nextInt(100)}.5"
              case "boolean" => s"$f=${if (rnd.nextBoolean()) "t" else "f"}"
              case _ => s"""$f="s${rnd.nextInt(5)}""""
            }}.mkString(",")
            L(s"$m,device=d${rnd.nextInt(2)} $body $ts", m, fs, malformed = false)
          }
        }
        // --- model: phase 1 registers first-seen types of lines that do
        // not conflict with the PERSISTED registry; phase 2 accepts lines
        // that conflict with neither persisted nor batch-fresh types
        val known = reg
        var fresh = Map.empty[(String, String), String]
        for (l <- lines if !l.malformed) {
          val vsKnown = l.pts.exists { case (f, t) =>
            known.get((l.m, f)).exists(_ != t) }
          if (!vsKnown)
            for ((f, t) <- l.pts
                 if !known.contains((l.m, f)) && !fresh.contains((l.m, f)))
              fresh += ((l.m, f) -> t)
        }
        reg = known ++ fresh
        var conflicts = 0
        var malformed = 0
        for (l <- lines) {
          if (l.malformed) malformed += 1
          else if (l.pts.exists { case (f, t) => reg.get((l.m, f)).exists(_ != t) })
            conflicts += 1
          else wantRows(l.m) +=
            l.pts.count { case (f, t) => f == "value" && t != "string" }
        }
        // --- engine
        val res = cat.writeLineProtocol("db", lines.map(_.text).toDS())
        val errs = res.errors.collect()
        assert(errs.count(_.error.contains("field type conflict")) == conflicts,
          s"seed $seed batch $batch conflict count:\n${errs.mkString("\n")}")
        assert(errs.count(!_.error.contains("field type conflict")) == malformed,
          s"seed $seed batch $batch malformed count")
        assert(cat.fieldTypes("db") == reg,
          s"seed $seed batch $batch registry: got ${cat.fieldTypes("db")} want $reg")
      }
      for (m <- meas) {
        val got = cat.run(s"SELECT count(value) AS c FROM $m")
          .select("c").collect().headOption.map(_.getLong(0)).getOrElse(0L)
        assert(got == wantRows(m), s"seed $seed committed rows of $m")
      }
    }
  }

  test("10 seeded backup/restore round-trips survive concurrent commits") {
    // the r13 surface: exportSnapshot under a live writer must capture a
    // CONSISTENT committed version (never a torn mix), restore must
    // publish exactly that version's bytes, and the version fence must
    // refuse a restore onto any live table. Each seed interleaves
    // appends/merges with a snapshot from a racing thread.
    import graft.storage.TxLogTable
    for (seed <- 0 until 10 * diffScale) {
      val rnd = new scala.util.Random(9700L + seed)
      val dir = java.nio.file.Files.createTempDirectory("bak_diff").toString
      val t = new TxLogTable(spark, s"$dir/t")
      def frame(k: Int) = spark.range(k * 10, k * 10 + 5)
        .select(col("id"), concat(lit(s"b$k-"), col("id")).as("s"))
      TxLogTable.retryOnConflict() { t.append(frame(0)); () }
      val nCommits = 3 + rnd.nextInt(4)
      val snapAfter = 1 + rnd.nextInt(nCommits)
      val bak = java.nio.file.Files.createTempDirectory("bak_dst").toString
      @volatile var snapVer = -1L
      val snapper = new Thread(() => { snapVer = t.exportSnapshot(bak) })
      for (k <- 1 to nCommits) {
        if (k == snapAfter) snapper.start()
        TxLogTable.retryOnConflict() {
          if (rnd.nextBoolean()) t.append(frame(k))
          else t.merge(frame(k), Seq("id"), Some("id"))
          ()
        }
      }
      snapper.join()
      assert(snapVer >= 0L, s"seed $seed snapshot must export a version")
      // the snapshot is the EXACT content of the version it names
      val want = t.readVersion(snapVer).collect().map(_.toString).sorted.toSeq
      // restore onto a live table refuses (fence)
      val clash = intercept[IllegalStateException](t.importSnapshot(bak))
      assert(clash.getMessage.contains("fence"), clash.getMessage)
      val restored = new TxLogTable(spark, s"$dir/r")
      assert(restored.importSnapshot(bak) == snapVer)
      val got = restored.read().collect().map(_.toString).sorted.toSeq
      assert(got == want, s"seed $seed restored content != version $snapVer")
    }
  }
}
