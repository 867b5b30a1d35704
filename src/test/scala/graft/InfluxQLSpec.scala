package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.influxql.{InfluxQL, RetentionPolicies}
import graft.influxql.InfluxQL._

class InfluxQLSpec extends SparkSuite {
  import spark.implicits._

  private def pts(rows: (String, String, Long, Double)*): DataFrame =
    rows.toDF("device", "transducer", "ts_us", "value")

  test("parser: full clause surface round-trips into the AST") {
    val q = parse(
      """SELECT mean(value), percentile(value, 95) AS p95 FROM temp
        |WHERE time >= '2024-01-01' AND time < 1706659200000000 AND device != 'dev7'
        |GROUP BY time(6h), device FILL(linear)
        |ORDER BY time DESC LIMIT 10""".stripMargin)
    assert(q.fields == Seq(Item(FCall(Field("mean", "value", None)), None),
      Item(FCall(Field("percentile", "value", Some(95.0))), Some("p95"))))
    assert(q.measurement == "temp")
    assert(q.conds == Seq(TimeCond(">=", 1704067200000000L),
      TimeCond("<", 1706659200000000L), TagCond("device", eq = false, "dev7")))
    assert(q.groupTimeUs.contains(6L * 3600000000L) && q.groupTags == Seq("device"))
    assert(q.fill == FillLinear && q.timeDesc && q.limit.contains(10))
  }

  test("parser: durations, defaults, and keyword case-insensitivity") {
    val q = parse("select SUM(value) from m where time > 5 group by time(90m)")
    assert(q.groupTimeUs.contains(90L * 60000000L))
    assert(q.fill == FillNull && !q.timeDesc && q.limit.isEmpty)
    assert(q.conds == Seq(TimeCond(">", 5L)))
    assert(parse("SELECT value FROM m").fields == Seq(Item(FRef("value"), None)))
    assert(parse("SELECT mean(value) FROM m GROUP BY time(1w) FILL(3.5)").fill == FillValue(3.5))
  }

  test("parser: malformed queries fail with positioned errors") {
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT FROM m").contains("expected"))
    assert(bad("SELECT mean(value) value FROM m").contains("expected FROM"))
    assert(bad("SELECT mean(value), value FROM m").contains("mix"))
    assert(bad("SELECT mean(value) AS m, sum(value) AS m FROM x").contains("duplicate"))
    assert(bad("SELECT value FROM m GROUP BY time(1h)").contains("aggregated"))
    assert(bad("SELECT mean(value) FROM m FILL(previous)").contains("trailing"))
    assert(bad("SELECT percentile(value) FROM m").contains("needs N"))
    assert(bad("SELECT mean(value) FROM m WHERE time ~ 3").contains("unrecognized"))
    assert(bad("SELECT mean(value) FROM m GROUP BY time(10ns)").contains("sub-microsecond"))
  }

  test("planner: grouped aggregates honor measurement, tags, and time buckets") {
    val df = pts(
      ("a", "temp", 0L, 1.0), ("a", "temp", 5L, 3.0), ("a", "temp", 10L, 10.0),
      ("b", "temp", 1L, 7.0), ("a", "hum", 2L, 99.0))
    val got = InfluxQL.run(df,
      "SELECT count(value), sum(value), mean(value) FROM temp GROUP BY time(10u), device")
      .as[(Long, String, Long, Double, Double)].collect().toSet
    assert(got == Set(
      (0L, "a", 2L, 4.0, 2.0),
      (10L, "a", 1L, 10.0, 10.0),
      (0L, "b", 1L, 7.0, 7.0)))
  }

  test("planner: selectors tie-break equal timestamps by value; spread and stddev exact") {
    val df = pts(
      ("a", "m", 1L, 5.0), ("a", "m", 1L, 2.0), ("a", "m", 9L, 7.0), ("a", "m", 9L, 8.0))
    val row = InfluxQL.run(df,
      "SELECT first(value), last(value), spread(value), stddev(value) FROM m")
      .as[(Double, Double, Double, Double)].collect().head
    assert(row._1 == 2.0, "first: smallest value among earliest-ts ties")
    assert(row._2 == 8.0, "last: greatest value among latest-ts ties")
    assert(row._3 == 6.0)
    // sample stddev of {5,2,7,8}: mean 5.5, var (0.25+12.25+2.25+6.25)/3 = 7
    assert(math.abs(row._4 - math.sqrt(7.0)) < 1e-6)
  }

  test("planner: fill modes densify the queried range") {
    // one series, buckets 0/10/20/30: data in 10 (v=2) and 30 (v=8)
    val df = pts(("a", "m", 12L, 2.0), ("a", "m", 33L, 8.0))
    def run(fill: String): Map[Long, Option[Double]] =
      InfluxQL.run(df,
        s"SELECT mean(value) FROM m WHERE time >= 0 AND time < 40 GROUP BY time(10u), device FILL($fill)")
        .select(col("time"), col("mean"))
        .as[(Long, Option[Double])].collect().toMap
    assert(run("none") == Map(10L -> Some(2.0), 30L -> Some(8.0)))
    assert(run("null") ==
      Map(0L -> None, 10L -> Some(2.0), 20L -> None, 30L -> Some(8.0)))
    assert(run("previous") ==
      Map(0L -> None, 10L -> Some(2.0), 20L -> Some(2.0), 30L -> Some(8.0)))
    assert(run("linear") ==
      Map(0L -> None, 10L -> Some(2.0), 20L -> Some(5.0), 30L -> Some(8.0)))
    assert(run("0") ==
      Map(0L -> Some(0.0), 10L -> Some(2.0), 20L -> Some(0.0), 30L -> Some(8.0)))
    // a fill other than none has no finite skeleton without both time bounds
    assert(intercept[IllegalArgumentException](InfluxQL.run(df,
      "SELECT mean(value) FROM m GROUP BY time(1h) FILL(previous)"))
      .getMessage.contains("time bounds"))
  }

  test("planner: fill(0) keeps each aggregate's own type; linear promotes counts") {
    val df = pts(("a", "m", 12L, 2.0), ("a", "m", 33L, 8.0), ("a", "m", 35L, 1.0))
    val zero = InfluxQL.run(df,
      "SELECT count(value) FROM m WHERE time >= 0 AND time < 40 GROUP BY time(10u) FILL(0)")
    assert(zero.schema("count").dataType.typeName == "long")
    assert(zero.select("count").as[Long].collect().sorted.toSeq == Seq(0L, 0L, 1L, 2L))
    val lin = InfluxQL.run(df,
      "SELECT count(value) FROM m WHERE time >= 0 AND time < 40 GROUP BY time(10u) FILL(linear)")
    assert(lin.schema("count").dataType.typeName == "double")
    assert(lin.select(col("time"), col("count")).as[(Long, Option[Double])].collect().toMap
      == Map(0L -> None, 10L -> Some(1.0), 20L -> Some(1.5), 30L -> Some(2.0)))
  }

  test("parser: transformations wrap an aggregate and carry their parameter") {
    val q = parse(
      "SELECT derivative(mean(value), 1h), moving_average(sum(value), 3) AS ma FROM m GROUP BY time(1d)")
    assert(q.fields == Seq(
      Item(FCall(Field("mean", "value", None, Some("derivative"), Some(3600000000L))), None),
      Item(FCall(Field("sum", "value", None, Some("moving_average"), Some(3L))), Some("ma"))))
    // per-second default unit
    assert(parse("SELECT derivative(max(value)) FROM m GROUP BY time(1h)")
      .fields.head.bareCall.flatMap(_.targ).contains(1000000L))
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT derivative(value) FROM m GROUP BY time(1h)").contains("aggregate"))
    assert(bad("SELECT moving_average(mean(value)) FROM m GROUP BY time(1h)").contains("needs N"))
    assert(bad("SELECT difference(mean(value)) FROM m").contains("GROUP BY time"))
  }

  test("planner: transformations run over the densified bucket series") {
    // buckets 0/10/20/30 with sums 2, 6, (gap), 12
    val df = pts(("a", "m", 2L, 2.0), ("a", "m", 12L, 6.0), ("a", "m", 31L, 12.0))
    val got = InfluxQL.run(df,
      """SELECT derivative(sum(value), 10u) AS d, difference(sum(value)) AS diff,
        |cumulative_sum(sum(value)) AS cs, moving_average(sum(value), 2) AS ma
        |FROM m WHERE time >= 0 AND time < 40 GROUP BY time(10u), device""".stripMargin)
      .select(col("time"), col("d"), col("diff"), col("cs"), col("ma"))
      .as[(Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got(0L) == (None, None, Some(2.0), Some(2.0)), "no predecessor -> null rates")
    assert(got(10L) == (Some(4.0), Some(4.0), Some(8.0), Some(4.0)))
    assert(got(20L) == (None, None, Some(8.0), Some(6.0)), "null bucket propagates; ma averages what exists")
    assert(got(30L) == (None, None, Some(20.0), Some(12.0)), "predecessor null -> null rate")
    // fill(previous) feeds the transform: a LOCF'd bucket is a zero rate
    val locf = InfluxQL.run(df,
      """SELECT non_negative_derivative(sum(value), 10u) AS d FROM m
        |WHERE time >= 0 AND time < 40 GROUP BY time(10u) FILL(previous)""".stripMargin)
      .select(col("time"), col("d")).as[(Long, Option[Double])].collect().toMap
    assert(locf(20L).contains(0.0), "LOCF'd bucket -> zero rate, not null")
    // non_negative_derivative suppresses a genuine falling edge to null
    val fall = pts(("a", "m", 2L, 2.0), ("a", "m", 12L, 6.0), ("a", "m", 21L, 1.0))
    val nn = InfluxQL.run(fall,
      """SELECT derivative(sum(value), 10u) AS d, non_negative_derivative(sum(value), 10u) AS nnd
        |FROM m WHERE time >= 0 AND time < 30 GROUP BY time(10u)""".stripMargin)
      .select(col("time"), col("d"), col("nnd"))
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(nn(20L) == (Some(-5.0), None))
  }

  test("parser: technical-analysis transforms take (agg, N >= 2)") {
    val q = parse(
      "SELECT relative_strength_index(mean(value), 14) AS rsi FROM m GROUP BY time(1h)")
    assert(q.fields == Seq(
      Item(FCall(Field("mean", "value", None, Some("relative_strength_index"), Some(14L))), Some("rsi"))))
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT exponential_moving_average(mean(value)) FROM m GROUP BY time(1h)")
      .contains("needs N"))
    assert(bad("SELECT chande_momentum_oscillator(mean(value), 1) FROM m GROUP BY time(1h)")
      .contains(">= 2"))
    assert(bad("SELECT kaufmans_efficiency_ratio(mean(value), 3) FROM m")
      .contains("GROUP BY time"))
    // holt_winters keeps the aggregate-only rule even where raw is allowed
    assert(bad("SELECT holt_winters(value, 3, 0) FROM m GROUP BY time(1h)")
      .contains("aggregate argument"))
  }

  test("planner: TA transforms run raw over each series' own points") {
    // two devices; GROUP BY device keeps each series separate
    val df = pts(("a", "m", 0L, 1.0), ("a", "m", 10L, 3.0), ("a", "m", 20L, 2.0),
      ("b", "m", 0L, 10.0), ("b", "m", 10L, 10.0))
    val got = InfluxQL.run(df,
      """SELECT exponential_moving_average(value, 2) AS ema,
        |relative_strength_index(value, 2) AS rsi,
        |chande_momentum_oscillator(value, 2) AS cmo,
        |kaufmans_efficiency_ratio(value, 2) AS ker
        |FROM m GROUP BY device""".stripMargin)
      .select(col("device"), col("time"), col("ema"), col("rsi"), col("cmo"), col("ker"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // independent model: truncated integer kernel on the raw subsequence
    val cs = graft.operators.TimeSeriesOps.emaCoefficients(
      2, graft.operators.TimeSeriesOps.emaDialectDepth(2))
    def ema(us: Seq[Long], i: Int): Double = {
      val js = cs.indices.filter(j => i - j >= 0)
      js.map(j => cs(j).toDouble * us(i - j)).sum / js.map(cs(_).toDouble).sum / 1e6
    }
    val ua = Seq(1000000L, 3000000L, 2000000L)
    assert(got(("a", 0L))._1.contains(ema(ua, 0)))
    assert(got(("a", 10L))._1.contains(ema(ua, 1)))
    assert(got(("a", 20L))._1.contains(ema(ua, 2)))
    assert(got(("b", 0L))._1.contains(10.0), "series b is independent")
    // RSI: head null; only-gain 100; +2M/-1M Wilder-weighted
    assert(got(("a", 0L))._2.isEmpty && got(("a", 10L))._2.contains(100.0))
    assert(got(("b", 10L))._2.contains(50.0), "flat series: zero mass both ways")
    // CMO/KER need the n-back point: first defined at the 3rd point
    assert(got(("a", 10L))._3.isEmpty && got(("a", 20L))._3.contains(100.0 / 3))
    assert(got(("a", 20L))._4.contains(1.0 / 3))
  }

  test("planner: EMA family over buckets matches the integer-kernel model") {
    // dense buckets 0/10/20 with single values 1, 2, 4 (mean == value)
    val df = pts(("a", "m", 0L, 1.0), ("a", "m", 10L, 2.0), ("a", "m", 20L, 4.0))
    val got = InfluxQL.run(df,
      """SELECT exponential_moving_average(mean(value), 2) AS ema,
        |double_exponential_moving_average(mean(value), 2) AS dema,
        |triple_exponential_moving_average(mean(value), 2) AS tema,
        |triple_exponential_derivative(mean(value), 2) AS trix
        |FROM m WHERE time >= 0 AND time < 30 GROUP BY time(10u)""".stripMargin)
      .select(col("time"), col("ema"), col("dema"), col("tema"), col("trix"))
      .as[(Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // independent integer-kernel model (same IEEE shape as the engine)
    val cs = graft.operators.TimeSeriesOps.emaCoefficients(
      2, graft.operators.TimeSeriesOps.emaDialectDepth(2))
    def emaPass(src: Seq[Option[Double]]): Seq[Option[Double]] = {
      val us = src.map(_.map(d => math.floor(d * 1e6).toLong))
      src.indices.map { i =>
        us(i).map { _ =>
          val terms = cs.indices.filter(j => i - j >= 0 && us(i - j).nonEmpty)
          val num = terms.map(j => cs(j) * us(i - j).get).sum
          val den = terms.map(cs(_)).sum
          num.toDouble / den.toDouble / 1e6
        }
      }
    }
    val e1 = emaPass(Seq(Some(1.0), Some(2.0), Some(4.0)))
    val e2 = emaPass(e1)
    val e3 = emaPass(e2)
    assert(got(0L)._1.contains(1.0) && got(10L)._1.contains(1.75))
    (0 to 2).foreach { i =>
      val t = i * 10L
      assert(got(t)._1 == e1(i), s"ema at $t")
      assert(got(t)._2.contains(2.0 * e1(i).get - e2(i).get), s"dema at $t")
      assert(got(t)._3.contains(3.0 * e1(i).get - 3.0 * e2(i).get + e3(i).get), s"tema at $t")
    }
    assert(got(0L)._4.isEmpty, "trix: no predecessor")
    assert(got(10L)._4.contains((100.0 * (e3(1).get - e3(0).get)) / e3(0).get))
  }

  test("planner: RSI/CMO/KER over buckets pin the null-bucket semantics") {
    // buckets 0..40, bucket 30 empty: values 1, 3, 2, null, 5
    val df = pts(("a", "m", 0L, 1.0), ("a", "m", 10L, 3.0), ("a", "m", 20L, 2.0),
      ("a", "m", 40L, 5.0))
    val got = InfluxQL.run(df,
      """SELECT relative_strength_index(mean(value), 2) AS rsi,
        |chande_momentum_oscillator(mean(value), 2) AS cmo,
        |kaufmans_efficiency_ratio(mean(value), 2) AS ker
        |FROM m WHERE time >= 0 AND time < 50 GROUP BY time(10u)""".stripMargin)
      .select(col("time"), col("rsi"), col("cmo"), col("ker"))
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(0L) == (None, None, None), "series head: no diff, no n-back")
    assert(got(10L)._1.contains(100.0), "only gains -> RSI 100")
    // diffs +2, -1 with Wilder weights 2^(D-1-j): equal gain and loss mass
    assert(got(20L)._1.contains(50.0))
    assert(got(20L)._2.contains(100.0 / 3), "U=2 D=1 over the 2-diff window")
    assert(got(20L)._3.contains(1.0 / 3), "dir 1 over vol 3")
    assert(got(30L) == (None, None, None), "empty bucket emits nothing")
    // bucket 40: diffs to/from the null bucket are null -> RSI falls back to
    // the older evidence (+2, -1 -> 50), CMO sees zero movement (pinned 0),
    // KER has no volatility evidence at all (pinned null)
    assert(got(40L)._1.contains(50.0))
    assert(got(40L)._2.contains(0.0))
    assert(got(40L)._3.isEmpty)
  }

  test("planner: kaufmans_adaptive_moving_average recursion over buckets") {
    // monotone 1..5, n=2: the ratio first exists at bucket 2 (needs an
    // n-back value); the seed is that bucket's own value, er = 1 after
    val df = pts(("a", "m", 0L, 1.0), ("a", "m", 10L, 2.0), ("a", "m", 20L, 3.0),
      ("a", "m", 30L, 4.0), ("a", "m", 40L, 5.0))
    val got = InfluxQL.run(df,
      "SELECT kaufmans_adaptive_moving_average(mean(value), 2) AS kama FROM m GROUP BY time(10u)")
      .as[(Long, Option[Double])].collect().toMap
    assert(got(0L).isEmpty && got(10L).isEmpty)
    assert(got(20L).contains(3.0), "first ratio-bearing bucket seeds with its value")
    val sc = { val t = 1.0 * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0; t * t }
    val k3 = 3.0 + sc * (4.0 - 3.0)
    val k4 = k3 + sc * (5.0 - k3)
    assert(got(30L).contains(k3))
    assert(got(40L).contains(k4))
    // constant series: er = 0, sc = (2/31)², the recursion never moves
    val const = pts((0 until 5).map(i => ("b", "m", i * 10L, 7.25)): _*)
    val flat = InfluxQL.run(const,
      "SELECT kaufmans_adaptive_moving_average(mean(value), 2) AS kama FROM m GROUP BY time(10u)")
      .as[(Long, Option[Double])].collect().toMap
    assert((2 until 5).forall(i => flat(i * 10L).contains(7.25)))
    // an empty bucket interrupts the ratio (KER null): the bucket after it
    // emits nothing and does NOT advance the recursion state
    val gap = pts(("a", "m", 0L, 1.0), ("a", "m", 10L, 2.0), ("a", "m", 20L, 3.0),
      ("a", "m", 40L, 5.0))
    val g = InfluxQL.run(gap,
      """SELECT kaufmans_adaptive_moving_average(mean(value), 2) AS kama
        |FROM m WHERE time >= 0 AND time < 50 GROUP BY time(10u)""".stripMargin)
      .as[(Long, Option[Double])].collect().toMap
    assert(g(20L).contains(3.0))
    assert(g(40L).isEmpty, "ratio interrupted by the empty bucket")
    // the raw path (no GROUP BY time) rejects loudly
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SELECT kaufmans_adaptive_moving_average(value, 2) FROM m"))
      .getMessage.contains("GROUP BY time"))
  }

  test("planner: raw selection, ORDER BY time DESC, LIMIT") {
    val df = pts(("a", "m", 1L, 1.0), ("a", "m", 2L, 2.0), ("a", "m", 3L, 3.0),
      ("b", "other", 4L, 9.0))
    val got = InfluxQL.run(df, "SELECT value FROM m ORDER BY time DESC LIMIT 2")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((3L, 3.0), (2L, 2.0)))
  }

  test("planner: mode rides a two-level aggregation joined to the other fields") {
    val df = pts(
      ("a", "m", 1L, 5.0), ("a", "m", 2L, 5.0), ("a", "m", 3L, 7.0),   // bucket 0: mode 5
      ("a", "m", 11L, 3.0), ("a", "m", 12L, 9.0),                      // bucket 10: tie -> smaller
      ("b", "m", 1L, 4.0), ("b", "m", 2L, 4.0))
    val got = InfluxQL.run(df,
      "SELECT mode(value), count(value) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(got == Set(
      (0L, "a", 5.0, 3L),
      (10L, "a", 3.0, 2L),
      (0L, "b", 4.0, 2L)))
    // mode alone, tagless and bucketless (global two-level aggregation)
    val solo = InfluxQL.run(df, "SELECT mode(value) FROM m")
      .as[Double].collect().toSeq
    assert(solo == Seq(4.0), "4.0 and 5.0 both appear twice; smaller value wins the tie")
    // mode alongside a one-pass aggregate with no group keys (cross join)
    val mixed = InfluxQL.run(df, "SELECT count(value), mode(value) FROM m")
      .as[(Long, Double)].collect().toSeq
    assert(mixed == Seq((7L, 4.0)))
  }

  test("planner: top/bottom return extreme points with their own times") {
    val df = pts(
      ("a", "m", 1L, 5.0), ("a", "m", 2L, 9.0), ("a", "m", 3L, 9.0), ("a", "m", 4L, 1.0),
      ("b", "m", 5L, 7.0), ("b", "m", 6L, 3.0))
    // global: ties on value break by earlier time
    val topG = InfluxQL.run(df, "SELECT top(value, 3) FROM m")
      .as[(Long, Double)].collect().toSeq
    assert(topG == Seq((2L, 9.0), (3L, 9.0), (5L, 7.0)))
    // per tag group
    val botT = InfluxQL.run(df, "SELECT bottom(value, 1) FROM m GROUP BY device")
      .as[(Long, String, Double)].collect().toSet
    assert(botT == Set((4L, "a", 1.0), (6L, "b", 3.0)))
    // GROUP BY time(d): extremes pick per bucket, rows keep their
    // ORIGINAL point timestamps (InfluxDB 1.8 — top/bottom are the
    // selectors that do not collapse to the bucket start)
    val topB = InfluxQL.run(df, "SELECT top(value, 1) FROM m GROUP BY time(3u)")
      .as[(Long, Double)].collect().toSet
    assert(topB == Set((2L, 9.0), (3L, 9.0), (6L, 3.0)))
    // three-arg per-tag form: at most one point per distinct tag value
    val topTag = InfluxQL.run(df, "SELECT top(value, device, 2) FROM m")
      .as[(Long, String, Double)].collect().toSet
    assert(topTag == Set((2L, "a", 9.0), (5L, "b", 7.0)))
    val botTag = InfluxQL.run(df, "SELECT bottom(value, device, 1) FROM m")
      .as[(Long, String, Double)].collect().toSeq
    assert(botTag == Seq((4L, "a", 1.0)))
    // per-tag AND per-bucket compose
    val topTagB = InfluxQL.run(df,
      "SELECT top(value, device, 1) FROM m GROUP BY time(3u)")
      .as[(Long, String, Double)].collect().toSet
    assert(topTagB == Set((2L, "a", 9.0), (3L, "a", 9.0), (6L, "b", 3.0)))
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT top(value, 2), mean(value) FROM m").contains("only SELECT field"))
    assert(bad("SELECT top(value, 2) FROM m GROUP BY time(1h) fill(0)").contains("fill"))
    assert(bad("SELECT top(value) FROM m").contains("needs N"))
    assert(bad("SELECT bottom(value, 0) FROM m").contains("positive integer"))
    assert(bad("SELECT top(value, 2, device) FROM m").contains("last argument"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SELECT top(value, nosuch, 2) FROM m"))
      .getMessage.contains("unknown field or tag"))
  }

  test("selector companions return the selected point's tag/field values") {
    // two fields (value, load) and one tag (device): companions may be
    // tags or other fields, and the values must come from the SELECTED point
    val df = Seq(
      ("a", "m", 1L, 5.0, 10.0), ("a", "m", 2L, 9.0, 20.0),
      ("a", "m", 3L, 9.0, 30.0), ("b", "m", 4L, 7.0, 40.0),
      ("b", "m", 5L, 1.0, 50.0), ("b", "m", 6L, 3.0, 60.0))
      .toDF("device", "transducer", "ts_us", "value", "load")
    // max: the earliest of tied maxima wins; companions ride that point
    assert(InfluxQL.run(df, "SELECT max(value), device, load FROM m")
      .as[(Long, Double, String, Double)].collect().toSeq ==
      Seq((2L, 9.0, "a", 20.0)))
    // GROUP BY tags: point-own times per group
    assert(InfluxQL.run(df, "SELECT min(value), load FROM m GROUP BY device")
      .as[(Long, String, Double, Double)].collect().toSet ==
      Set((1L, "a", 5.0, 10.0), (5L, "b", 1.0, 50.0)))
    // last agrees with the bare aggregate's (ts, value)-struct pick
    assert(InfluxQL.run(df, "SELECT last(value), device FROM m")
      .as[(Long, Double, String)].collect().toSeq == Seq((6L, 3.0, "b")))
    // GROUP BY time(d): these selectors collapse to the BUCKET START
    // (unlike top/bottom) while companions still come from the picked point
    assert(InfluxQL.run(df, "SELECT max(value), load FROM m GROUP BY time(3u)")
      .as[(Long, Double, Double)].collect().toSet ==
      Set((0L, 9.0, 20.0), (3L, 9.0, 30.0), (6L, 3.0, 60.0)))
    // percentile companion selects an ACTUAL point by nearest rank:
    // 6 values ascending (1,3,5,7,9,9), p=50 -> rank floor(3.5)=3 -> 5.0
    assert(InfluxQL.run(df, "SELECT percentile(value, 50), device, load FROM m")
      .as[(Long, Double, String, Double)].collect().toSeq ==
      Seq((1L, 5.0, "a", 10.0)))
    // top/bottom keep original point times, companions ride the winners
    assert(InfluxQL.run(df, "SELECT top(value, 2), load FROM m")
      .as[(Long, Double, Double)].collect().toSet ==
      Set((2L, 9.0, 20.0), (3L, 9.0, 30.0)))
    // a tag in GROUP BY re-selected as a companion aliases out cleanly
    assert(InfluxQL.run(df, "SELECT max(value), device AS d FROM m GROUP BY device")
      .as[(Long, String, Double, String)].collect().toSet ==
      Set((2L, "a", 9.0, "a"), (4L, "b", 7.0, "b")))
    // the three-arg per-tag form composes with companions: each device's
    // champion carries its companion values into the top-N
    assert(InfluxQL.run(df, "SELECT top(value, device, 1), load FROM m")
      .as[(Long, String, Double, Double)].collect().toSeq ==
      Seq((2L, "a", 9.0, 20.0)))
    // sample: companions ride the deterministically sampled rows — every
    // output row must be an input point
    val inputs = df.select("ts_us", "value", "device", "load")
      .as[(Long, Double, String, Double)].collect().toSet
    val smp = InfluxQL.run(df, "SELECT sample(value, 2), device, load FROM m")
      .as[(Long, Double, String, Double)].collect().toSeq
    assert(smp.size == 2 && smp.forall(inputs.contains))
    // validation: bare refs only; name collisions need AS; no mixing;
    // fill() has nothing to densify on a point-shaped result
    def bad(s: String): String =
      intercept[IllegalArgumentException](InfluxQL.run(df, s)).getMessage
    assert(bad("SELECT max(value), load * 2 FROM m").contains("bare"))
    assert(bad("SELECT max(value), device FROM m GROUP BY device").contains("collides"))
    assert(bad("SELECT sum(value), device FROM m").contains("mix"))
    assert(bad("SELECT max(value), min(value), device FROM m").contains("mix"))
    assert(bad("SELECT max(value), load FROM m GROUP BY time(3u) FILL(0)").contains("fill"))
    assert(bad("SELECT top(value, device, 2), device FROM m").contains("collides"))
    assert(bad("SELECT distinct(value), device FROM m").contains("mix"),
      "distinct() has no source point — not a companion selector")
  }

  test("SHOW statements answer the discovery surface; GROUP BY * expands tags") {
    val df = pts(("a", "temp", 1L, 1.0), ("b", "temp", 2L, 2.0), ("a", "hum", 3L, 3.0))
    assert(InfluxQL.run(df, "SHOW MEASUREMENTS").as[String].collect().toSeq ==
      Seq("hum", "temp"))
    assert(InfluxQL.run(df, "SHOW TAG KEYS").as[String].collect().toSeq == Seq("device"))
    assert(InfluxQL.run(df, "SHOW TAG VALUES WITH KEY = device")
      .as[(String, String)].collect().toSeq == Seq(("device", "a"), ("device", "b")))
    // ts_us/ts_ns/transducer are reserved: only real fields appear
    assert(InfluxQL.run(df, "SHOW FIELD KEYS")
      .as[(String, String)].collect().toSeq == Seq(("value", "double")))
    val star = InfluxQL.run(df, "SELECT count(value) FROM temp GROUP BY time(10u), *")
      .as[(Long, String, Long)].collect().toSet
    assert(star == Set((0L, "a", 1L), (0L, "b", 1L)))
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW TAG VALUES WITH KEY = nope")).getMessage.contains("unknown tag"))
  }

  test("SHOW TAG VALUES: a NULL tag is neither listed nor counted as cardinality") {
    // a series without the tag (NULL device) is not a tag value in InfluxDB
    val df = pts(("a", "temp", 1L, 1.0), ("b", "temp", 2L, 2.0))
      .union(Seq((Option.empty[String], "temp", 3L, 3.0))
        .toDF("device", "transducer", "ts_us", "value"))
    assert(InfluxQL.run(df, "SHOW TAG VALUES WITH KEY = device")
      .as[(String, String)].collect().toSeq == Seq(("device", "a"), ("device", "b")))
    assert(InfluxQL.run(df, "SHOW TAG VALUES CARDINALITY WITH KEY = device")
      .as[Long].collect().head == 2L)
  }

  test("SHOW TAG VALUES WITH KEY: !=, =~, !~ and IN select key sets in one scan") {
    val df = Seq(
      ("a", "s1", "temp", 1L, 1.0), ("b", "s1", "temp", 2L, 2.0),
      ("a", "s2", "hum", 3L, 3.0))
      .toDF("device", "site", "transducer", "ts_us", "value")
    def got(s: String) = InfluxQL.run(df, s).as[(String, String)].collect().toSeq
    val all = Seq(("device", "a"), ("device", "b"), ("site", "s1"), ("site", "s2"))
    assert(got("SHOW TAG VALUES WITH KEY IN (device, site)") == all)
    assert(got("SHOW TAG VALUES WITH KEY != device") ==
      Seq(("site", "s1"), ("site", "s2")))
    assert(got("SHOW TAG VALUES WITH KEY =~ /dev/") ==
      Seq(("device", "a"), ("device", "b")))
    assert(got("SHOW TAG VALUES WITH KEY !~ /dev/") ==
      Seq(("site", "s1"), ("site", "s2")))
    // a regex selecting no keys answers empty, not an error
    assert(got("SHOW TAG VALUES WITH KEY =~ /nomatch/").isEmpty)
    // cardinality counts distinct (key, value) pairs over the selection
    assert(InfluxQL.run(df, "SHOW TAG VALUES CARDINALITY WITH KEY IN (device, site)")
      .as[Long].collect().head == 4L)
    // paging rides the (key, value) order
    assert(got("SHOW TAG VALUES WITH KEY IN (device, site) LIMIT 2 OFFSET 1") ==
      Seq(("device", "b"), ("site", "s1")))
    // named keys stay loud: unknown key in IN fails like = does
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW TAG VALUES WITH KEY IN (device, nope)"))
      .getMessage.contains("unknown tag"))
  }

  test("SHOW ... FROM scopes discovery to one measurement (or a regex)") {
    // site is set only on temp rows; hum rows carry a null site tag and a
    // null value field-sibling would not exist — presence scanning must
    // separate the two measurements
    val df = Seq(
      ("a", Some("s1"), "temp", 1L, 1.0), ("b", Some("s1"), "temp", 2L, 2.0),
      ("a", Option.empty[String], "hum", 3L, 3.0))
      .toDF("device", "site", "transducer", "ts_us", "value")
    assert(InfluxQL.run(df, "SHOW SERIES FROM temp").as[String].collect().toSeq ==
      Seq("temp,device=a,site=s1", "temp,device=b,site=s1"))
    assert(InfluxQL.run(df, "SHOW SERIES CARDINALITY FROM /h/").as[Long]
      .collect().head == 1L)
    // TAG KEYS without FROM answer from the schema; FROM presence-scans
    assert(InfluxQL.run(df, "SHOW TAG KEYS").as[String].collect().toSeq ==
      Seq("device", "site"))
    assert(InfluxQL.run(df, "SHOW TAG KEYS FROM hum").as[String].collect().toSeq ==
      Seq("device"))
    assert(InfluxQL.run(df, "SHOW TAG KEY CARDINALITY FROM hum").as[Long]
      .collect().head == 1L)
    assert(InfluxQL.run(df, "SHOW TAG VALUES FROM temp WITH KEY = device")
      .as[(String, String)].collect().toSeq ==
      Seq(("device", "a"), ("device", "b")))
    assert(InfluxQL.run(df, "SHOW TAG VALUES CARDINALITY FROM hum WITH KEY IN (device, site)")
      .as[Long].collect().head == 1L)
    assert(InfluxQL.run(df, "SHOW FIELD KEYS FROM temp")
      .as[(String, String)].collect().toSeq == Seq(("value", "double")))
    // InfluxDB's EXACT CARDINALITY spelling: accepted (every cardinality
    // here IS exact); EXACT without CARDINALITY is loud
    assert(InfluxQL.run(df, "SHOW SERIES EXACT CARDINALITY FROM /h/").as[Long]
      .collect().head == 1L)
    assert(InfluxQL.run(df, "SHOW TAG KEY EXACT CARDINALITY FROM hum").as[Long]
      .collect().head == 1L)
    assert(InfluxQL.run(df, "SHOW MEASUREMENT EXACT CARDINALITY").as[Long]
      .collect().head == 2L)
    assert(InfluxQL.run(df, "SHOW TAG VALUES EXACT CARDINALITY WITH KEY = device")
      .as[Long].collect().head == 2L)
    assert(InfluxQL.run(df, "SHOW FIELD KEY EXACT CARDINALITY").as[Long]
      .collect().head == 1L)
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW SERIES EXACT FROM temp"))
      .getMessage.contains("CARDINALITY after EXACT"))
    // a FROM selecting no rows answers empty / zero, never errors
    assert(InfluxQL.run(df, "SHOW FIELD KEYS FROM nope").collect().isEmpty)
    assert(InfluxQL.run(df, "SHOW FIELD KEY CARDINALITY FROM nope").as[Long]
      .collect().head == 0L)
    assert(InfluxQL.run(df, "SHOW TAG KEYS FROM nope").collect().isEmpty)
  }

  test("SHOW ... WHERE filters discovery by tag conditions and time bounds") {
    val df = Seq(
      ("a", Some("s1"), "temp", 1000000L, 1.0),
      ("b", Some("s2"), "temp", 2000000L, 2.0),
      ("a", Option.empty[String], "hum", 3000000L, 3.0))
      .toDF("device", "site", "transducer", "ts_us", "value")
    assert(InfluxQL.run(df, "SHOW SERIES WHERE device = 'a'")
      .as[String].collect().toSeq ==
      Seq("hum,device=a", "temp,device=a,site=s1"))
    // OR trees and regex tag predicates ride the same WHERE grammar
    assert(InfluxQL.run(df, "SHOW SERIES WHERE site =~ /s/ AND device = 'b'")
      .as[String].collect().toSeq == Seq("temp,device=b,site=s2"))
    assert(InfluxQL.run(df,
      "SHOW MEASUREMENTS WHERE device = 'b' OR site = 's1'")
      .as[String].collect().toSeq == Seq("temp"))
    assert(InfluxQL.run(df, "SHOW MEASUREMENT CARDINALITY WHERE device = 'a'")
      .as[Long].collect().head == 2L)
    // time bounds restrict the scan on the scan-backed statements
    assert(InfluxQL.run(df, "SHOW SERIES WHERE time >= 2000000")
      .as[String].collect().toSeq ==
      Seq("hum,device=a", "temp,device=b,site=s2"))
    assert(InfluxQL.run(df, "SHOW TAG KEYS WHERE time >= 3000000")
      .as[String].collect().toSeq == Seq("device"))
    assert(InfluxQL.run(df,
      "SHOW TAG VALUES WITH KEY = device WHERE site = 's1'")
      .as[(String, String)].collect().toSeq == Seq(("device", "a")))
    assert(InfluxQL.run(df,
      "SHOW TAG VALUES CARDINALITY FROM temp WITH KEY IN (device, site) WHERE device != 'a'")
      .as[Long].collect().head == 2L)
    // FROM and WHERE compose; paging still applies after both
    assert(InfluxQL.run(df, "SHOW SERIES FROM temp WHERE device = 'a' LIMIT 1")
      .as[String].collect().toSeq == Seq("temp,device=a,site=s1"))
    // rejections: field predicates anywhere, time on MEASUREMENTS,
    // unknown tags
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW SERIES WHERE value > 1"))
      .getMessage.contains("field"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW MEASUREMENTS WHERE time > 1000000"))
      .getMessage.contains("time"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(df, "SHOW SERIES WHERE nope = 'x'"))
      .getMessage.contains("unknown tag"))
  }

  test("WHERE supports field comparisons and OR with parentheses") {
    val q = parse("SELECT value FROM m WHERE value > 5 AND (device = 'a' OR device = 'b') AND time >= 10")
    assert(q.conds == Seq(
      FieldCond("value", ">", 5.0),
      OrCond(Seq(Seq(TagCond("device", eq = true, "a")), Seq(TagCond("device", eq = true, "b")))),
      TimeCond(">=", 10L)))
    // duration-style epoch literals scale by their unit (InfluxDB's
    // `time >= 1434059627s` form)
    assert(parse("SELECT value FROM m WHERE time >= 2s AND time < 3m").conds ==
      Seq(TimeCond(">=", 2000000L), TimeCond("<", 180000000L)))
    // AND binds tighter than OR
    val q2 = parse("SELECT value FROM m WHERE device = 'a' AND value > 1 OR value < 0")
    assert(q2.conds == Seq(OrCond(Seq(
      Seq(TagCond("device", eq = true, "a"), FieldCond("value", ">", 1.0)),
      Seq(FieldCond("value", "<", 0.0))))))
    val df = pts(
      ("a", "m", 1L, 2.0), ("a", "m", 2L, 8.0), ("b", "m", 3L, 9.0), ("c", "m", 4L, 9.5))
    val got = InfluxQL.run(df,
      "SELECT value FROM m WHERE value > 5 AND (device = 'a' OR device = 'b')")
      .as[(Long, Double)].collect().toSet
    assert(got == Set((2L, 8.0), (3L, 9.0)))
    // strings reject ordered comparison
    assert(intercept[IllegalArgumentException](
      parse("SELECT value FROM m WHERE device > 'a'")).getMessage.contains("= and !="))
  }

  test("EXPLAIN returns the physical plan of the statement it wraps") {
    val df = pts(("a", "m", 1L, 1.0), ("a", "m", 2L, 2.0))
    val plan = InfluxQL.run(df, "EXPLAIN SELECT mean(value) FROM m GROUP BY device")
      .as[String].collect().mkString("\n")
    assert(plan.contains("HashAggregate"), s"expected an aggregate plan:\n$plan")
  }

  test("fill skeleton: buckets x series product fails loudly (max-select-series)") {
    // ~1e6 one-microsecond buckets x 200 series = 2e8 skeleton rows — past
    // MaxFillRows (2^27); the guard must refuse at plan time, BEFORE any
    // skeleton row generates
    val many = pts((0 until 200).map(i => (s"d$i", "m", i.toLong, 1.0)): _*)
    val q = "SELECT mean(value) FROM m WHERE time >= 0u AND time < 1000000u " +
      "GROUP BY time(1u), device"
    val e = intercept[IllegalArgumentException](InfluxQL.run(many, q))
    assert(e.getMessage.contains("max-select-series") &&
      e.getMessage.contains("200 series"), e.getMessage)
    // the same range over FEW series is fine (product under the bound),
    // and small skeletons never pay the series-count probe at all
    val few = pts(("a", "m", 1L, 1.0), ("b", "m", 2L, 2.0))
    InfluxQL.run(few, q) // plans without tripping the guard
  }

  test("EXPLAIN ANALYZE runs the statement and reports observed metrics") {
    val df = pts(("a", "m", 1L, 1.0), ("a", "m", 2L, 2.0), ("b", "m", 3L, 4.0))
    val lines = InfluxQL.run(df,
      "EXPLAIN ANALYZE SELECT mean(value) FROM m GROUP BY device")
      .as[String].collect()
    assert(lines.head.startsWith("execution: wall_ms="), lines.head)
    val joined = lines.mkString("\n")
    assert(joined.contains("HashAggregate"), s"expected the final plan:\n$joined")
    // the metrics are OBSERVED values, not placeholders: operators report
    // executed row counts, and the AQE stages are the materialized ones
    assert("numOutputRows=[1-9]".r.findFirstIn(joined).nonEmpty,
      s"expected executed counts:\n$joined")
    assert(joined.contains("ShuffleQueryStage") || joined.contains("ResultQueryStage"),
      s"expected materialized AQE stages:\n$joined")
    // keyword detection is whitespace-tolerant, like the catalog's routing
    val tabbed = InfluxQL.run(df,
      "EXPLAIN \t ANALYZE  SELECT mean(value) FROM m GROUP BY device")
      .as[String].collect()
    assert(tabbed.head.startsWith("execution: wall_ms="), tabbed.head)
  }

  test("log(x, b) is base-b log, planned ln(x)/ln(b); arity enforced") {
    val df = pts(("a", "m", 1L, 3.0), ("a", "m", 2L, 5.0))
    // count=2 -> x = 2*2+0.5 = 4.5; log_7(4.5) = ln(4.5)/ln(7)
    val got = InfluxQL.run(df,
      "SELECT floor(log(count(value) * 2 + 0.5, 7) * 10000000) AS lg7 FROM m")
      .select(col("lg7")).as[Double].collect().toSeq
    val want = math.floor(StrictMath.log(4.5) / StrictMath.log(7.0) * 1.0e7)
    assert(got == Seq(want))
    assert(intercept[IllegalArgumentException](
      InfluxQL.parse("SELECT log(value) FROM m")).getMessage.contains("2 argument"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.parse("SELECT log(value, 2, 3) FROM m")).getMessage.contains("2 argument"))
  }

  test("FROM m1, m2 keeps each measurement its own series") {
    val df = pts(
      ("a", "temp", 1L, 2.0), ("a", "temp", 2L, 4.0),
      ("a", "hum", 3L, 50.0), ("a", "pressure", 4L, 900.0))
    val got = InfluxQL.run(df, "SELECT count(value) FROM temp, hum GROUP BY time(10u)")
      .select(col("measurement"), col("count")).as[(String, Long)].collect().toSet
    assert(got == Set(("temp", 2L), ("hum", 1L)))
    // quoting: a name with regex metacharacters matches literally only
    val meta = pts(("a", "t.p", 1L, 1.0), ("a", "txp", 2L, 2.0))
    val lit = InfluxQL.run(meta, "SELECT value FROM txp, nothing")
      .as[(Long, String, Double)].collect().toSeq
    assert(lit == Seq((2L, "txp", 2.0)))
  }

  test("regex FROM groups per measurement; INTO commits to a TxLogTable") {
    val df = pts(
      ("a", "temp", 1L, 2.0), ("a", "temp", 2L, 4.0),
      ("a", "hum", 3L, 50.0), ("a", "pressure", 4L, 900.0))
    // aggregates: matching measurements stay separate series
    val agg = InfluxQL.run(df,
      "SELECT count(value) FROM /^(temp|hum)$/ GROUP BY time(10u)")
      .select(col("measurement"), col("count"))
      .as[(String, Long)].collect().toSet
    assert(agg == Set(("temp", 2L), ("hum", 1L)))
    // raw selection carries the measurement along
    val raw = InfluxQL.run(df, "SELECT value FROM /^p/")
      .as[(Long, String, Double)].collect().toSeq
    assert(raw == Seq((4L, "pressure", 900.0)))
    // INTO: the result lands as an ACID table commit; reruns append
    val root = java.nio.file.Files.createTempDirectory("influxinto").toString
    val v0 = InfluxQL.runInto(df,
      "SELECT mean(value) INTO temp_daily FROM temp GROUP BY time(10u), device", root)
    assert(v0 == Seq("temp_daily" -> 0L))
    val t = new graft.storage.TxLogTable(spark, s"$root/temp_daily")
    assert(t.read().select("time", "device", "mean")
      .as[(Long, String, Double)].collect().toSeq == Seq((0L, "a", 3.0)))
    assert(intercept[IllegalArgumentException](InfluxQL.run(df,
      "SELECT mean(value) INTO x FROM temp GROUP BY time(10u)"))
      .getMessage.contains("runInto"))
    // INTO :MEASUREMENT backreference: regex FROM splits per measurement,
    // each into a target of its own name (the downsample-everything idiom)
    val n = InfluxQL.runInto(df,
      "SELECT mean(value) INTO :MEASUREMENT FROM /^(temp|hum)$/ GROUP BY time(10u), device",
      root)
    assert(n.map(_._1) == Seq("hum", "temp"),
      "two source measurements = two target tables, each with a real version")
    assert(n.forall(_._2 == 0L), "first commit of each backref target")
    assert(new graft.storage.TxLogTable(spark, s"$root/temp").read()
      .select("time", "device", "mean").as[(Long, String, Double)]
      .collect().toSeq == Seq((0L, "a", 3.0)))
    assert(new graft.storage.TxLogTable(spark, s"$root/hum").read()
      .select("mean").as[Double].collect().toSeq == Seq(50.0))
    // plain FROM writes back under its own name
    InfluxQL.runInto(df,
      "SELECT max(value) INTO :MEASUREMENT FROM pressure GROUP BY time(10u)", root)
    assert(new graft.storage.TxLogTable(spark, s"$root/pressure").read()
      .select("max").as[Double].collect().toSeq == Seq(900.0))
    // a bad backreference name is loud
    assert(intercept[IllegalArgumentException](
      parse("SELECT mean(value) INTO :NOPE FROM temp GROUP BY time(10u)"))
      .getMessage.contains(":MEASUREMENT"))
    // continuous queries reject the backreference at CREATE
    assert(intercept[IllegalArgumentException](
      graft.influxql.ContinuousQueries.run(spark, root,
        "CREATE CONTINUOUS QUERY c ON db BEGIN SELECT mean(value) INTO :MEASUREMENT FROM m GROUP BY time(10u) END"))
      .getMessage.contains("named INTO target"))
  }

  test("expressions: arithmetic over aggregates with standard precedence") {
    val q = parse("SELECT mean(value) * 2 + 1 AS m21 FROM m")
    assert(q.fields == Seq(Item(
      FBin("+", FBin("*", FCall(Field("mean", "value", None)), FNum(2.0)), FNum(1.0)),
      Some("m21"))))
    // default output name comes from the first call leaf
    assert(parse("SELECT mean(value) * 2 FROM m").fields.head.outName == "mean")
    val df = pts(
      ("a", "m", 1L, 2.0), ("a", "m", 2L, 4.0), ("b", "m", 3L, 10.0), ("b", "m", 4L, 20.0))
    // two calls combined; a shared call aggregates once; literals fold in
    val got = InfluxQL.run(df,
      """SELECT (max(value) - min(value)) / 2 AS half_spread,
        |       mean(value) * 2 AS dbl, count(value) AS n
        |FROM m GROUP BY device""".stripMargin)
      .as[(String, Double, Double, Long)].collect().toSet
    assert(got == Set(("a", 1.0, 6.0, 2L), ("b", 5.0, 30.0, 2L)))
    // scalar functions + unary minus; sqrt of a sum; composite count casts
    // to double while a bare count stays long
    val fns = InfluxQL.run(df,
      "SELECT sqrt(sum(value)) AS rt, abs(-mean(value)) AS am, count(value) * 2 AS n2 FROM m")
      .as[(Double, Double, Double)].collect().head
    assert(fns == ((6.0, 9.0, 8.0)))
    assert(InfluxQL.run(df, "SELECT count(value) * 2 AS n2 FROM m")
      .schema("n2").dataType.typeName == "double")
    // raw expressions ride the scan projection
    val raw = InfluxQL.run(df, "SELECT value * 2 + 1 AS v, floor(value / 3) AS f FROM m")
      .as[(Long, Double, Double)].collect().toSet
    assert(raw == Set((1L, 5.0, 0.0), (2L, 9.0, 1.0), (3L, 21.0, 3.0), (4L, 41.0, 6.0)))
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT mean(value) + value FROM m").contains("one expression"))
    assert(bad("SELECT 2 + 2 FROM m").contains("alias"))
    assert(bad("SELECT pow(value) FROM m").contains("takes 2"))
    assert(bad("SELECT top(value, 2) * 2 FROM m").contains("only SELECT field"))
  }

  test("expressions: division stays division beside a regex FROM; count(distinct())") {
    val df = pts(
      ("a", "m", 1L, 5.0), ("a", "m", 2L, 5.0), ("a", "m", 3L, 7.0), ("b", "x", 4L, 1.0))
    // `/` after a value is division even with a regex later in the text
    val got = InfluxQL.run(df, "SELECT sum(value) / 2 AS h FROM /^m$/ GROUP BY time(10u)")
      .select(col("h")).as[Double].collect().toSeq
    assert(got == Seq(8.5))
    val cd = InfluxQL.run(df,
      "SELECT count(distinct(value)) AS u, count(value) AS n FROM m")
      .as[(Long, Long)].collect().head
    assert(cd == ((2L, 3L)))
  }

  test("SLIMIT/SOFFSET select a series window; OFFSET pages rows") {
    val df = pts(
      ("a", "m", 1L, 1.0), ("a", "m", 11L, 2.0),
      ("b", "m", 2L, 10.0), ("b", "m", 12L, 20.0),
      ("c", "m", 3L, 100.0), ("c", "m", 13L, 200.0),
      ("d", "m", 4L, 7.0))
    // series in tag order (a,b,c,d): skip 1, keep 2 -> b and c
    val got = InfluxQL.run(df,
      "SELECT sum(value) AS s FROM m GROUP BY time(10u), device SLIMIT 2 SOFFSET 1")
      .select(col("device"), col("s")).as[(String, Double)].collect().toSet
    assert(got == Set(("b", 10.0), ("b", 20.0), ("c", 100.0), ("c", 200.0)))
    // row paging over the (time, tags) output order
    val page = InfluxQL.run(df,
      "SELECT sum(value) AS s FROM m GROUP BY time(10u), device LIMIT 3 OFFSET 2")
      .as[(Long, String, Double)].collect().toSeq
    assert(page == Seq((0L, "c", 100.0), (0L, "d", 7.0), (10L, "a", 2.0)))
    // series ops need series: tagless aggregates and raw queries reject
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT sum(value) FROM m SLIMIT 2").contains("GROUP BY tags"))
    assert(bad("SELECT value FROM m SLIMIT 2").contains("GROUP BY tags"))
    // top/bottom combine with the series window
    val tb = InfluxQL.run(df,
      "SELECT top(value, 1) FROM m GROUP BY device SLIMIT 2 SOFFSET 2")
      .as[(Long, String, Double)].collect().toSet
    assert(tb == Set((13L, "c", 200.0), (4L, "d", 7.0)))
  }

  test("DELETE and DROP MEASUREMENT commit row-level deletes on the ACID table") {
    val root = java.nio.file.Files.createTempDirectory("influxdel").toString
    val t = new graft.storage.TxLogTable(spark, s"$root/points")
    t.append(pts(
      ("a", "temp", 10L, 1.0), ("a", "temp", 20L, 2.0), ("b", "temp", 30L, 3.0),
      ("a", "hum", 40L, 4.0), ("b", "hum", 50L, 5.0)))
    // time + tag predicate: only matching rows go
    InfluxQL.runDelete(t, "DELETE FROM temp WHERE time < 25 AND device = 'a'")
    assert(t.read().select("transducer", "ts_us").as[(String, Long)].collect().toSet
      == Set(("temp", 30L), ("hum", 40L), ("hum", 50L)))
    // regex FROM + OR tree
    InfluxQL.runDelete(t, "DELETE FROM /^h/ WHERE device = 'a' OR time >= 50")
    assert(t.read().select("transducer", "ts_us").as[(String, Long)].collect().toSet
      == Set(("temp", 30L)))
    // DROP MEASUREMENT removes the series wholesale
    val v = InfluxQL.runDelete(t, "DROP MEASUREMENT temp")
    assert(t.read().count() == 0L)
    // destructive statements stay auditable: the pre-delete version reads
    assert(t.readVersion(v - 1).count() == 1L)
    // field conditions are rejected, exactly as InfluxDB rejects them
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(t, "DELETE FROM temp WHERE value > 2"))
      .getMessage.contains("field"))
  }

  test("DROP SERIES deletes by measurement and/or tag, rejecting time and field predicates") {
    val root = java.nio.file.Files.createTempDirectory("influxdropser").toString
    val t = new graft.storage.TxLogTable(spark, s"$root/points")
    t.append(pts(
      ("a", "temp", 10L, 1.0), ("a", "temp", 20L, 2.0), ("b", "temp", 30L, 3.0),
      ("a", "hum", 40L, 4.0), ("b", "hum", 50L, 5.0), ("c", "co2", 60L, 6.0)))
    def left = t.read().select("transducer", "device").distinct()
      .as[(String, String)].collect().toSet
    // tag-only WHERE across all measurements: device 'a' series go
    InfluxQL.runDelete(t, "DROP SERIES WHERE device = 'a'")
    assert(left == Set(("temp", "b"), ("hum", "b"), ("co2", "c")))
    // FROM + WHERE: only the (hum, b) series goes
    InfluxQL.runDelete(t, "DROP SERIES FROM hum WHERE device = 'b'")
    assert(left == Set(("temp", "b"), ("co2", "c")))
    // FROM only (regex): every series of matching measurements goes
    val v = InfluxQL.runDelete(t, "DROP SERIES FROM /^(temp|co2)$/")
    assert(t.read().count() == 0L)
    // still auditable: the pre-drop version reads
    assert(t.readVersion(v - 1).count() == 2L)
    // InfluxDB semantics: time intervals and field conditions are rejected,
    // and a bare DROP SERIES (whole-db wipe) is rejected
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(t, "DROP SERIES FROM temp WHERE time < 25"))
      .getMessage.contains("time"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(t, "DROP SERIES FROM temp WHERE value > 2"))
      .getMessage.contains("field"))
    assert(intercept[IllegalArgumentException](
      InfluxQL.runDelete(t, "DROP SERIES")).getMessage.contains("FROM"))
  }

  test("subquery FROM: the inner SELECT feeds the outer query") {
    val df = pts(
      ("a", "m", 1L, 2.0), ("a", "m", 5L, 4.0), ("a", "m", 11L, 6.0),
      ("b", "m", 2L, 10.0), ("b", "m", 12L, 20.0), ("b", "m", 13L, 30.0))
    // inner: per-(bucket, device) max; outer: mean of those maxima per bucket
    val got = InfluxQL.run(df,
      """SELECT mean(mx) AS mm FROM
        |(SELECT max(value) AS mx FROM m GROUP BY time(10u), device)
        |GROUP BY time(10u)""".stripMargin)
      .select(col("time"), col("mm")).as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 7.0, 10L -> 18.0))
    // double aggregation over the same field name (InfluxDB's classic
    // mean-of-max idiom without aliases)
    val noAlias = InfluxQL.run(df,
      "SELECT mean(max) FROM (SELECT max(value) FROM m GROUP BY time(10u), device)")
      .as[Double].collect().toSeq
    assert(noAlias == Seq(12.5), "(7 + 18) buckets collapse: mean of 4 maxima (4+10+6+30)/4")
    // outer WHERE applies to inner output; raw outer over agg inner
    val filtered = InfluxQL.run(df,
      """SELECT mx FROM (SELECT max(value) AS mx FROM m GROUP BY time(10u), device)
        |WHERE mx > 5 AND time < 10""".stripMargin)
      .as[(Long, Double)].collect().toSet
    assert(filtered == Set((0L, 10.0)))
    // fills stay per-series inside the subquery plan (regression guard for
    // the constant-measurement partitioning)
    val fill = InfluxQL.run(df,
      """SELECT mean(mx) AS mm FROM
        |(SELECT max(value) AS mx FROM m GROUP BY time(10u), device)
        |WHERE time >= 0 AND time < 40 GROUP BY time(10u) FILL(previous)""".stripMargin)
      .select(col("time"), col("mm")).as[(Long, Option[Double])].collect().toMap
    assert(fill == Map(0L -> Some(7.0), 10L -> Some(18.0), 20L -> Some(18.0), 30L -> Some(18.0)))
    assert(intercept[IllegalArgumentException](
      parse("SELECT mean(v) FROM (SELECT max(value) AS v INTO x FROM m)"))
      .getMessage.contains("INTO"))
  }

  test("elapsed() measures gaps to the series predecessor; SHOW SERIES lists keys") {
    val df = pts(
      ("a", "m", 10L, 1.0), ("a", "m", 25L, 2.0), ("a", "m", 31L, 3.0),
      ("b", "x", 100L, 9.0))
    // default unit 1us; the first point of each measurement drops
    val got = InfluxQL.run(df, "SELECT elapsed(value) FROM m")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((25L, 15L), (31L, 6L)))
    // whole units truncate (InfluxQL's integer division)
    val tens = InfluxQL.run(df, "SELECT elapsed(value, 10u) AS e FROM m")
      .as[(Long, Long)].collect().toSeq
    assert(tens == Seq((25L, 1L), (31L, 0L)))
    // regex FROM: per-measurement windows, measurement surfaced
    val re = InfluxQL.run(df, "SELECT elapsed(value) FROM /./")
      .as[(Long, String, Long)].collect().toSet
    assert(re == Set((25L, "m", 15L), (31L, "m", 6L)))
    assert(intercept[IllegalArgumentException](
      parse("SELECT elapsed(value), value FROM m")).getMessage.contains("only SELECT field"))
    assert(intercept[IllegalArgumentException](
      parse("SELECT elapsed(value) FROM m GROUP BY device")).getMessage.contains("GROUP BY"))
    assert(InfluxQL.run(df, "SHOW SERIES").as[String].collect().toSeq ==
      Seq("m,device=a", "x,device=b"))
  }

  test("GROUP BY time(interval, offset) shifts bucket alignment") {
    val df = pts(
      ("a", "m", 4L, 1.0), ("a", "m", 6L, 2.0), ("a", "m", 15L, 4.0), ("a", "m", 17L, 8.0))
    // buckets ...[-4,6),[6,16),[16,26): 4->-4, 6/15->6, 17->16
    val got = InfluxQL.run(df, "SELECT sum(value) AS s FROM m GROUP BY time(10u, 6u)")
      .select(col("time"), col("s")).as[(Long, Double)].collect().toMap
    assert(got == Map(-4L -> 1.0, 6L -> 6.0, 16L -> 8.0))
    // fill skeleton aligns to the shifted grid
    val filled = InfluxQL.run(df,
      "SELECT sum(value) AS s FROM m WHERE time >= 0 AND time < 30 GROUP BY time(10u, 6u) FILL(0)")
      .select(col("time"), col("s")).as[(Long, Double)].collect().toMap
    assert(filled == Map(-4L -> 1.0, 6L -> 6.0, 16L -> 8.0, 26L -> 0.0))
    assert(intercept[IllegalArgumentException](
      parse("SELECT sum(value) FROM m GROUP BY time(10u, 12u)"))
      .getMessage.contains("offset"))
  }

  test("holt_winters() forecasts N points per series beyond the last bucket") {
    val df = pts(
      ("a", "m", 2L, 1.0), ("a", "m", 12L, 2.0), ("a", "m", 23L, 3.0),
      ("b", "m", 5L, 10.0))
    val got = InfluxQL.run(df,
      "SELECT holt_winters(mean(value), 2, 0) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double)].collect().toSeq
    val (a, b) = got.partition(_._2 == "a")
    // single-bucket series: zero trend, forecast = the level = the value
    assert(b == Seq((10L, "b", 10.0), (20L, "b", 10.0)))
    // linear series (diffs all 1): trend is exactly 1, so consecutive
    // forecasts differ by exactly 1 and continue past the last bucket (20)
    assert(a.map(_._1) == Seq(30L, 40L))
    // (lvl + 2t) - (lvl + t) is one ulp shy of t in IEEE; structural check
    assert(math.abs(a(1)._3 - a(0)._3 - 1.0) < 1e-12)
    assert(a(0)._3 > 3.0 && a(0)._3 < 4.0, "level is a trailing weighted mean < last+trend")
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT holt_winters(mean(value), 0, 0) FROM m GROUP BY time(10u)")
      .contains("positive integer"))
    assert(bad("SELECT holt_winters(mean(value), 2, 0) FROM m").contains("GROUP BY time"))
    assert(bad("SELECT holt_winters(mean(value), 2, 0), count(value) FROM m GROUP BY time(10u)")
      .contains("only SELECT field"))
  }

  test("holt_winters seasonality: per-phase residual index rides the forecast") {
    // constant series: level = the constant exactly, residuals 0, any S —
    // every forecast is exactly the constant
    val const = pts((0 until 8).map(i => ("a", "m", i * 10L, 5.5)): _*)
    val flat = InfluxQL.run(const,
      "SELECT holt_winters(mean(value), 3, 4) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double)].collect().toSeq
    assert(flat == Seq((80L, "a", 5.5), (90L, "a", 5.5), (100L, "a", 5.5)))
    // alternating series 10,20,10,20...: with S=2 the phase indexes absorb
    // the oscillation the level EMA smooths over — the forecast for a
    // "20" phase must exceed the one for a "10" phase; seasonless S=0
    // cannot tell them apart (trend is near zero, forecasts ~monotone)
    val alt = pts((0 until 8).map(i =>
      ("a", "m", i * 10L, if (i % 2 == 0) 10.0 else 20.0)): _*)
    val seasonal = InfluxQL.run(alt,
      "SELECT holt_winters(mean(value), 2, 2) FROM m GROUP BY time(10u), device")
      .select(col("time"), col("holt_winters")).as[(Long, Double)].collect().toMap
    // last bucket 70 held 20 (phase 1); forecast 80 is phase 0 ("10"s),
    // forecast 90 is phase 1 ("20"s)
    assert(seasonal(90L) - seasonal(80L) > 5.0,
      s"seasonal separation missing: $seasonal")
    assert(intercept[IllegalArgumentException](
      parse("SELECT holt_winters(mean(value), 2, 2000) FROM m GROUP BY time(10u)"))
      .getMessage.contains("[0, 1000]"))
  }

  test("holt_winters_with_fit emits in-sample smoothed levels before the forecasts") {
    val df = pts(("a", "m", 2L, 1.0), ("a", "m", 12L, 2.0), ("a", "m", 23L, 3.0))
    val fit = InfluxQL.run(df,
      "SELECT holt_winters_with_fit(mean(value), 2, 0) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double)].collect().toSeq
    // 3 in-sample buckets, then the 2 forecasts, time-ordered
    assert(fit.map(_._1) == Seq(0L, 10L, 20L, 30L, 40L))
    // a one-point kernel answers the point itself
    assert(fit(0)._3 == 1.0)
    // in-sample fits are the pinned integer-EMA level of the bucket series
    val cs = graft.operators.TimeSeriesOps.emaCoefficients(4, 10)
    def lvl(vs: Seq[Double]): Double = {
      val vu = vs.map(v => math.floor(v * 1e6).toLong)
      val num = vu.reverse.zip(cs).map { case (v, c) => v * c }.sum
      val den = vu.reverse.zip(cs).map(_._2).sum
      num.toDouble / den.toDouble / 1e6
    }
    assert(fit(1)._3 == lvl(Seq(1.0, 2.0)))
    assert(fit(2)._3 == lvl(Seq(1.0, 2.0, 3.0)))
    // the forecast tail is exactly the plain holt_winters answer
    val plain = InfluxQL.run(df,
      "SELECT holt_winters(mean(value), 2, 0) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double)].collect().toSeq
    assert(fit.drop(3) == plain)
    // seasonal with_fit on a constant series: every fit (level + own-phase
    // index) and the forecast are exactly the constant
    val const = pts((0 until 6).map(i => ("a", "m", i * 10L, 5.5)): _*)
    val sfit = InfluxQL.run(const,
      "SELECT holt_winters_with_fit(mean(value), 1, 3) FROM m GROUP BY time(10u), device")
      .as[(Long, String, Double)].collect().toSeq
    assert(sfit.map(_._1) == (0 until 7).map(i => i * 10L))
    assert(sfit.forall(_._3 == 5.5), sfit.toString)
  }

  test("fill skeleton rejects a range above the max-select-buckets cap") {
    val df = pts(("a", "m", 0L, 1.0), ("a", "m", 500L, 2.0))
    // a year at 1s = ~31.5M buckets: must fail FAST (before any stage runs),
    // not OOM an executor materializing one 31M-element sequence() row
    val e = intercept[IllegalArgumentException] {
      InfluxQL.run(df,
        """SELECT mean(value) FROM m
          |WHERE time >= '2024-01-01' AND time < '2025-01-01'
          |GROUP BY time(1s) FILL(previous)""".stripMargin)
    }
    assert(e.getMessage.contains("max-select-buckets"))
    // the same range at a coarse step stays fine
    val ok = InfluxQL.run(df,
      """SELECT mean(value) FROM m
        |WHERE time >= 0 AND time < 1000 GROUP BY time(100) FILL(previous)""".stripMargin)
    assert(ok.count() == 10)
  }

  test("raw-series transformations: planner surface and validation") {
    val df = pts(
      ("a", "m", 0L, 1.0), ("a", "m", 100L, 3.0), ("a", "m", 200L, 2.0),
      ("b", "m", 0L, 10.0), ("b", "m", 50L, 20.0))
    // derivative per device series: (Δv)/(Δt/unit); first point drops
    val d = InfluxQL.run(df,
      "SELECT derivative(value, 100u) AS r FROM m GROUP BY device")
      .select("time", "device", "r").as[(Long, String, Double)].collect().sorted
    assert(d.toSeq == Seq((50L, "b", 20.0), (100L, "a", 2.0), (200L, "a", -1.0)))
    // cumulative_sum keeps every point alive (no all-null drop)
    val cs = InfluxQL.run(df, "SELECT cumulative_sum(value) AS cs FROM m GROUP BY device")
    assert(cs.count() == 5)
    // GROUP BY time() still demands an aggregate operand
    val e1 = intercept[IllegalArgumentException] {
      InfluxQL.run(df, "SELECT derivative(value) FROM m GROUP BY time(100)")
    }
    assert(e1.getMessage.contains("aggregate argument"))
    // raw transforms don't mix with aggregates in one SELECT
    val e2 = intercept[IllegalArgumentException] {
      InfluxQL.run(df, "SELECT derivative(value), mean(value) FROM m")
    }
    assert(e2.getMessage.contains("cannot mix"))
  }

  test("sample() picks deterministic hash-order points; distinct() emits at time 0") {
    val df = pts(
      ("a", "m", 10L, 1.0), ("a", "m", 20L, 2.0), ("a", "m", 30L, 2.0),
      ("a", "m", 40L, 3.0), ("b", "m", 10L, 5.0))
    val s1 = InfluxQL.run(df, "SELECT sample(value, 2) FROM m GROUP BY device")
      .select("time", "device", "sample").as[(Long, String, Double)].collect().toSet
    val s2 = InfluxQL.run(df, "SELECT sample(value, 2) FROM m GROUP BY device")
      .select("time", "device", "sample").as[(Long, String, Double)].collect().toSet
    assert(s1 == s2, "hash-order sample is stable across runs")
    assert(s1.count(_._2 == "a") == 2 && s1.count(_._2 == "b") == 1)
    val d = InfluxQL.run(df, "SELECT distinct(value) FROM m")
      .select("time", "distinct").as[(Long, Double)].collect().toSet
    assert(d == Set((0L, 1.0), (0L, 2.0), (0L, 3.0), (0L, 5.0)))
    val e = intercept[IllegalArgumentException] {
      InfluxQL.run(df, "SELECT sample(value, 2), mean(value) FROM m")
    }
    assert(e.getMessage.contains("only SELECT field"))
  }

  test("tz(): GROUP BY time(1d) buckets at DST-aware local midnights") {
    def us(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli * 1000L
    // America/Chicago 2024: spring-forward Mar 10 (23h local day, midnight
    // 06:00Z -> next midnight 05:00Z), fall-back Nov 3 (25h local day)
    val df = pts(
      ("a", "m", us("2024-03-09T12:00:00Z"), 1.0), // Mar 9 local
      ("a", "m", us("2024-03-10T23:00:00Z"), 2.0), // Mar 10 18:00 CDT
      ("a", "m", us("2024-03-11T06:00:00Z"), 3.0), // Mar 11 01:00 CDT
      ("a", "m", us("2024-11-03T06:30:00Z"), 4.0), // Nov 3 01:30 CDT
      ("a", "m", us("2024-11-04T05:30:00Z"), 5.0)) // Nov 3 23:30 CST (25h day)
    val got = InfluxQL.run(df,
      "SELECT count(value) AS c FROM m GROUP BY time(1d) TZ('America/Chicago')")
      .select("time", "c").as[(Long, Long)].collect().toMap
    assert(got == Map(
      us("2024-03-09T06:00:00Z") -> 1L,
      us("2024-03-10T06:00:00Z") -> 1L, // the 23-hour day
      us("2024-03-11T05:00:00Z") -> 1L, // CDT midnight is 05:00Z
      us("2024-11-03T05:00:00Z") -> 2L)) // both points inside the 25-hour day
    // validation: tz() shifts time() buckets only
    val e = intercept[IllegalArgumentException] {
      InfluxQL.run(df, "SELECT count(value) FROM m GROUP BY device TZ('America/Chicago')")
    }
    assert(e.getMessage.contains("time()"))
    val e2 = intercept[IllegalArgumentException] {
      InfluxQL.run(df, "SELECT count(value) FROM m GROUP BY time(1d) TZ('Not/AZone')")
    }
    assert(e2.getMessage.contains("unknown time zone"))
  }

  test("tz(): the fill skeleton densifies in wall-clock space") {
    def us(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli * 1000L
    // two points straddling spring-forward; FILL(previous) over local days
    val df = pts(
      ("a", "m", us("2024-03-09T12:00:00Z"), 10.0),
      ("a", "m", us("2024-03-12T12:00:00Z"), 20.0))
    val got = InfluxQL.run(df,
      s"""SELECT max(value) AS m FROM m
         |WHERE time >= ${us("2024-03-09T06:00:00Z")}
         |  AND time < ${us("2024-03-13T05:00:00Z")}
         |GROUP BY time(1d) FILL(previous) TZ('America/Chicago')""".stripMargin)
      .select("time", "m").as[(Long, Double)].collect().toMap
    // four local days; the two empty middles carry the previous value and
    // the bucket instants hop 06:00Z -> 05:00Z across the transition
    assert(got == Map(
      us("2024-03-09T06:00:00Z") -> 10.0,
      us("2024-03-10T06:00:00Z") -> 10.0,
      us("2024-03-11T05:00:00Z") -> 10.0,
      us("2024-03-12T05:00:00Z") -> 20.0))
  }

  test("tz(): hourly fill skeleton skips the spring-forward gap bucket") {
    def us(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli * 1000L
    // America/Chicago 2024-03-10: 02:00 local does not exist (clock jumps
    // 02:00 -> 03:00). time(1h) across the transition must emit ONE bucket
    // per real local hour — the phantom 02:00 wall start resolves forward
    // onto 03:00's instant and must not duplicate that row
    val df = pts(
      ("a", "m", us("2024-03-10T07:30:00Z"), 1.0), // 01:30 CST
      ("a", "m", us("2024-03-10T09:30:00Z"), 2.0)) // 04:30 CDT
    val got = InfluxQL.run(df,
      s"""SELECT count(value) AS c FROM m
         |WHERE time >= ${us("2024-03-10T07:00:00Z")}
         |  AND time < ${us("2024-03-10T10:00:00Z")}
         |GROUP BY time(1h) FILL(null) TZ('America/Chicago')""".stripMargin)
      .select("time", "c").as[(Long, Option[Long])].collect().toSeq
    // local hours 01:00 (CST, 07:00Z), 03:00 (CDT, 08:00Z — empty, and the
    // phantom 02:00 wall start resolves onto this same instant), and 04:00
    // (CDT, 09:00Z) — exactly three buckets, no duplicate 08:00Z row
    assert(got.sortBy(_._1) == Seq(
      us("2024-03-10T07:00:00Z") -> Some(1L),
      us("2024-03-10T08:00:00Z") -> None,
      us("2024-03-10T09:00:00Z") -> Some(1L)))
    assert(got.map(_._1).distinct.size == got.size, "duplicate bucket rows")
  }

  test("subquery FROM over a raw-series transform re-aggregates its output") {
    // the InfluxDB counter idiom: per-series derivative inside, mean outside
    val df = pts(
      ("a", "m", 0L, 10.0), ("a", "m", 10L, 30.0),
      ("b", "m", 0L, 5.0), ("b", "m", 20L, 45.0))
    val got = InfluxQL.run(df,
      """SELECT mean(rate) AS mr, count(rate) AS c FROM
        |(SELECT derivative(value, 1u) AS rate FROM m GROUP BY device)""".stripMargin)
      .as[(Double, Long)].collect().toSeq
    // a: (30-10)/10 = 2.0 at ts 10; b: (45-5)/20 = 2.0 at ts 20
    assert(got == Seq((2.0, 2L)))
  }

  test("unknown fields and tags fail with the schema in the message") {
    val df = pts(("a", "m", 1L, 1.0))
    def bad(q: String): String =
      intercept[IllegalArgumentException](InfluxQL.run(df, q)).getMessage
    assert(bad("SELECT mean(pressure) FROM m").contains("'pressure'"))
    assert(bad("SELECT mean(pressure) FROM m").contains("available: device, value"))
    assert(bad("SELECT value FROM m WHERE gadget = 'x'").contains("'gadget'"))
    assert(bad("SELECT mean(value) FROM m GROUP BY room").contains("'room'"))
    assert(bad("SELECT derivative(watts, 1m) FROM m GROUP BY device").contains("'watts'"))
    // valid shapes keep working: refs through expressions and conds
    assert(InfluxQL.run(df, "SELECT sqrt(mean(value)) FROM m WHERE device = 'a'")
      .count() == 1)
  }

  test("SELECT * expands alphabetically; now() anchors time bounds") {
    val df = pts(("b", "m", 10L, 2.0), ("a", "m", 5L, 1.0), ("a", "other", 7L, 9.0))
    val star = InfluxQL.run(df, "SELECT * FROM m")
    assert(star.columns.toSeq == Seq("time", "device", "value"))
    assert(star.as[(Long, String, Double)].collect().toSeq ==
      Seq((5L, "a", 1.0), (10L, "b", 2.0)))
    // star + WHERE + LIMIT, the everyday inspection query
    assert(InfluxQL.run(df, "SELECT * FROM m WHERE device = 'b' LIMIT 1")
      .as[(Long, String, Double)].collect().toSeq == Seq((10L, "b", 2.0)))

    val saved = InfluxQL.nowClockUs
    try {
      InfluxQL.nowClockUs = () => 12L
      // time >= now() - 7u = 5: keeps both m points
      assert(InfluxQL.run(df, "SELECT value FROM m WHERE time >= now() - 7u")
        .as[(Long, Double)].collect().toSeq == Seq((5L, 1.0), (10L, 2.0)))
      // chained arithmetic reads the clock once: now() - 7u + 5u = 10
      assert(InfluxQL.run(df, "SELECT value FROM m WHERE time >= now() - 7u + 5u")
        .as[(Long, Double)].collect().toSeq == Seq((10L, 2.0)))
      assert(InfluxQL.run(df, "SELECT value FROM m WHERE time < now()")
        .as[(Long, Double)].collect().toSeq == Seq((5L, 1.0), (10L, 2.0)))
    } finally InfluxQL.nowClockUs = saved
    val e = intercept[IllegalArgumentException](
      parse("SELECT value FROM m WHERE time >= now() - 5"))
    assert(e.getMessage.contains("duration"))
  }

  test("regex tag predicates: =~ keeps matching series, !~ drops them") {
    val df = pts(
      ("dev1", "m", 1L, 1.0), ("dev2", "m", 2L, 2.0), ("dev3", "m", 3L, 3.0),
      ("dev12", "m", 4L, 4.0), ("other", "m", 5L, 5.0))
    val got = InfluxQL.run(df,
      "SELECT count(value) AS c FROM m WHERE device =~ /dev[1-3]$/ GROUP BY device")
      .select("device", "c").as[(String, Long)].collect().toSet
    assert(got == Set(("dev1", 1L), ("dev2", 1L), ("dev3", 1L))) // dev12, other out
    val neg = InfluxQL.run(df,
      "SELECT count(value) AS c FROM m WHERE device !~ /dev/ GROUP BY device")
      .select("device", "c").as[(String, Long)].collect().toSet
    assert(neg == Set(("other", 1L)))
    // `/` stays division everywhere except after FROM and =~/!~
    val mixed = InfluxQL.run(df,
      "SELECT sum(value) / 2 AS h FROM m WHERE device =~ /dev[12]$/")
      .select("h").as[Double].collect().toSeq
    assert(mixed == Seq((1.0 + 2.0) / 2))
    // parse errors stay loud
    val e = intercept[IllegalArgumentException](
      parse("SELECT value FROM m WHERE device =~ 'notaregex'"))
    assert(e.getMessage.contains("regex"))
  }

  test("SHOW CARDINALITY forms and SHOW paging") {
    val df = pts(
      ("a", "temp", 1L, 1.0), ("b", "temp", 2L, 2.0), ("a", "hum", 3L, 3.0),
      ("c", "temp", 4L, 4.0), ("b", "hum", 5L, 5.0))
    def one(q: String): Long =
      InfluxQL.run(df, q).as[Long].collect().head
    assert(one("SHOW MEASUREMENT CARDINALITY") == 2L) // temp, hum
    assert(one("SHOW SERIES CARDINALITY") == 5L) // 5 distinct (m, device) pairs
    assert(one("SHOW TAG KEY CARDINALITY") == 1L) // device
    assert(one("SHOW TAG VALUES CARDINALITY WITH KEY = device") == 3L) // a b c
    assert(one("SHOW FIELD KEY CARDINALITY") == 1L) // value
    // paging over the deterministic order
    assert(InfluxQL.run(df, "SHOW MEASUREMENTS LIMIT 1").as[String].collect().toSeq ==
      Seq("hum"))
    assert(InfluxQL.run(df, "SHOW MEASUREMENTS LIMIT 1 OFFSET 1").as[String].collect().toSeq ==
      Seq("temp"))
    assert(InfluxQL.run(df, "SHOW SERIES LIMIT 2 OFFSET 2").as[String].collect().toSeq ==
      Seq("temp,device=a", "temp,device=b"))
    assert(InfluxQL.run(df, "SHOW TAG VALUES WITH KEY = device LIMIT 2")
      .as[(String, String)].collect().toSeq == Seq(("device", "a"), ("device", "b")))
    // WITH MEASUREMENT filters (regex and equality)
    assert(InfluxQL.run(df, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^t/")
      .as[String].collect().toSeq == Seq("temp"))
    assert(InfluxQL.run(df, "SHOW MEASUREMENTS WITH MEASUREMENT = hum")
      .as[String].collect().toSeq == Seq("hum"))
    // the KEYS forms page too
    assert(InfluxQL.run(df, "SHOW FIELD KEYS LIMIT 1").count() == 1)
    assert(InfluxQL.run(df, "SHOW TAG KEYS LIMIT 5").as[String].collect().toSeq ==
      Seq("device"))
    // unknown forms still fail loudly
    val e = intercept[IllegalArgumentException](InfluxQL.run(df, "SHOW SHARDS"))
    assert(e.getMessage.contains("unsupported SHOW"))
  }

  test("retention DDL: CREATE/ALTER/SHOW/DROP round-trip the policy store") {
    val root = java.nio.file.Files.createTempDirectory("retention").toString
    def rp(text: String) =
      RetentionPolicies.run(spark, text, root)
        .as[(String, String, Long, Long, Boolean)].collect().toSeq

    // empty store: SHOW answers, not throws
    assert(rp("SHOW RETENTION POLICIES") == Nil)
    assert(rp("CREATE RETENTION POLICY keep30 ON telemetry DURATION 30d REPLICATION 2 DEFAULT") ==
      Seq(("telemetry", "keep30", 30L * 86400000000L, 2L, true)))
    // second policy; DEFAULT moves atomically off the first
    assert(rp("CREATE RETENTION POLICY keep7 ON telemetry DURATION 1w DEFAULT").toSet ==
      Set(("telemetry", "keep7", 7L * 86400000000L, 1L, true),
        ("telemetry", "keep30", 30L * 86400000000L, 2L, false)))
    // other dbs don't leak into ON <db>
    rp("CREATE RETENTION POLICY forever ON other DURATION INF")
    assert(rp("SHOW RETENTION POLICIES ON telemetry").map(_._2).toSet == Set("keep7", "keep30"))
    assert(rp("SHOW RETENTION POLICIES").size == 3)
    assert(rp("SHOW RETENTION POLICIES ON other") ==
      Seq(("other", "forever", -1L, 1L, false)))
    // ALTER updates in place
    assert(rp("ALTER RETENTION POLICY keep7 ON telemetry DURATION 14d DEFAULT").toSet
      .contains(("telemetry", "keep7", 14L * 86400000000L, 1L, true)))
    assert(rp("DROP RETENTION POLICY keep30 ON telemetry").map(_._2) == Seq("keep7"))
    // validation: the 1h floor and missing DURATION
    val e = intercept[IllegalArgumentException](
      rp("CREATE RETENTION POLICY tiny ON telemetry DURATION 30m"))
    assert(e.getMessage.contains(">= 1h"))
    val e2 = intercept[IllegalArgumentException](
      rp("CREATE RETENTION POLICY nodur ON telemetry DEFAULT"))
    assert(e2.getMessage.contains("DURATION"))
  }

  test("retention DDL: the default policy drives expiry on a points table") {
    val root = java.nio.file.Files.createTempDirectory("retention_enf").toString
    val table = new graft.storage.TxLogTable(spark, s"$root/points")
    val dayUs = 86400000000L
    val nowUs = 1706659200000000L // 2024-01-31
    table.append(Seq(
      ("dev1", "m", (nowUs - 40 * dayUs) * 1000L, 1.0),  // 40 days old
      ("dev1", "m", (nowUs - 5 * dayUs) * 1000L, 2.0),   // 5 days old
      ("dev2", "m", (nowUs - 1 * dayUs) * 1000L, 3.0)    // 1 day old
    ).toDF("device", "transducer", "ts_ns", "value"))

    // no finite default policy yet: enforcement is a no-op
    assert(RetentionPolicies.enforce(spark, table, "ts_ns", root, "telemetry",
      nowUs, _ * 1000L).isEmpty)
    RetentionPolicies.run(spark,
      "CREATE RETENTION POLICY keep30 ON telemetry DURATION 30d DEFAULT", root)
    val v = RetentionPolicies.enforce(spark, table, "ts_ns", root, "telemetry",
      nowUs, _ * 1000L)
    assert(v.nonEmpty)
    assert(table.read().select("value").as[Double].collect().toSet == Set(2.0, 3.0))
    // INF default: cutoff is None, nothing further expires
    RetentionPolicies.run(spark,
      "ALTER RETENTION POLICY keep30 ON telemetry DURATION INF DEFAULT", root)
    assert(RetentionPolicies.cutoffUs(spark, root, "telemetry", nowUs).isEmpty)
  }

  test("database DDL: CREATE/SHOW/DROP with autogen policy and cascading drop") {
    val root = java.nio.file.Files.createTempDirectory("catalog_ddl").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    assert(cat.run("SHOW DATABASES").as[String].collect().isEmpty)
    assert(cat.run("CREATE DATABASE tele").as[String].collect().toSeq == Seq("tele"))
    // a NEW database gets InfluxDB's autogen policy (INF, repl 1, default)
    assert(cat.run("SHOW RETENTION POLICIES ON tele")
      .as[(String, String, Long, Long, Boolean)].collect().toSeq ==
      Seq(("tele", "autogen", -1L, 1L, true)))
    cat.run("CREATE DATABASE other")
    assert(cat.run("SHOW DATABASES").as[String].collect().toSeq == Seq("other", "tele"))
    // re-CREATE of an existing db is a no-op: custom default stays put
    cat.run("CREATE RETENTION POLICY keep30 ON tele DURATION 30d DEFAULT")
    cat.run("CREATE DATABASE tele")
    assert(cat.run("SHOW RETENTION POLICIES ON tele")
      .filter(col("is_default")).as[(String, String, Long, Long, Boolean)]
      .collect().map(_._2).toSeq == Seq("keep30"))
    // retention DDL on a db that doesn't exist fails like InfluxDB
    assert(intercept[IllegalArgumentException](
      cat.run("CREATE RETENTION POLICY p ON ghost DURATION 2h"))
      .getMessage.contains("database not found"))
    // cascading drop: db row, its policies, and its data all go
    cat.writePoints("tele", pts(("a", "temp", 1L, 1.0)))
    assert(cat.run("SELECT mean(value) FROM temp").as[Double].collect().toSeq == Seq(1.0))
    assert(cat.run("DROP DATABASE tele").as[String].collect().toSeq == Seq("other"))
    assert(intercept[IllegalArgumentException](cat.run("SELECT mean(value) FROM temp"))
      .getMessage.contains("database not found"))
    assert(RetentionPolicies.run(spark, "SHOW RETENTION POLICIES", root)
      .as[(String, String, Long, Long, Boolean)].collect().forall(_._1 == "other"))
    // recreate: fresh autogen, no resurrected data
    cat.run("CREATE DATABASE tele")
    assert(cat.run("SHOW MEASUREMENTS").as[String].collect().isEmpty)
    // dropping a nonexistent db is a no-op, not an error
    cat.run("DROP DATABASE ghost")
  }

  test("database checks read the _databases snapshot: a warm SELECT reads no _databases file") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files.createTempDirectory("catalog_dbnames").toString
    val a = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    val b = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the plans of everything `body` ran, once the listener bus delivered
    // them (a sentinel query run after it marks the end)
    var n = 0
    def executed(body: => Unit): Seq[String] = {
      plans.clear()
      body
      n += 1
      spark.range(1).toDF(s"dbnames_sentinel_$n").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def all = plans.toArray(Array.empty[SparkPlan]).toSeq.map(_.toString)
      while (!all.exists(_.contains(s"dbnames_sentinel_$n")) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(all.exists(_.contains(s"dbnames_sentinel_$n")), "listeners delivered nothing within 30 s")
      all
    }
    def reads(plans: Seq[String]) = plans.count(_.contains("_databases"))
    spark.listenerManager.register(l)
    try {
      // the first check after a commit decodes the snapshot (CREATE lists
      // the databases it leaves) ...
      assert(reads(executed(a.run("CREATE DATABASE tele").collect())) >= 1)
      // ... then a /write and a SELECT, through either catalog on the
      // root, read none
      val warm = executed {
        a.writePoints("tele", pts(("d", "temp", 1L, 1.0), ("d", "temp", 2L, 3.0)))
        assert(a.run("SELECT mean(value) FROM temp").as[Double].collect().toSeq == Seq(2.0))
        assert(b.run("SELECT mean(value) FROM temp").as[Double].collect().toSeq == Seq(2.0))
      }
      assert(warm.nonEmpty && reads(warm) == 0, s"a warm SELECT read _databases:\n${warm.mkString("\n")}")
      // CREATE and DROP through one catalog show at the other's next statement
      b.run("CREATE DATABASE other")
      assert(a.run("SHOW DATABASES").as[String].collect().toSeq == Seq("other", "tele"))
      a.run("DROP DATABASE tele")
      assert(intercept[IllegalArgumentException](b.run("SELECT mean(value) FROM temp"))
        .getMessage.contains("database not found"))
      b.run("CREATE DATABASE tele")
      assert(a.run("SELECT mean(value) FROM temp").collect().isEmpty)
      assert(b.run("SHOW DATABASES").as[String].collect().toSeq == Seq("other", "tele"))
    } finally spark.listenerManager.unregister(l)
  }

  test("control-table SHOW statements keep their columns and types, empty or not") {
    val root = java.nio.file.Files.createTempDirectory("catalog_show_shapes").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    val shapes = Seq(
      "SHOW USERS" -> "user:string,admin:boolean",
      "SHOW GRANTS FOR u" -> "database:string,privilege:string",
      "SHOW RETENTION POLICIES" ->
        "db:string,name:string,duration_us:bigint,replica_n:bigint,is_default:boolean",
      "SHOW CONTINUOUS QUERIES" -> "db:string,name:string,query:string",
      "SHOW SUBSCRIPTIONS" ->
        "db:string,retention_policy:string,name:string,mode:string,destinations:string,dropped:bigint")
    def shape(stmt: String): (String, Int) = {
      val df = cat.run(stmt)
      (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.collect().length)
    }
    // never-committed tables, and `_retention_policies` committed but empty
    assert(shape("SHOW USERS") == (shapes.head._2, 0))
    cat.run("CREATE USER u WITH PASSWORD 'pw'") // SHOW GRANTS FOR needs its user
    cat.run("CREATE DATABASE tele")
    cat.run("DROP RETENTION POLICY autogen ON tele")
    shapes.tail.foreach { case (stmt, cols) => assert(shape(stmt) == (cols, 0), stmt) }
    cat.run("GRANT READ ON tele TO u")
    cat.run("CREATE RETENTION POLICY autogen ON tele DURATION INF DEFAULT")
    cat.run("CREATE CONTINUOUS QUERY c ON tele BEGIN SELECT count(value) AS n " +
      "INTO cnt FROM temp GROUP BY time(1m) END")
    cat.run("CREATE SUBSCRIPTION s ON tele.autogen DESTINATIONS ALL 'mq/s'")
    shapes.foreach { case (stmt, cols) => assert(shape(stmt) == (cols, 1), stmt) }
  }

  test("control-table snapshots: a change through one catalog shows at another's next statement") {
    import graft.influxql.InfluxAuth.{AuthenticationFailed, NotAuthorized}
    val root = java.nio.file.Files.createTempDirectory("catalog_snapshots").toString
    val a = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    val b = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    a.run("CREATE DATABASE tele")
    a.writePoints("tele", pts(("d", "temp", 1L, 1.0), ("d", "temp", 2L, 3.0)))
    val sel = "SELECT mean(value) FROM temp"
    def selectAs(pw: String) = b.runAs("u", pw, sel).as[Double].collect().toSeq

    // users and grants: every check at b runs warm on the snapshot it cached
    a.run("CREATE USER u WITH PASSWORD 'pw1'")
    assert(b.run("SHOW USERS").as[(String, Boolean)].collect().toSeq == Seq(("u", false)))
    assert(intercept[NotAuthorized](selectAs("pw1")).getMessage.contains("READ"))
    a.run("GRANT READ ON tele TO u")
    assert(selectAs("pw1") == Seq(2.0))
    a.run("SET PASSWORD FOR u = 'pw2'")
    intercept[AuthenticationFailed](selectAs("pw1"))
    assert(selectAs("pw2") == Seq(2.0))
    a.run("REVOKE READ ON tele FROM u")
    intercept[NotAuthorized](selectAs("pw2"))
    a.run("DROP USER u")
    intercept[AuthenticationFailed](selectAs("pw2"))
    assert(b.run("SHOW USERS").collect().isEmpty)

    // retention policies: the rp qualifier, SHOW SHARDS' default and SHOW
    val qualified = "SELECT mean(value) FROM tele.week.temp"
    assert(intercept[IllegalArgumentException](b.run(qualified))
      .getMessage.contains("retention policy not found"))
    a.run("CREATE RETENTION POLICY week ON tele DURATION 7d")
    assert(b.run(qualified).as[Double].collect().toSeq == Seq(2.0))
    def shardRps = b.run("SHOW SHARDS").select("retention_policy").as[String].collect().toSet
    assert(shardRps == Set("autogen"))
    a.run("ALTER RETENTION POLICY week ON tele DURATION 14d DEFAULT")
    assert(shardRps == Set("week"))
    assert(b.run("SHOW RETENTION POLICIES ON tele").as[(String, String, Long, Long, Boolean)]
      .collect().toSeq == Seq(("tele", "autogen", -1L, 1L, false),
        ("tele", "week", 14L * 86400000000L, 1L, true)))
    a.run("DROP RETENTION POLICY week ON tele")
    assert(intercept[IllegalArgumentException](b.run(qualified))
      .getMessage.contains("retention policy not found"))
    assert(shardRps == Set("autogen"))

    // continuous queries: SHOW and the sole-writer refusal of the target
    a.run("CREATE CONTINUOUS QUERY c ON tele BEGIN SELECT count(value) AS n " +
      "INTO cnt FROM temp GROUP BY time(1m) END")
    assert(b.run("SHOW CONTINUOUS QUERIES").select("name").as[String].collect().toSeq == Seq("c"))
    val into = "SELECT mean(value) INTO cnt FROM temp"
    assert(intercept[IllegalArgumentException](b.run(into))
      .getMessage.contains("continuous query target"))
    a.run("DROP CONTINUOUS QUERY c ON tele")
    assert(b.run("SHOW CONTINUOUS QUERIES").collect().isEmpty)
    b.run(into).collect()

    // subscriptions
    a.run("CREATE SUBSCRIPTION s ON tele.autogen DESTINATIONS ALL 'mq/s'")
    assert(b.run("SHOW SUBSCRIPTIONS").select("name").as[String].collect().toSeq == Seq("s"))
    a.run("DROP SUBSCRIPTION s ON tele.autogen")
    assert(b.run("SHOW SUBSCRIPTIONS").collect().isEmpty)

    // a root deleted and recreated restarts every log's version numbering:
    // the new `_users` commit 0 must not be served from the old commit 0
    val dir2 = java.nio.file.Files.createTempDirectory("catalog_reincarnated")
    val c = new graft.influxql.InfluxCatalog(spark, dir2.toString)
    def auth(pw: String) = graft.influxql.InfluxAuth.authenticate(spark, dir2.toString, "v", pw)
    c.run("CREATE USER v WITH PASSWORD 'old'")
    assert(auth("old"))
    val walk = java.nio.file.Files.walk(dir2)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally walk.close()
    java.nio.file.Files.createDirectories(dir2)
    c.run("CREATE USER v WITH PASSWORD 'new'")
    assert(!auth("old") && auth("new"))
  }

  test("database routing: qualified FROM forms, ON <db> SHOW, rp validation") {
    val root = java.nio.file.Files.createTempDirectory("catalog_route").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "main")
    cat.run("CREATE DATABASE main")
    cat.run("CREATE DATABASE aux")
    cat.writePoints("main", pts(("a", "temp", 1L, 1.0), ("a", "temp", 2L, 2.0)))
    cat.writePoints("aux", pts(("b", "hum", 1L, 5.0)))
    // unqualified FROM plans against defaultDb
    assert(cat.run("SELECT sum(value) FROM temp").as[Double].collect().toSeq == Seq(3.0))
    // db..m routes; db.rp.m validates the policy; db../re/ works too
    assert(cat.run("SELECT sum(value) FROM aux..hum").as[Double].collect().toSeq == Seq(5.0))
    assert(cat.run("SELECT sum(value) FROM aux.autogen.hum").as[Double].collect().toSeq
      == Seq(5.0))
    assert(intercept[IllegalArgumentException](
      cat.run("SELECT sum(value) FROM aux.nope.hum"))
      .getMessage.contains("retention policy not found"))
    assert(cat.run("SELECT sum(value) FROM aux../^h/")
      .as[(String, Double)].collect().toSeq == Seq(("hum", 5.0)))
    assert(intercept[IllegalArgumentException](
      cat.run("SELECT sum(value) FROM ghost..m"))
      .getMessage.contains("database not found"))
    // mixed qualifiers in one FROM list are rejected
    assert(intercept[IllegalArgumentException](
      parse("SELECT sum(value) FROM main..a, aux..b"))
      .getMessage.contains("share one database qualifier"))
    // the ON <db> clause on the SHOW family
    assert(cat.run("SHOW MEASUREMENTS ON aux").as[String].collect().toSeq == Seq("hum"))
    assert(cat.run("SHOW MEASUREMENTS").as[String].collect().toSeq == Seq("temp"))
    // stock clients double-quote identifiers unconditionally
    // (influxdb-python's create_database/drop_database): the quoted
    // database DDL forms and quoted ON routing must round-trip
    cat.run("CREATE DATABASE \"qdb\"")
    assert(cat.run("SHOW DATABASES").as[String].collect().toSet.contains("qdb"))
    assert(cat.run("SHOW MEASUREMENTS ON \"aux\"").as[String].collect().toSeq
      == Seq("hum"))
    cat.run("DROP DATABASE \"qdb\"")
    assert(!cat.run("SHOW DATABASES").as[String].collect().toSet.contains("qdb"))
    assert(cat.run("SHOW TAG VALUES ON aux WITH KEY = device")
      .as[(String, String)].collect().toSeq == Seq(("device", "b")))
    assert(cat.run("SHOW SERIES CARDINALITY ON aux").as[Long].collect().head == 1L)
    // a bare InfluxQL.run (no catalog) refuses qualified FROM loudly
    assert(intercept[IllegalArgumentException](
      InfluxQL.run(pts(("a", "m", 1L, 1.0)), "SELECT value FROM db..m"))
      .getMessage.contains("InfluxCatalog"))
    // INTO with a qualified FROM lands in THAT db's namespace
    cat.run("SELECT mean(value) INTO daily FROM aux..hum GROUP BY time(10u)")
    assert(new graft.storage.TxLogTable(spark, s"$root/aux/daily").read().count() == 1L)
    // DELETE / DROP MEASUREMENT / DROP SERIES mutate defaultDb and return
    // the version
    cat.run("DROP SERIES FROM temp WHERE device = 'zzz'") // no-op match
    assert(cat.run("SHOW MEASUREMENTS").as[String].collect().toSeq == Seq("temp"))
    cat.run("DROP MEASUREMENT temp")
    assert(cat.run("SHOW MEASUREMENTS").as[String].collect().isEmpty)
    assert(cat.run("SHOW MEASUREMENTS ON aux").as[String].collect().toSeq == Seq("hum"))
    // SHOW ... ON <db> must not require the session's DEFAULT db to exist
    // (InfluxDB has no server-side default-db coupling; regression from the
    // 3x-scale seeded db-DDL differential)
    cat.run("DROP DATABASE main")
    assert(cat.run("SHOW MEASUREMENTS ON aux").as[String].collect().toSeq == Seq("hum"))
    assert(cat.run("SHOW SERIES CARDINALITY ON aux").as[Long].collect().head == 1L)
  }

  test("SHOW QUERIES lists running statements; KILL QUERY cancels the job group") {
    val root = java.nio.file.Files.createTempDirectory("influxkill").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    cat.writePoints("db", pts(("a", "m", 1L, 1.0), ("a", "m", 2L, 2.0)))
    // idle: nothing running
    assert(cat.run("SHOW QUERIES").collect().isEmpty)
    // execute() registers for the execution window and deregisters after
    val done = cat.execute("SELECT sum(value) FROM m")
    assert(done.as[Double].collect().toSeq == Seq(3.0))
    assert(cat.run("SHOW QUERIES").collect().isEmpty)
    // in-flight: a tracked statement is visible with its text and db
    cat.queryRegistry.track(spark, "SELECT sum(value) FROM m", "db") {
      val rows = cat.run("SHOW QUERIES")
        .select("query", "database").as[(String, String)].collect().toSeq
      assert(rows == Seq(("SELECT sum(value) FROM m", "db")))
      val durs = cat.run("SHOW QUERIES").select("duration_us").as[Long].collect()
      assert(durs.forall(_ >= 0L))
    }
    assert(cat.run("SHOW QUERIES").collect().isEmpty)
    // KILL QUERY cancels a long-running planned query mid-execution: an
    // effectively-unbounded points scan planned by the InfluxQL planner,
    // executed under the registry from another thread
    val bigPts = spark.range(0L, 40000000000L).selectExpr(
      "concat('d', id % 3) AS device", "'m' AS transducer",
      "id AS ts_us", "cast(id % 100 as double) AS value")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      cat.queryRegistry.track(spark, "SELECT count(value) FROM m", "db") {
        InfluxQL.run(bigPts, "SELECT count(value) FROM m").collect()
      }
    }
    // wait until the statement is listed AND its Spark jobs are live
    val deadline = System.nanoTime() + 60L * 1000000000L
    var qid = -1L
    while (qid < 0 && System.nanoTime() < deadline) {
      val ids = cat.run("SHOW QUERIES").select("qid").as[Long].collect()
      ids.headOption.filter(q => spark.sparkContext.statusTracker
        .getJobIdsForGroup(cat.queryRegistry.groupId(q)).nonEmpty)
        .foreach(q => qid = q)
      if (qid < 0) Thread.sleep(50)
    }
    try {
      assert(qid >= 0, "tracked query never started its Spark jobs")
      cat.run(s"KILL QUERY $qid")
      val err = intercept[Exception](Await.result(fut, 60.seconds))
      assert(err.getMessage.toLowerCase.contains("cancel"),
        s"expected job-cancellation failure, got: ${err.getMessage}")
    } finally if (qid >= 0) // never leave a 40B-row scan running on failure
      spark.sparkContext.cancelJobGroup(cat.queryRegistry.groupId(qid))
    // the killed statement deregistered on its failure path
    assert(cat.run("SHOW QUERIES").collect().isEmpty)
    // unknown / finished qids fail loudly, like InfluxDB
    assert(intercept[IllegalArgumentException](cat.run(s"KILL QUERY $qid"))
      .getMessage.contains("no such query"))
    assert(intercept[IllegalArgumentException](cat.run("KILL QUERY abc"))
      .getMessage.contains("number"))
  }

  test("runStreamed: the registry window spans result streaming, and KILL mid-stream cleans up") {
    // the HTTP face's /query path executes lazily and streams rows out
    // (toLocalIterator) — the statement must stay visible to SHOW QUERIES
    // and killable for the WHOLE emission, not just the planning instant
    val root = java.nio.file.Files.createTempDirectory("influxstream").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    cat.writePoints("db", pts((0 until 200).map(i =>
      ("a", "m", i.toLong, i.toDouble)): _*))
    val started = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try cat.runStreamed("SELECT value FROM m") { df =>
        val it = df.toLocalIterator()
        it.next() // execution has begun, rows are flowing
        started.countDown()
        go.await()
        // a KILL between the latches cancels this thread's job group: the
        // remaining iteration may fail (cancelled jobs) — what MUST hold
        // is the cleanup below, never a wedged registry entry
        while (it.hasNext) { it.next(); drained.incrementAndGet() }
      } catch { case e: Throwable => failure.set(e) }
    }, "streamed-query")
    t.start()
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val listed = cat.run("SHOW QUERIES")
      .select("qid", "query").as[(Long, String)].collect()
    assert(listed.map(_._2).toSeq == Seq("SELECT value FROM m"),
      s"the streaming statement must be listed mid-emission: ${listed.toSeq}")
    cat.run(s"KILL QUERY ${listed.head._1}")
    go.countDown()
    t.join(60000)
    assert(!t.isAlive, "the streaming consumer must terminate after KILL")
    // whether the remaining partitions were already local (drain finishes)
    // or still pending (drain fails on the cancelled group), the window
    // closed and the registry holds nothing
    assert(cat.run("SHOW QUERIES").collect().isEmpty,
      s"registry must deregister (drained=${drained.get()}, failure=${failure.get()})")
  }

  test("registries: 8 concurrent CREATEs of one name land once, the rest refused") {
    val root = java.nio.file.Files.createTempDirectory("catalog_cas").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    cat.run("CREATE DATABASE tele")
    // a committed row in each registry first: the race then runs on top of
    // an existing version, not only on the first commit
    cat.run("CREATE CONTINUOUS QUERY c0 ON tele BEGIN SELECT count(num) AS c " +
      "INTO cnt0 FROM temp GROUP BY time(1m) END")
    cat.run("CREATE USER u0 WITH PASSWORD 'pw'")
    cat.run("CREATE SUBSCRIPTION s0 ON tele.autogen DESTINATIONS ALL 'mq/s0'")
    val cases = Seq(
      ("CREATE CONTINUOUS QUERY c1 ON tele BEGIN SELECT count(num) AS c " +
        "INTO cnt1 FROM temp GROUP BY time(1m) END", "_continuous_queries"),
      ("CREATE USER u1 WITH PASSWORD 'pw'", "_users"),
      ("CREATE SUBSCRIPTION s1 ON tele.autogen DESTINATIONS ALL 'mq/s1'", "_subscriptions"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try cases.foreach { case (stmt, registry) =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        scala.util.Try(cat.run(stmt))
      }))
      start.countDown()
      val results = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.count(_.isSuccess) == 1, s"$registry: ${results.count(_.isSuccess)} CREATEs succeeded")
      results.filter(_.isFailure).map(_.failed.get).foreach { e =>
        assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains("already exists"),
          s"$registry: unexpected failure $e")
      }
      assert(new graft.storage.TxLogTable(spark, s"$root/$registry").read().count() == 2L,
        s"$registry must hold the seed row and one created row")
    } finally pool.shutdown()
  }

  test("subscriptions: DDL registry; SHOW SHARDS/SHARD GROUPS/STATS/DIAGNOSTICS") {
    val root = java.nio.file.Files.createTempDirectory("catalog_subs").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    cat.run("CREATE DATABASE tele")
    assert(cat.run("SHOW SUBSCRIPTIONS").collect().isEmpty)
    cat.run("CREATE SUBSCRIPTION sub0 ON tele.autogen DESTINATIONS ALL 'mq/s0', 'mq/s1'")
    cat.run("CREATE SUBSCRIPTION sub1 ON tele.autogen DESTINATIONS ANY 'udp://h1:9'")
    assert(cat.run("SHOW SUBSCRIPTIONS")
      .as[(String, String, String, String, String, Long)]
      .collect().toSeq == Seq(
        ("tele", "autogen", "sub0", "ALL", "mq/s0, mq/s1", 0L),
        ("tele", "autogen", "sub1", "ANY", "udp://h1:9", 0L)))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE SUBSCRIPTION sub0 ON tele.autogen DESTINATIONS ALL 'x'"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE SUBSCRIPTION s2 ON tele.ghost DESTINATIONS ALL 'x'"))
      .getMessage.contains("retention policy not found"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE SUBSCRIPTION s2 ON ghost.autogen DESTINATIONS ALL 'x'"))
      .getMessage.contains("database not found"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE SUBSCRIPTION s2 ON tele.autogen DESTINATIONS SOME 'x'"))
      .getMessage.contains("ALL or ANY"))
    assert(intercept[IllegalArgumentException](cat.run(
      "DROP SUBSCRIPTION nope ON tele.autogen"))
      .getMessage.contains("not found"))
    cat.run("DROP SUBSCRIPTION sub1 ON tele.autogen")
    assert(cat.run("SHOW SUBSCRIPTIONS").count() == 1)
    // shards = the points table's committed immutable data dirs
    cat.writePoints("tele", pts(("a", "temp", 10L, 1.0), ("b", "temp", 20L, 2.0)))
    cat.writePoints("tele", pts(("a", "hum", 30L, 3.0)))
    val shards = cat.run("SHOW SHARDS")
      .as[(Long, String, String, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    assert(shards.size == 2, "two appends = two data dirs = two shards")
    assert(shards.map(_._7).sum == 3 && shards.forall(_._8 > 0))
    assert(shards.map(s => (s._2, s._3)).distinct == Seq(("tele", "autogen")))
    assert(shards.map(s => (s._5.get, s._6.get)).toSet == Set((10L, 20L), (30L, 30L)))
    assert(cat.run("SHOW SHARD GROUPS").count() == 2)
    assert(cat.run("SHOW STATS").as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq == Seq(("tele", 2L, 3L, 3L, 2L, 0L, 0L)))
    val diag = cat.run("SHOW DIAGNOSTICS").as[(String, String)].collect().toMap
    assert(diag("sparkVersion") == spark.version && diag("engine") == "graft")
    // DROP SHARD removes ONE committed dir as an O(1) metadata commit.
    // Ids are STABLE (md5 of the immutable dir UUID, never positional):
    // a commit landing between SHOW SHARDS and DROP SHARD must not shift
    // which directory the listed id resolves to.
    val dropId = shards.find(_._5.contains(10L)).get._1
    cat.writePoints("tele", pts(("c", "pres", 50L, 5.0))) // concurrent commit
    cat.run(s"DROP SHARD $dropId")
    assert(cat.points("tele").as[(String, String, Long, Double)].collect().toSet ==
      Set(("a", "hum", 30L, 3.0), ("c", "pres", 50L, 5.0)),
      "the id captured BEFORE the interleaved commit still dropped its own dir")
    assert(cat.run("SHOW STATS").as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq == Seq(("tele", 2L, 2L, 2L, 2L, 0L, 0L)))
    // the surviving shards kept their pre-commit ids too
    val after = cat.run("SHOW SHARDS")
      .as[(Long, String, String, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    val survivorId = shards.find(_._5.contains(30L)).get._1
    assert(after.exists(_._1 == survivorId), "surviving shard id is stable")
    // time travel still reads the pre-drop snapshot
    assert(cat.pointsTable("tele").readVersion(1L).count() == 3)
    assert(intercept[IllegalArgumentException](cat.run("DROP SHARD 99"))
      .getMessage.contains("shard not found"))
    // dropping every shard leaves an empty, still-readable table
    after.foreach(s => cat.run(s"DROP SHARD ${s._1}"))
    assert(cat.points("tele").count() == 0)
    assert(cat.run("SELECT count(value) FROM temp").collect().isEmpty)
  }

  test("SELECT on a database with no committed points returns no series; a typo once it has points fails") {
    val root = java.nio.file.Files.createTempDirectory("empty_db").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "mq")
    cat.run("CREATE DATABASE mq")
    // the state of an MQTT database before the data plane's first commit
    assert(cat.run("SELECT count(num) FROM temp").collect().isEmpty)
    assert(cat.run("SELECT mean(num) FROM temp WHERE device_id = 'd1' GROUP BY time(1m), device_id")
      .collect().isEmpty)
    // an unknown database still fails
    assert(intercept[IllegalArgumentException](cat.run("SELECT count(num) FROM nodb..temp"))
      .getMessage.contains("database not found"))
    cat.writePoints("mq", Seq(("a", "temp", 1L, 1.0)).toDF("device", "transducer", "ts_us", "value"))
    assert(cat.run("SELECT count(value) FROM temp").as[Long].collect().toSeq == Seq(1L))
    assert(intercept[IllegalArgumentException](cat.run("SELECT count(num) FROM temp"))
      .getMessage.contains("unknown field or tag 'num'"))
  }

  test("SELECT on a database with no committed points answers its own columns with no rows") {
    val root = java.nio.file.Files.createTempDirectory("empty_db_cols").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "mq")
    cat.run("CREATE DATABASE mq")
    // a typed read decodes the empty answer by its expected columns
    assert(cat.run("SELECT count(value) FROM mq..m").as[Long].collect().isEmpty)
    val grouped = cat.run("SELECT mean(num) FROM temp GROUP BY time(1m), device_id")
    assert(grouped.collect().isEmpty)
    assert(grouped.columns.toSeq.contains("mean") && grouped.columns.toSeq.contains("device_id"),
      grouped.columns.mkString(", "))
  }

  test("subscriptions: streaming fan-out publishes line protocol per mode") {
    import graft.influxql.Subscriptions
    val root = java.nio.file.Files.createTempDirectory("subs_stream").toString
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    cat.run("CREATE DATABASE tele")
    cat.run(s"CREATE SUBSCRIPTION fanAll ON tele.autogen DESTINATIONS ALL 'sub$tag/a', 'sub$tag/b'")
    cat.run(s"CREATE SUBSCRIPTION fanAny ON tele.autogen DESTINATIONS ANY 'sub$tag/c', 'sub$tag/d'")
    val p1 = ("a", "temp", 5L, 1.5)
    val p2 = ("b", "temp", 6L, 2.5)
    val before = graft.streaming.MqttBus.size
    Subscriptions.fanOut(
      Seq(p1, p2).toDF("device", "transducer", "ts_us", "value"), "tele", root)
    val got = graft.streaming.MqttBus.slice(before, graft.streaming.MqttBus.size)
      .filter(_._1.startsWith(s"sub$tag/"))
      .map(m => (m._1, new String(m._2, "UTF-8")))
    def line(p: (String, String, Long, Double)) =
      Subscriptions.lineProtocol(p._2, p._1, p._3, p._4)
    assert(line(p1) == "temp,device=a value=1.5 5000")
    // ALL: both destinations carry both points
    for (d <- Seq("a", "b"); p <- Seq(p1, p2))
      assert(got.contains((s"sub$tag/$d", line(p))), s"missing ALL $d ${line(p)}")
    // ANY: each point lands exactly once, on its deterministic destination
    for (p <- Seq(p1, p2)) {
      val dest = Seq("c", "d")(Subscriptions.anyIndex(p._2, p._1, p._3, 2))
      assert(got.count(m => m._2 == line(p) && m._1.endsWith("/c") || m._2 == line(p) && m._1.endsWith("/d")) == 1)
      assert(got.contains((s"sub$tag/$dest", line(p))))
    }
    assert(got.size == 6, s"4 ALL + 2 ANY messages, got $got")
  }

  test("subscriptions: maxRowsPerBatch bounds a slow destination's stall; drops are counted") {
    import graft.influxql.Subscriptions
    val root = java.nio.file.Files.createTempDirectory("subs_cap").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    cat.run("CREATE DATABASE tele")
    cat.run("CREATE SUBSCRIPTION slow ON tele.autogen DESTINATIONS ALL 'slow/x'")
    val batch = (0 until 50).map(i => ("d", "m", i.toLong, i.toDouble))
      .toDF("device", "transducer", "ts_us", "value")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val before = graft.streaming.MqttBus.size
    val dropsBefore = Subscriptions.droppedRows.get()
    // each publish simulates a 100 ms subscriber: uncapped, this batch
    // would hold its task 5 s; the cap bounds it to 3 publishes (count
    // through the bus — executor-side counters don't survive closure
    // serialization, the bus is the JVM-global witness)
    Subscriptions.fanOut(batch, "tele", root,
      publishFactory = () => (dest, payload) => {
        Thread.sleep(100)
        graft.streaming.MqttBus.publish(s"$tag/$dest", payload)
      },
      maxRowsPerBatch = Some(3))
    val published = graft.streaming.MqttBus
      .slice(before, graft.streaming.MqttBus.size)
      .count(_._1.startsWith(s"$tag/"))
    assert(published == 3, s"cap must bound the fan-out, saw $published")
    assert(Subscriptions.droppedRows.get() - dropsBefore == 47,
      "the excess is counted, never silently vanished")
    // the cap forwards the OLDEST rows (stable ordered subset, never an
    // arbitrary limit): ts 0,1,2 of the 0..49 batch
    val lines = graft.streaming.MqttBus
      .slice(before, graft.streaming.MqttBus.size)
      .filter(_._1.startsWith(s"$tag/")).map(m => new String(m._2, "UTF-8")).toSet
    assert(lines == Set("m,device=d value=0.0 0", "m,device=d value=1.0 1000",
      "m,device=d value=2.0 2000"), lines)
    // the gauge is OPERATOR-visible from the query surface, scoped to this
    // deployment's (root, db): SHOW SUBSCRIPTIONS carries a dropped
    // column, SHOW STATS a sub_dropped counter
    val subRow = cat.run("SHOW SUBSCRIPTIONS")
      .as[(String, String, String, String, String, Long)].collect()
      .find(_._3 == "slow").get
    assert(subRow._6 == 47L, s"SHOW SUBSCRIPTIONS dropped gauge: $subRow")
    val statsRow = cat.run("SHOW STATS")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .find(_._1 == "tele").get
    assert(statsRow._6 == 47L, s"SHOW STATS sub_dropped gauge: $statsRow")
    // the scoped gauge keys on the NORMALIZED root: a trailing slash or a
    // redundant path segment is the same deployment, not a fresh counter
    assert(Subscriptions.droppedFor(root + "/", "tele") == 47L,
      "trailing-slash spelling must share the deployment's counter")
    assert(Subscriptions.droppedFor(root + "/./", "tele") == 47L,
      "dot-segment spelling must share the deployment's counter")
  }

  test("continuous-query registry: CREATE validates + persists, SHOW lists, startAll runs, DROP removes") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("cqreg").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    val ddl1 = "CREATE CONTINUOUS QUERY cq1 ON db BEGIN SELECT mean(value) AS m INTO agg FROM m GROUP BY time(10u) END"
    val ddl2 = "CREATE CONTINUOUS QUERY cq2 ON db BEGIN SELECT count(value) AS c INTO agg2 FROM m GROUP BY time(10u) END"
    val shown = cat.run(ddl1).as[(String, String, String)].collect().toSeq
    assert(shown == Seq(("db", "cq1", ddl1)))
    cat.run(ddl2)
    assert(cat.run("SHOW CONTINUOUS QUERIES").as[(String, String, String)]
      .collect().toSeq.map(_._2) == Seq("cq1", "cq2"))
    // duplicates and un-startable definitions fail AT CREATE
    assert(intercept[IllegalArgumentException](cat.run(ddl1))
      .getMessage.contains("exists"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY bad ON db BEGIN SELECT mean(value) FROM m GROUP BY time(10u) END"))
      .getMessage.contains("INTO"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY bad ON db BEGIN SELECT mean(value) INTO t FROM m END"))
      .getMessage.contains("time"))
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY x ON nodb BEGIN SELECT mean(value) INTO t FROM m GROUP BY time(10u) END"))
      .getMessage.contains("not found"))
    // RESAMPLE validates at CREATE: FOR must cover the GROUP BY interval
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY bad ON db RESAMPLE FOR 5u BEGIN SELECT mean(value) INTO t FROM m GROUP BY time(10u) END"))
      .getMessage.contains("at least the GROUP BY"))
    val ddlRs = "CREATE CONTINUOUS QUERY cq3 ON db RESAMPLE EVERY 1h FOR 20u BEGIN SELECT max(value) AS mx INTO agg3 FROM m GROUP BY time(10u) END"
    cat.run(ddlRs)
    assert(cat.run("SHOW CONTINUOUS QUERIES").as[(String, String, String)]
      .collect().toSeq.map(_._2) == Seq("cq1", "cq2", "cq3"))
    cat.run("DROP CONTINUOUS QUERY cq3 ON db")
    // startAll: every registered CQ becomes its running stream
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val handles = graft.influxql.ContinuousQueries.startAll(spark, root, "db",
      points, lateness = "0 seconds",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    assert(handles.map(_._1) == Seq("cq1", "cq2"))
    try {
      in.addData(
        ("a", "m", 1L, 1.0), ("a", "m", 5L, 3.0), ("a", "m", 15L, 10.0),
        ("a", "m", 1000000L, 0.0)) // sentinel: closes every real bucket
      handles.foreach(_._2.processAllAvailable())
    } finally handles.foreach(_._2.stop())
    val agg = new graft.storage.TxLogTable(spark, s"$root/db/agg").read()
      .select("time", "m").as[(Long, Double)].collect().toMap
    assert(agg == Map(0L -> 2.0, 10L -> 10.0))
    val agg2 = new graft.storage.TxLogTable(spark, s"$root/db/agg2").read()
      .select("time", "c").as[(Long, Long)].collect().toMap
    assert(agg2 == Map(0L -> 2L, 10L -> 1L))
    // DROP removes exactly one definition; a missing one fails loudly
    cat.run("DROP CONTINUOUS QUERY cq1 ON db")
    assert(cat.run("SHOW CONTINUOUS QUERIES").as[(String, String, String)]
      .collect().toSeq.map(_._2) == Seq("cq2"))
    assert(intercept[IllegalArgumentException](
      cat.run("DROP CONTINUOUS QUERY cq1 ON db")).getMessage.contains("not found"))
  }

  test("CQ targets have exactly one writer: external INTO refuses, DDL gates hold") {
    val root = java.nio.file.Files.createTempDirectory("cqsole").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    cat.run("CREATE CONTINUOUS QUERY cq1 ON db BEGIN SELECT mean(value) AS m INTO agg FROM m GROUP BY time(10u) END")
    // seed some raw points so the INTO statements below have a plan
    import spark.implicits._
    cat.writePoints("db", Seq(("a", "m", 1L, 1.0), ("a", "m", 5L, 3.0))
      .toDF("device", "transducer", "ts_us", "value"))
    // a manual SELECT ... INTO the CQ's target would break the fill
    // frontier's dense-grid invariant — refused loudly, nothing committed
    assert(intercept[IllegalArgumentException](
      cat.run("SELECT mean(value) AS m INTO agg FROM m GROUP BY time(10u)"))
      .getMessage.contains("continuous query target"))
    assert(new graft.storage.TxLogTable(spark, s"$root/db/agg").version.isEmpty,
      "the refused INTO must not have committed anything")
    // ...while an INTO on a free table still works
    cat.run("SELECT mean(value) AS m INTO free FROM m GROUP BY time(10u)")
    assert(new graft.storage.TxLogTable(spark, s"$root/db/free").read().count() > 0)
    // a CQ can never claim the raw points table (the write faces own it)
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY bad ON db BEGIN SELECT mean(value) AS m INTO points FROM m GROUP BY time(10u) END"))
      .getMessage.contains("points"))
    // ...nor may a second CQ share the first one's target
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY cq2 ON db BEGIN SELECT count(value) AS c INTO agg FROM m GROUP BY time(10u) END"))
      .getMessage.contains("exactly one writer"))
    // top/bottom return points, not bucket aggregates — loud at CREATE
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY tb ON db BEGIN SELECT top(value, 2) INTO t FROM m GROUP BY time(10u) END"))
      .getMessage.contains("top()/bottom()"))
    // selector companions (r17) are point-shaped too — the fill frontier's
    // dense-grid contract has no cell for them, refused at CREATE
    assert(intercept[IllegalArgumentException](cat.run(
      "CREATE CONTINUOUS QUERY sc ON db BEGIN SELECT max(value), device INTO t FROM m GROUP BY time(10u) END"))
      .getMessage.contains("companion"))
    // DROP releases the target for external writers again
    cat.run("DROP CONTINUOUS QUERY cq1 ON db")
    cat.run("SELECT mean(value) AS m INTO agg FROM m GROUP BY time(10u)")
    assert(new graft.storage.TxLogTable(spark, s"$root/db/agg").read().count() > 0)
    // ...but a target a CQ actually MAINTAINED (granular merges marked it
    // range-clustered) refuses INTO as a clean statement error even after
    // the CQ is dropped: an append would duplicate (time, tags) keys
    val ran = new graft.storage.TxLogTable(spark, s"$root/db/ran")
    ran.merge(Seq((0L, 1.0)).toDF("time", "m"), Seq("time"))
    ran.merge(Seq((10L, 2.0)).toDF("time", "m"), Seq("time"), rangeCol = Some("time"))
    assert(intercept[IllegalArgumentException](
      cat.run("SELECT mean(value) AS m INTO ran FROM m GROUP BY time(10u)"))
      .getMessage.contains("merge-maintained"))
  }

  test("user management: CREATE/DROP USER, GRANT/REVOKE lattice, SHOW USERS/GRANTS") {
    val root = java.nio.file.Files.createTempDirectory("influxusers").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    def users = cat.run("SHOW USERS").as[(String, Boolean)].collect().toSeq
    def grants(u: String) = cat.run(s"SHOW GRANTS FOR $u")
      .as[(String, String)].collect().toSeq
    assert(users.isEmpty)
    cat.run("CREATE USER admin WITH PASSWORD 'root_pw' WITH ALL PRIVILEGES")
    cat.run("CREATE USER svc WITH PASSWORD 'svc_pw'")
    assert(users == Seq(("admin", true), ("svc", false)))
    // duplicate create / missing-user operations fail loudly
    assert(intercept[IllegalArgumentException](
      cat.run("CREATE USER svc WITH PASSWORD 'x'")).getMessage.contains("exists"))
    assert(intercept[IllegalArgumentException](
      cat.run("DROP USER ghost")).getMessage.contains("not found"))
    assert(intercept[IllegalArgumentException](
      cat.run("SHOW GRANTS FOR ghost")).getMessage.contains("not found"))
    // GRANT replaces the held privilege; REVOKE walks the 1.x lattice
    cat.run("GRANT READ ON db TO svc")
    assert(grants("svc") == Seq(("db", "READ")))
    cat.run("GRANT ALL ON db TO svc")
    assert(grants("svc") == Seq(("db", "ALL PRIVILEGES")))
    cat.run("REVOKE WRITE ON db FROM svc")
    assert(grants("svc") == Seq(("db", "READ")))
    cat.run("REVOKE WRITE ON db FROM svc") // not held: no-op
    assert(grants("svc") == Seq(("db", "READ")))
    cat.run("REVOKE READ ON db FROM svc")
    assert(grants("svc").isEmpty)
    // admin flag toggles via the no-ON form
    cat.run("GRANT ALL PRIVILEGES TO svc")
    assert(users == Seq(("admin", true), ("svc", true)))
    cat.run("REVOKE ALL PRIVILEGES FROM svc")
    assert(users == Seq(("admin", true), ("svc", false)))
    assert(intercept[IllegalArgumentException](
      cat.run("GRANT READ TO svc")).getMessage.contains("ALL"))
    // authentication: password checks, SET PASSWORD rotates
    import graft.influxql.InfluxAuth
    assert(InfluxAuth.authenticate(spark, root, "svc", "svc_pw"))
    assert(!InfluxAuth.authenticate(spark, root, "svc", "wrong"))
    cat.run("SET PASSWORD FOR svc = 'new_pw'")
    assert(InfluxAuth.authenticate(spark, root, "svc", "new_pw"))
    assert(!InfluxAuth.authenticate(spark, root, "svc", "svc_pw"))
    // DROP USER cascades grants
    cat.run("GRANT READ ON db TO svc")
    cat.run("DROP USER svc")
    assert(users == Seq(("admin", true)))
    cat.run("CREATE USER svc WITH PASSWORD 'svc_pw'")
    assert(grants("svc").isEmpty, "recreated user must not inherit old grants")
  }

  test("runAs enforces the authorization matrix per statement class") {
    val root = java.nio.file.Files.createTempDirectory("influxauthz").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db")
    cat.run("CREATE DATABASE db")
    cat.writePoints("db", pts(("a", "temp", 10L, 1.0), ("b", "temp", 20L, 2.0)))
    cat.run("CREATE USER admin WITH PASSWORD 'root_pw' WITH ALL PRIVILEGES")
    cat.run("CREATE USER reader WITH PASSWORD 'r_pw'")
    cat.run("CREATE USER writer WITH PASSWORD 'w_pw'")
    cat.run("GRANT READ ON db TO reader")
    cat.run("GRANT ALL ON db TO writer")
    def denied(u: String, pw: String, stmt: String): String =
      intercept[IllegalArgumentException](cat.runAs(u, pw, stmt)).getMessage
    // bad credentials never reach authorization
    assert(denied("reader", "wrong", "SELECT value FROM temp")
      .contains("authentication failed"))
    assert(denied("ghost", "x", "SHOW DATABASES").contains("authentication failed"))
    // READ grants SELECT + SHOW on the db, nothing destructive
    assert(cat.runAs("reader", "r_pw", "SELECT sum(value) FROM temp")
      .as[Double].collect().toSeq == Seq(3.0))
    assert(cat.runAs("reader", "r_pw", "SHOW MEASUREMENTS")
      .as[String].collect().toSeq == Seq("temp"))
    assert(denied("reader", "r_pw", "DELETE FROM temp WHERE device = 'a'")
      .contains("WRITE"))
    assert(denied("reader", "r_pw", "DROP SERIES FROM temp").contains("WRITE"))
    assert(denied("reader", "r_pw",
      "SELECT mean(value) INTO agg FROM temp GROUP BY time(10u)").contains("WRITE"))
    assert(denied("reader", "r_pw", "CREATE DATABASE other").contains("admin"))
    assert(denied("reader", "r_pw", "SHOW USERS").contains("admin"))
    // open metadata for any authenticated user
    assert(cat.runAs("reader", "r_pw", "SHOW DATABASES").collect().nonEmpty)
    assert(cat.runAs("reader", "r_pw", "SHOW QUERIES").collect().isEmpty)
    // WRITE covers the data-management statements on the db
    cat.runAs("writer", "w_pw", "DELETE FROM temp WHERE device = 'a'")
    assert(cat.run("SELECT count(value) FROM temp").as[Long].collect().toSeq == Seq(1L))
    assert(denied("writer", "w_pw", "DROP DATABASE db").contains("admin"))
    // operational monitoring + shard/subscription management: admin-only
    assert(denied("reader", "r_pw", "SHOW SHARDS").contains("admin"))
    assert(denied("reader", "r_pw", "SHOW STATS").contains("admin"))
    assert(denied("writer", "w_pw", "SHOW DIAGNOSTICS").contains("admin"))
    assert(denied("writer", "w_pw", "DROP SHARD 1").contains("admin"))
    assert(denied("reader", "r_pw",
      "CREATE SUBSCRIPTION s ON db.autogen DESTINATIONS ALL 'x'").contains("admin"))
    assert(denied("reader", "r_pw", "SHOW SUBSCRIPTIONS").contains("admin"))
    // statement-family routing is by PREFIX: a SELECT whose measurement or
    // string literal merely mentions "subscription" (or "retention policy")
    // is a plain READ, never subscription/retention DDL demanding admin
    cat.writePoints("db", pts(("a", "subscription_totals", 40L, 4.0)))
    assert(cat.runAs("reader", "r_pw", "SELECT value FROM subscription_totals")
      .select("value").as[Double].collect().toSeq == Seq(4.0))
    assert(cat.runAs("reader", "r_pw",
      "SELECT count(value) FROM temp WHERE device != 'the subscription box'")
      .as[Long].collect().toSeq == Seq(1L))
    assert(cat.runAs("reader", "r_pw",
      "SELECT count(value) FROM temp WHERE device != 'retention policy'")
      .as[Long].collect().toSeq == Seq(1L))
    // admin passes everything
    assert(cat.runAs("admin", "root_pw", "SHOW USERS").collect().length == 3)
    assert(cat.runAs("admin", "root_pw", "SHOW SHARDS").collect().nonEmpty)
    assert(cat.runAs("admin", "root_pw", "SHOW DIAGNOSTICS").collect().nonEmpty)
    cat.runAs("admin", "root_pw", "CREATE DATABASE other")
    assert(cat.runAs("admin", "root_pw", "SHOW DATABASES")
      .as[String].collect().toSet == Set("db", "other"))
  }

  test("planner: global (tagless) aggregate and whole-query limit") {
    val df = pts(("a", "m", 1L, 1.0), ("b", "m", 2L, 3.0))
    val got = InfluxQL.run(df, "SELECT mean(value), count(value) FROM m")
      .as[(Double, Long)].collect().toSeq
    assert(got == Seq((2.0, 2L)))
  }

  test("planner: a global aggregate over zero matching points answers EMPTY, not one 0-row") {
    // InfluxDB returns no rows when nothing matches — found by the
    // 5x-scale seeded db-DDL differential (SELECT count(value) against a
    // pointless measurement)
    val df = pts(("a", "m", 1L, 1.0))
    assert(InfluxQL.run(df, "SELECT count(value) FROM nope").collect().isEmpty)
    assert(InfluxQL.run(df, "SELECT mean(value), sum(value) FROM m WHERE time > 99")
      .collect().isEmpty)
    assert(InfluxQL.run(df, "SELECT count(value) + 1 FROM nope").collect().isEmpty)
    // ...and a matching point still answers exactly one row
    assert(InfluxQL.run(df, "SELECT count(value) FROM m").as[Long].collect().toSeq
      == Seq(1L))
    // mode's two-level aggregation follows the same rule (global form
    // groups by a dropped constant, so zero points yield zero groups)
    assert(InfluxQL.run(df, "SELECT mode(value) FROM nope").collect().isEmpty)
    assert(InfluxQL.run(df, "SELECT mode(value), count(value) FROM nope").collect().isEmpty)
    assert(InfluxQL.run(df, "SELECT mode(value) FROM m").as[Double].collect().toSeq
      == Seq(1.0))
  }

  test("planner: integral() trapezoids per series, default 1s unit and explicit unit") {
    val df = pts(("a", "m", 0L, 2.0), ("a", "m", 1000000L, 4.0), ("a", "m", 3000000L, 1.0))
    // segments: (2+4)/2 * 1s = 3.0 ; (4+1)/2 * 2s = 5.0
    assert(InfluxQL.run(df, "SELECT integral(value) FROM m").as[Double].collect().toSeq
      == Seq(8.0))
    // unit 2s halves the time factor: 1.5 + 2.5
    assert(InfluxQL.run(df, "SELECT integral(value, 2s) FROM m").as[Double].collect().toSeq
      == Seq(4.0))
    // a single point has no segment: 0.0, not null and not empty
    assert(InfluxQL.run(df, "SELECT integral(value) FROM m WHERE time >= 3000000")
      .as[Double].collect().toSeq == Seq(0.0))
    // zero matching points answer EMPTY like any global aggregate
    assert(InfluxQL.run(df, "SELECT integral(value) FROM m WHERE time > 9000000")
      .collect().isEmpty)
  }

  test("planner: integral() per tag group pairs each series' own points") {
    val df = pts(
      ("a", "m", 0L, 1.0), ("a", "m", 2000000L, 3.0),   // (1+3)/2 * 2s = 4.0
      ("b", "m", 0L, 10.0), ("b", "m", 1000000L, 10.0)) // (10+10)/2 * 1s = 10.0
    val got = InfluxQL.run(df, "SELECT integral(value) FROM m GROUP BY device")
      .as[(String, Double)].collect().toSet
    assert(got == Set(("a", 4.0), ("b", 10.0)))
  }

  test("planner: integral() under GROUP BY time keeps only whole-bucket segments") {
    val df = pts(("a", "m", 0L, 2.0), ("a", "m", 1000000L, 4.0), ("a", "m", 3000000L, 1.0))
    // bucket 0s holds ts 0 and 1s (segment 3.0); the 1s->3s segment crosses
    // into bucket 2s and drops; bucket 2s has one point -> 0.0
    val got = InfluxQL.run(df,
      "SELECT integral(value) FROM m WHERE time >= 0 AND time < 4000000 GROUP BY time(2s) FILL(none)")
      .as[(Long, Double)].collect().toSet
    assert(got == Set((0L, 3.0), (2000000L, 0.0)))
    // mixed with a hash aggregate: integral joins back per bucket
    val mixed = InfluxQL.run(df,
      "SELECT count(value), integral(value) FROM m WHERE time >= 0 AND time < 4000000 GROUP BY time(2s) FILL(none)")
      .as[(Long, Long, Double)].collect().toSet
    assert(mixed == Set((0L, 2L, 3.0), (2000000L, 1L, 0.0)))
  }

  test("planner: integral() composes with the expression engine and transforms") {
    val df = pts(("a", "m", 0L, 2.0), ("a", "m", 1000000L, 4.0))
    assert(InfluxQL.run(df, "SELECT integral(value) * 2 + 1 AS x FROM m")
      .as[Double].collect().toSeq == Seq(7.0))
    // derivative of the bucketed integral: one bucket only, so the
    // derivative is null at the first bucket (the pinned transform rule:
    // the row stays, the value is null)
    assert(InfluxQL.run(df,
      "SELECT derivative(integral(value), 1s) FROM m WHERE time >= 0 AND time < 2000000 GROUP BY time(2s)")
      .as[(Long, Option[Double])].collect().toSeq == Seq((0L, None)))
  }

  test("parser: integral unit must be a duration; CQ rejects integral") {
    def bad(s: String): String =
      intercept[IllegalArgumentException](parse(s)).getMessage
    assert(bad("SELECT integral(value, 5) FROM m").contains("duration"))
    val cqErr = intercept[IllegalArgumentException] {
      InfluxQL.runContinuous(
        spark.readStream.format("rate").load()
          .selectExpr("'a' AS device", "'m' AS transducer",
            "unix_micros(timestamp) AS ts_us", "CAST(value AS DOUBLE) AS value"),
        "SELECT integral(value) INTO tgt FROM m GROUP BY time(1m)", "10 seconds")
    }
    assert(cqErr.getMessage.contains("integral"))
  }

  test("database backup/restore: one consistent cut, full round-trip, loud refusals") {
    val root = java.nio.file.Files.createTempDirectory("dbbak_src").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "tele")
    cat.run("CREATE DATABASE tele")
    cat.run("CREATE DATABASE other") // must survive restores elsewhere untouched
    cat.run("CREATE RETENTION POLICY keep30 ON tele DURATION 30d DEFAULT")
    cat.run("CREATE USER boss WITH PASSWORD 'bpw' WITH ALL PRIVILEGES")
    cat.run("CREATE USER viewer WITH PASSWORD 'vpw'")
    cat.run("GRANT READ ON tele TO viewer")
    cat.run("CREATE SUBSCRIPTION sub0 ON tele.autogen DESTINATIONS ALL 'mq/s0', 'mq/s1'")
    cat.run("CREATE CONTINUOUS QUERY cq1 ON tele BEGIN SELECT mean(value) AS m " +
      "INTO agg FROM temp GROUP BY time(10m) END")
    cat.writePoints("tele", pts(("a", "temp", 1000000L, 1.5), ("b", "temp", 2000000L, 2.5)))
    // field types register through line protocol
    cat.writeLineProtocol("tele", Seq("weather,city=sf temp=21.5,ok=true 1000000000").toDS())
    // an INTO/CQ target is just another table under the db
    new graft.storage.TxLogTable(spark, s"$root/tele/agg")
      .append(Seq((0L, 3.0)).toDF("time", "m"))

    val bak = java.nio.file.Files.createTempDirectory("dbbak").toString + "/set"
    cat.exportDatabase("tele", bak)
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(s"$bak/db_manifest.json")))

    // full round-trip into a fresh root
    val root2 = java.nio.file.Files.createTempDirectory("dbbak_dst").toString
    val cat2 = new graft.influxql.InfluxCatalog(spark, root2, defaultDb = "tele")
    assert(cat2.importDatabase(bak) == "tele")
    assert(cat2.run("SHOW DATABASES").as[String].collect().toSeq == Seq("tele"))
    def allPoints(c: graft.influxql.InfluxCatalog) =
      c.points("tele").collect().map(_.toString).toSet
    assert(allPoints(cat2) == allPoints(cat))
    assert(cat2.run("SHOW RETENTION POLICIES ON tele").collect().toSeq ==
      cat.run("SHOW RETENTION POLICIES ON tele").collect().toSeq)
    assert(cat2.run("SHOW SUBSCRIPTIONS").collect().toSeq ==
      cat.run("SHOW SUBSCRIPTIONS").collect().toSeq)
    assert(cat2.run("SHOW CONTINUOUS QUERIES").collect().toSeq ==
      cat.run("SHOW CONTINUOUS QUERIES").collect().toSeq)
    assert(cat2.fieldTypes("tele") == cat.fieldTypes("tele") && cat2.fieldTypes("tele").nonEmpty)
    assert(new graft.storage.TxLogTable(spark, s"$root2/tele/agg")
      .read().as[(Long, Double)].collect().toSeq == Seq((0L, 3.0)))
    // db-scoped grants travel; global users do NOT (influxd's split)
    assert(new graft.storage.TxLogTable(spark, s"$root2/_grants")
      .read().as[(String, String, String)].collect().toSet ==
      Set(("viewer", "tele", "READ")))
    assert(new graft.storage.TxLogTable(spark, s"$root2/_users").version.isEmpty)

    // restoring over a live database refuses loudly
    val fence = intercept[IllegalStateException](cat.importDatabase(bak))
    assert(fence.getMessage.contains("fence conflict"), fence.getMessage)

    // concurrent-append torture: a writer races the export; the restored
    // database is EXACTLY the pinned cut, never a mid-commit mix
    val bak2 = java.nio.file.Files.createTempDirectory("dbbak2").toString + "/set"
    @volatile var stop = false
    val writer = new Thread(() => {
      var i = 0
      while (!stop && i < 200) {
        cat.writePoints("tele", pts(("w", "temp", 10000000L + i * 1000L, i.toDouble)))
        i += 1
      }
    })
    writer.start()
    try cat.exportDatabase("tele", bak2) finally { stop = true; writer.join() }
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$bak2/db_manifest.json")), "UTF-8")
    val pinnedPoints = """\["points",(\d+)\]""".r.findFirstMatchIn(m2).get.group(1).toLong
    val root3 = java.nio.file.Files.createTempDirectory("dbbak_dst2").toString
    val cat3 = new graft.influxql.InfluxCatalog(spark, root3, defaultDb = "tele")
    cat3.importDatabase(bak2)
    assert(cat3.points("tele").collect().map(_.toString).toSet ==
      cat.pointsTable("tele").readVersion(pinnedPoints).collect().map(_.toString).toSet,
      "restored points are not the pinned snapshot")

    // a corrupt table file refuses BEFORE any byte of ANY table lands
    val victim = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$bak2/tables/agg"))
      try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet")).head
      finally w.close()
    }
    java.nio.file.Files.write(victim, Array[Byte](9, 9))
    val root4 = java.nio.file.Files.createTempDirectory("dbbak_dst3").toString
    val cat4 = new graft.influxql.InfluxCatalog(spark, root4, defaultDb = "tele")
    assert(intercept[IllegalArgumentException](cat4.importDatabase(bak2))
      .getMessage.contains("corrupt backup"))
    assert(cat4.run("SHOW DATABASES").as[String].collect().isEmpty,
      "a refused restore must not list the database")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root4/tele")),
      "a refused restore must not leave a partial tree")

    // a tampered manifest with a path-traversal table name must refuse
    // BEFORE any verification or mutation: '../../x' would otherwise
    // splice straight into filesystem paths and restore OUTSIDE the root
    val bak3 = java.nio.file.Files.createTempDirectory("dbbak3").toString + "/set"
    cat.exportDatabase("tele", bak3)
    val mp = java.nio.file.Paths.get(s"$bak3/db_manifest.json")
    val tampered = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replace("""["agg",""", """["../../agg",""")
    java.nio.file.Files.write(mp, tampered.getBytes("UTF-8"))
    val root5 = java.nio.file.Files.createTempDirectory("dbbak_dst4").toString
    val cat5 = new graft.influxql.InfluxCatalog(spark, root5, defaultDb = "tele")
    assert(intercept[IllegalArgumentException](cat5.importDatabase(bak3))
      .getMessage.contains("unsafe table name"))
    assert(cat5.run("SHOW DATABASES").as[String].collect().isEmpty &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root5/tele")),
      "a refused tampered restore must leave nothing behind")
  }

  test("instance backup/restore: all databases + global users, loud fences") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("instbak_src").toString
    val cat = new graft.influxql.InfluxCatalog(spark, root, defaultDb = "db1")
    cat.run("CREATE DATABASE db1")
    cat.run("CREATE DATABASE db2")
    cat.run("CREATE USER boss WITH PASSWORD 'bpw' WITH ALL PRIVILEGES")
    cat.run("CREATE USER viewer WITH PASSWORD 'vpw'")
    cat.run("GRANT READ ON db2 TO viewer")
    cat.run("CREATE RETENTION POLICY keep7 ON db1 DURATION 7d DEFAULT")
    cat.writePoints("db1", pts(("a", "temp", 1000000L, 1.5)))
    cat.writePoints("db2", pts(("b", "hum", 2000000L, 2.5)))

    // concurrent-append torture on ONE member while the instance exports:
    // the restored member must be EXACTLY its pinned cut
    val bak = Files.createTempDirectory("instbak").toString + "/set"
    @volatile var stop = false
    val writer = new Thread(() => {
      var i = 0
      while (!stop && i < 200) {
        cat.writePoints("db1", pts(("w", "temp", 10000000L + i * 1000L, i.toDouble)))
        i += 1
      }
    })
    writer.start()
    try cat.exportInstance(bak) finally { stop = true; writer.join() }
    assert(Files.isRegularFile(Paths.get(s"$bak/instance_manifest.json")))
    val m1 = new String(Files.readAllBytes(
      Paths.get(s"$bak/dbs/db1/db_manifest.json")), "UTF-8")
    val pinnedPoints = """\["points",(\d+)\]""".r.findFirstMatchIn(m1).get.group(1).toLong

    // round-trip into a fresh root through the SHELL's sniffing restore
    val root2 = Files.createTempDirectory("instbak_dst").toString
    val cat2 = new graft.influxql.InfluxCatalog(spark, root2, defaultDb = "db1")
    val out = InfluxShell.process(cat2, s"restore $bak")
    assert(out.contains("restored instance"), out)
    assert(cat2.run("SHOW DATABASES").as[String].collect().toSeq == Seq("db1", "db2"))
    assert(cat2.points("db1").collect().map(_.toString).toSet ==
      cat.pointsTable("db1").readVersion(pinnedPoints).collect().map(_.toString).toSet,
      "restored member is not its pinned cut")
    assert(cat2.points("db2").as[(String, String, Long, Double)].collect().toSeq ==
      Seq(("b", "hum", 2000000L, 2.5)))
    // GLOBAL users travel with the instance set (unlike per-db backups),
    // byte-identical including password hashes — auth works immediately
    assert(new graft.storage.TxLogTable(spark, s"$root2/_users")
      .read().collect().map(_.toString).toSet ==
      new graft.storage.TxLogTable(spark, s"$root/_users")
        .read().collect().map(_.toString).toSet)
    // the db-scoped grant rode db2's member set: viewer reads db2, not db1
    new graft.influxql.InfluxCatalog(spark, root2, defaultDb = "db2")
      .authorize("viewer", "vpw", "SELECT value FROM hum")
    assert(intercept[IllegalArgumentException](
      cat2.authorize("viewer", "vpw", "SELECT value FROM temp"))
      .getMessage.contains("not authorized"))
    assert(cat2.run("SHOW RETENTION POLICIES ON db1").collect().toSeq ==
      cat.run("SHOW RETENTION POLICIES ON db1").collect().toSeq)

    // member fence: ANY pre-existing member database refuses the whole
    // restore BEFORE any byte lands (db1 verifies clean first — it must
    // still not land)
    val root3 = Files.createTempDirectory("instbak_dst2").toString
    val cat3 = new graft.influxql.InfluxCatalog(spark, root3, defaultDb = "db2")
    cat3.run("CREATE DATABASE db2")
    assert(intercept[IllegalStateException](cat3.importInstance(bak))
      .getMessage.contains("fence conflict"))
    assert(cat3.run("SHOW DATABASES").as[String].collect().toSeq == Seq("db2") &&
      !Files.exists(Paths.get(s"$root3/db1")),
      "a refused instance restore must not land any member")

    // users fence: an instance that already defines users refuses a
    // users-carrying restore before any member lands
    val root4 = Files.createTempDirectory("instbak_dst3").toString
    val cat4 = new graft.influxql.InfluxCatalog(spark, root4, defaultDb = "db1")
    cat4.run("CREATE USER squatter WITH PASSWORD 'spw'")
    assert(intercept[IllegalStateException](cat4.importInstance(bak))
      .getMessage.contains("users already defined"))
    assert(cat4.run("SHOW DATABASES").as[String].collect().isEmpty,
      "a users-fence refusal must not land any member")

    // the shell's two-arg backup form writes an instance set
    val bak2 = Files.createTempDirectory("instbak2").toString + "/set"
    assert(InfluxShell.process(cat, s"backup $bak2").contains("backed up instance"))
    assert(Files.isRegularFile(Paths.get(s"$bak2/instance_manifest.json")))

    // a tampered member list with a non-identifier name refuses before
    // any path splice
    val mp = Paths.get(s"$bak2/instance_manifest.json")
    val tampered = new String(Files.readAllBytes(mp), "UTF-8")
      .replace(""""db1"""", """"../db1"""")
    Files.write(mp, tampered.getBytes("UTF-8"))
    val root5 = Files.createTempDirectory("instbak_dst4").toString
    val cat5 = new graft.influxql.InfluxCatalog(spark, root5, defaultDb = "db1")
    assert(intercept[IllegalArgumentException](cat5.importInstance(bak2))
      .getMessage.contains("invalid database name"))
    assert(cat5.run("SHOW DATABASES").as[String].collect().isEmpty)
  }
}
