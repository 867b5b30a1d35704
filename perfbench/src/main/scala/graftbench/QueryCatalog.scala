package graftbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `query_catalog`: the oracle-gated product surface. A fixed subset of
  * `SparkEntry.queries` runs from one driver thread over the generated
  * sf0.1 tables; each entry is first constructed, then written to a noop
  * sink, with the cache cleared between queries. The seed permutes the
  * query order of every pass. HTTP, streaming and TxLogTable do no work.
  */
object QueryCatalog extends Workload {
  type Q = (SparkSession, String) => DataFrame

  /** The six families, by the module that declares each entry. */
  lazy val families: Seq[(String, Map[String, Q])] = {
    val others = Seq(
      "relational" -> graft.queries.RelationalQueries.queries,
      "pipeline" -> graft.queries.PipelineQueries.queries,
      "extra" -> graft.queries.ExtraQueries.queries,
      "curation" -> graft.queries.CurationQueries.queries,
      "influxql" -> graft.queries.InfluxQLQueries.queries)
    ("core" -> (SparkEntry.queries -- others.flatMap(_._2.keys))) +: others
  }
  lazy val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  /** The measured subset: every family, and two of the heavies the
    * roadmap names for firing most of their jobs while the frame is built.
    * A pass over all 162 entries takes about two minutes on four cores and
    * the six named heavies alone thirteen seconds; a run has room for one
    * warm pass of about nine seconds (the first, cold pass of the output
    * check costs three warm ones). Three light entries and four heavier ones put
    * the p80 on an entry that takes two seconds or more, where run-to-run
    * noise is a smaller share.
    */
  val Subset: Seq[String] = Seq(
    "q_ingest_narrow",                          // core
    "q_grouping_sets",                          // relational
    "q_ann_pq", "q_dedup_incremental",          // pipeline
    "q_zorder",                                 // extra
    "q_histogram",                              // curation
    "q_influxql_fill")                          // influxql

  val TailPct = 0.80

  def passOrder(seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(Subset)

  /** Inputs: the tables' bytes (fixed) and the seeded query order. */
  def inputs(seed: Long, tablesDir: Path): Iterator[String] =
    graft.Tables.names.iterator.map { t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(tablesDir.resolve(s"$t.parquet"))).map("%02x".format(_)).mkString
    } ++ (-1 until 4).iterator.flatMap(p => passOrder(seed, p))

  /** Row count and order-independent row hash of one result. */
  def digest(df: DataFrame): (Long, String) = {
    val row = df.select(count(lit(1)),
      sum(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
        .cast("decimal(38,0)"))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** The committed digests: `name rows hash` per line. */
  def readDigests(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, hash) = l.split("\\s+")
        n -> (rows.toLong, hash)
      }.toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = ctx.tablesDir.toString
    val all = SparkEntry.queries
    val want = readDigests(ctx.digestFile)

    // set-up: the output check pass doubles as warmup (codegen, footers)
    passOrder(ctx.seed, -1).foreach { q =>
      val outcome =
        try {
          val got = digest(all(q)(spark, dir))
          if (want.get(q).contains(got)) Right(()) else Left(s"digest $got, want ${want.get(q)}")
        } catch { case e: Exception => Left(e.toString) }
      r.check(outcome.isRight, s"$q: ${outcome.left.getOrElse("")}")
      spark.catalog.clearCache()
    }
    ctx.setupDone()

    val untraced = measure(ctx, 0)
    if (!ctx.trace) {
      val lat = untraced.flatMap(_.latMs.values)
      val walls = untraced.map(_.wallS)
      // the median of seven different entries is one entry's time, so it
      // jumps with that entry; the geometric mean weighs every entry alike
      ctx.e2e(Stats.geomean(lat), Stats.pct(lat, TailPct))
      r.put("catalog_wall_s", "s", Stats.median(walls))
      r.put("queries_per_s", "1/s", lat.size / walls.sum)
    } else {
      val probe = ctx.openTrace()
      val traced = measure(ctx, untraced.size)
      probe.close()
      val passes = traced.size.toDouble
      probe.report(r, passes)
      def spanS(name: String) = Trace.named(name).map(s => (s.endNs - s.startNs) / 1e9).sum / passes
      r.put("operators.construct_s", "s", spanS("operators.construct"))
      r.put("operators.execute_s", "s", spanS("spark.execute"))
      r.put("operators.eager_jobs", "count", probe.jobsEndingIn("operators.construct").size / passes)
      Main.Families.foreach { f =>
        r.put(s"queries.$f.wall_s", "s", spanS(s"queries.$f"))
        r.put(s"queries.$f.jobs", "count", probe.jobsUnder(s"queries.$f").size / passes)
      }
      r.put("trace.overhead_ratio", "ratio",
        Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)))
    }
  }

  final case class Pass(wallS: Double, latMs: Map[String, Double])

  /** Whole passes while the next is expected to end within `ctx.seconds`
    * (at least one).
    */
  private def measure(ctx: Ctx, firstPass: Int): Seq[Pass] = {
    val spark = ctx.spark
    val dir = ctx.tablesDir.toString
    val all = SparkEntry.queries
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val passes = Seq.newBuilder[Pass]
    var lastNs = 0L
    var p = firstPass
    do {
      val t0 = System.nanoTime()
      val lat = passOrder(ctx.seed, p).flatMap { q =>
        val req = s"$q#$p"
        val q0 = System.nanoTime()
        val err =
          try {
            Trace.span(s"queries.${familyOf(q)}", req) {
              val df = Trace.span("operators.construct", req)(all(q)(spark, dir))
              Trace.span("spark.execute", req)(df.write.format("noop").mode("overwrite").save())
            }
            None
          } catch { case e: Exception => Some(e.toString) }
        val ms = Stats.nowMs(q0)
        System.err.println(f"[graftbench] pass $p $q $ms%.0f ms")
        val ok = ctx.report.check(err.isEmpty, s"$q: ${err.getOrElse("")}")
        // the clear runs outside the query's own time: operators persist
        // internal frames that would otherwise tax later queries
        spark.catalog.clearCache()
        if (ok) Some(q -> ms) else None
      }.toMap
      lastNs = System.nanoTime() - t0
      passes += Pass(lastNs / 1e9, lat)
      p += 1
    } while (System.nanoTime() + lastNs <= deadline)
    passes.result()
  }
}
