package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}

/** Writes the catalogue subset's results for the DuckDB oracle
  * (`graft.Verify` restricted to the subset, with an `oracle_sql.json` of
  * the subset only) and prints each entry's digest, `name rows hash`, twice
  * computed to refuse a result that is not deterministic.
  *
  *   graftbench.MakeDigest --tables DIR --out VERIFY_DIR
  */
object MakeDigest {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val tables = opts("tables")
    val out = opts("out")
    graft.Verify.main(Array(tables, out) ++ QueryCatalog.Subset)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => QueryCatalog.Subset.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle.asJava))
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession.builder("graftbench-digest", cores).master(s"local[$cores]").getOrCreate()
    GraftSession.prepare(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      println("# name rows order-independent-row-hash (perfbench/run.py --make-digest)")
      QueryCatalog.Subset.sorted.foreach { q =>
        val a = QueryCatalog.digest(SparkEntry.queries(q)(spark, tables))
        spark.catalog.clearCache()
        val b = QueryCatalog.digest(SparkEntry.queries(q)(spark, tables))
        spark.catalog.clearCache()
        require(a == b, s"$q: result digest is not deterministic ($a vs $b)")
        println(s"$q ${a._1} ${a._2}")
      }
    } finally spark.stop()
  }
}
