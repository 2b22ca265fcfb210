package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes an sf1-equivalent dataset on DISK (round-16 verdict
  * item 7): each sf0.1 fact table replicated `mult`× with KEY REMAPS
  * (key + rep·10^8), so join/group cardinalities grow like real data
  * — distinct orders, customers, parts, docs and vectors all scale —
  * while the 5/25-row dims stay fixed (dims don't grow with volume).
  * Queries then run UNCHANGED through the real Bench path
  * (`SPARK_GRAFT_SF_DIR=<out> runMain graft.Bench --only …`), scans
  * and shuffles included — unlike the in-memory Profile* rehearsals,
  * this exercises the parquet read and file-partitioning behavior at
  * the target volume.
  *
  * Honest caveat, stated where the numbers land (BASELINE §round-16):
  * VALUE columns are copied verbatim, so content-similarity workloads
  * (near-dup, dedup stores) see every doc/vector `mult`× — a HARDER
  * workload than organic growth (maximal duplicate mass), so their
  * sweep numbers are upper bounds.
  *
  * `Test/runMain graft.MakeScaledData [mult] [sfDir] [outDir]`
  */
object MakeScaledData {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(Some(32), None, guards = false)
    val mult = args.lift(0).map(_.toInt).getOrElse(10)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse(s"${sys.props("user.dir")}/target/sf1x")
    val shift = 100000000L

    def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
      idCols.foldLeft(
        spark.range(mult).toDF("rep").crossJoin(df)) {
        case (d, c) => d.withColumn(c, col(c) + col("rep") * shift)
      }.drop("rep")

    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Nil, "nation" -> Nil, // fixed dims — copied verbatim
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    Tables.all.foreach { t =>
      val base = Tables.load(spark, dir, t)
      val keys = keyCols(t)
      val scaled = if (keys.isEmpty) base else repl(base, keys)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[make-scaled] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
