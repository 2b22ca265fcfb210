package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generators. Every column is a function of
  * `xxhash64(seed, salt, id)`, so the same seed and size always give
  * the same files, whatever the partitioning.
  */
object Gen {

  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000000L)) / 1000000.0

  /** Uniform integer in [lo, hi]. */
  private def ri(seed: Long, salt: Int, lo: Long, hi: Long): Column =
    (u(seed, salt) * (hi - lo + 1)).cast("long") + lo

  private def pick(vals: Seq[String], seed: Long, salt: Int): Column =
    element_at(array(vals.map(lit): _*), ri(seed, salt, 1, vals.size).cast("int"))

  private def day(base: String, seed: Long, salt: Int, span: Int): Column =
    date_add(to_date(lit(base)), ri(seed, salt, 0, span).cast("int"))
      .cast("timestamp_ntz")

  private def write(df: DataFrame, path: String, parts: Int): Unit =
    df.repartition(parts).write.mode("overwrite").parquet(path)

  /** TPC-H-shaped star schema (the columns the query library reads),
    * uniform value domains, `sf` = 1 would be 6M lineitem rows. Tables
    * land as `<dir>/<name>.parquet`. Returns row counts per table.
    */
  def tpch(spark: SparkSession, dir: String, sf: Double, seed: Long,
      parts: Int): Map[String, Long] = {
    import spark.implicits._
    val n = Map("customer" -> (150000 * sf).toLong,
      "supplier" -> (10000 * sf).toLong.max(10L),
      "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
      "lineitem" -> (6000000 * sf).toLong)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name"), s"$dir/region.parquet", 1)
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), s"$dir/nation.parquet", 1)
    def ids(t: String) = spark.range(0, n(t), 1, parts)
    def bal(salt: Int) = round(u(seed, salt) * 10999.99 - 999.99, 2)
    write(ids("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(seed, 1, 0, 24).cast("int").as("c_nationkey"),
      bal(2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        seed, 3).as("c_mktsegment")), s"$dir/customer.parquet", parts)
    write(ids("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(seed, 11, 0, 24).cast("int").as("s_nationkey"),
      bal(12).as("s_acctbal")), s"$dir/supplier.parquet", parts)
    write(ids("part").select(col("id").as("p_partkey"),
      concat(pick(Seq("red", "blue", "small", "large", "hot", "cold", "old", "new"),
        seed, 21), lit(" "), pick(Seq("plate", "widget", "ring", "rod", "gizmo",
        "bolt", "gear", "anvil"), seed, 22)).as("p_name"),
      concat(lit("Brand#"), ri(seed, 23, 1, 25)).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        seed, 24).as("p_type"),
      ri(seed, 25, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")),
      s"$dir/part.parquet", parts)
    write(ids("orders").select(col("id").as("o_orderkey"),
      ri(seed, 31, 0, n("customer") - 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), seed, 32).as("o_orderstatus"),
      round(u(seed, 33) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day("1995-01-01", seed, 34, 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        seed, 35).as("o_orderpriority")), s"$dir/orders.parquet", parts)
    write(ids("lineitem").select(
      ri(seed, 41, 0, n("orders") - 1).as("l_orderkey"),
      ri(seed, 42, 0, n("part") - 1).as("l_partkey"),
      ri(seed, 43, 0, n("supplier") - 1).as("l_suppkey"),
      ri(seed, 44, 1, 7).cast("int").as("l_linenumber"),
      ri(seed, 45, 1, 50).cast("double").as("l_quantity"),
      round(u(seed, 46) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (ri(seed, 47, 0, 10) / 100.0).as("l_discount"),
      (ri(seed, 48, 0, 8) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), seed, 49).as("l_returnflag"),
      pick(Seq("F", "O"), seed, 50).as("l_linestatus"),
      day("1995-01-02", seed, 51, 2600).as("l_shipdate")),
      s"$dir/lineitem.parquet", parts)
    n ++ Map("region" -> 5L, "nation" -> 25L)
  }
}
