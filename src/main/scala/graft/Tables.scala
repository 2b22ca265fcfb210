package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives an `sfDir` like
  * `/root/testdata/sf0.01`; tables are single parquet files inside it.
  * At 100 TB these would be partitioned directories — `spark.read.parquet`
  * handles both transparently, and all predicate/column pushdown still
  * applies (scan operator S1 in SURVEY.md §2.1).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Drops the `graft_tmp` scratch `tables` (each `graft_tmp.<name>`) a
    * store-lifecycle query rebuilds, and returns once they are gone. A
    * fresh session's catalog forgets a previous run's managed table, but
    * the warehouse directory survives, and saveAsTable(ErrorIfExists)
    * refuses the leftover location, so the directory goes too.
    */
  def resetScratch(spark: SparkSession, tables: String*): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_tmp.db/${t.split('.')(1)}")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** The driver has shipped events.ts under two physical encodings:
    * parquet TIMESTAMP(NANOS) — which Spark's TimestampType
    * (microseconds) cannot represent, so the vectorized reader throws
    * PARQUET_TYPE_ILLEGAL unless nanos arrive as long — and plain
    * TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to TimestampType micros so every
    * downstream consumer (windows, watermarks, epoch arithmetic) sees
    * one type, matching DuckDB's TIMESTAMP view of the same file.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** ts → TimestampType micros regardless of source encoding. Long =
    * epoch-nanos under the legacy conf: integer division (epoch-nanos
    * ~1.7e18 exceed double's 2^53). TIMESTAMP_NTZ: re-tag as an
    * instant — value-preserving ONLY under a UTC session timezone, so
    * the loader pins spark.sql.session.timeZone=UTC itself (the same
    * way loadEvents pins the nanos conf) instead of relying on every
    * entry point remembering it: every `graft.Session.build` session
    * sets it, but Tables.load is public and a caller on a non-UTC
    * machine would otherwise get every event timestamp silently shifted
    * by the local offset (advice r9).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /** Register the named tables as temp views so `spark.sql` can use the
    * same table names as the DuckDB oracle (catalog-scan operator S6).
    * Register only what the query reads — view registration is lazy,
    * but the events view pays a nanos-normalization read setup that a
    * 2-table join should not.
    */
  def register(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, all)
}
