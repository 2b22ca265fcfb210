package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** The one commit path for every destructive table rewrite — the
  * parquet stand-in for a table format's atomic log. It is the only
  * code that knows the staging layout:
  *
  * {{{
  * <warehouse>/__staging/<db_table>/commit   the new version of <db.table>
  * <warehouse>/__staging/<db_table>/<name>   frames staged once by [[stage]]
  * }}}
  *
  * [[replace]] writes the new version to the `commit` stage, then
  * overwrites the table from the stage with INSERT OVERWRITE, which
  * keeps the table definition — partition spec, bucket spec and every
  * property, including the `graft.*` epoch fences. The table's old
  * files are deleted before the new ones are written, so a write that
  * dies leaves the table empty or, on the schema-change path, missing.
  * The stage is the recovery copy: it is deleted only after the table
  * write succeeded, so a stage survives only when a commit died (or an
  * operation failed between [[stage]] and its commit). [[recover]] —
  * which every `graft.io` write path calls before it touches its table,
  * appends included — rolls a died commit forward, so the table's next
  * write never builds on the empty table. Commits of different tables
  * may run concurrently; two concurrent commits of one table may not
  * (the layer scheduler never overlaps two items with one target).
  */
private[graft] object Commit {

  private val Root = "__staging"
  private val Version = "commit"

  /** Test seam: (table, step) — the commit of that table whose
    * "stage" or "table" write job fails on its first row. Never set
    * outside fault-injection specs.
    */
  @volatile private[io] var failAt: Option[(String, String)] = None

  private def fail(step: String): Boolean =
    throw new IllegalStateException(s"injected failure in commit step '$step'")

  private def injected(table: String, step: String, df: DataFrame): DataFrame =
    if (!failAt.contains(table -> step)) df
    else df.filter(udf(() => fail(step)).asNondeterministic()())

  private[graft] def root(spark: SparkSession): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), Root)

  /** The staging directory of one table (names are case-insensitive). */
  private[graft] def dir(spark: SparkSession, table: String): Path =
    new Path(root(spark), table.toLowerCase.replace('.', '_'))

  /** Where [[replace]] stages the new version of `table`. */
  private[graft] def versionPath(spark: SparkSession, table: String): Path =
    new Path(dir(spark, table), Version)

  private def fs(spark: SparkSession): FileSystem =
    root(spark).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Materializes an expensive frame that several consumers of one
    * operation on `table` read, and returns the staged copy. It lives
    * until that operation's [[replace]] succeeds, so read it before.
    */
  def stage(spark: SparkSession, table: String, name: String,
      frame: DataFrame): DataFrame = {
    open(spark, table)
    val p = new Path(dir(spark, table), name).toString
    frame.write.mode(SaveMode.Overwrite).parquet(p)
    spark.read.parquet(p)
  }

  /** Replaces `table` with `frame`, which may read the table itself.
    * A missing table is created from the frame directly. Otherwise the
    * frame is staged, `relayout` shapes the staged copy for the table
    * write, and `maxRecordsPerFile` (when positive) bounds the table's
    * files. On success the table's staging directory is deleted, along
    * with whatever [[stage]] put there.
    */
  def replace(spark: SparkSession, table: String, frame: DataFrame,
      maxRecordsPerFile: Long = 0L,
      relayout: DataFrame => DataFrame = identity): Unit = {
    if (!spark.catalog.tableExists(table)) frame.write.saveAsTable(table)
    else {
      open(spark, table)
      val v = versionPath(spark, table).toString
      injected(table, "stage", frame).write.mode(SaveMode.Overwrite).parquet(v)
      install(spark, table, relayout(spark.read.parquet(v)), maxRecordsPerFile)
    }
    clear(spark, table)
  }

  /** Rolls forward a commit of `table` that died after its stage was
    * complete (the write job left `_SUCCESS`), then clears the stage. A
    * stage without the marker died while being written and left the
    * table untouched, so it is ignored. Costs one file-system probe.
    */
  def recover(spark: SparkSession, table: String): Unit = {
    val v = versionPath(spark, table)
    if (fs(spark).exists(new Path(v, "_SUCCESS"))) {
      install(spark, table, spark.read.parquet(v.toString), 0L)
      clear(spark, table)
    }
  }

  /** Deletes every staging directory, returning how many there were.
    * Only safe once every rewrite that could have died has re-run.
    */
  def sweep(spark: SparkSession): Int = {
    val r = root(spark)
    val n = if (fs(spark).exists(r)) fs(spark).listStatus(r).length else 0
    fs(spark).delete(r, true)
    n
  }

  /** Creates the table's staging directory under the lock [[clear]]
    * drops the empty root with, so a concurrent commit of another table
    * cannot remove the root between the two.
    */
  private def open(spark: SparkSession, table: String): Unit =
    synchronized { fs(spark).mkdirs(dir(spark, table)): Unit }

  private def clear(spark: SparkSession, table: String): Unit = {
    fs(spark).delete(dir(spark, table), true)
    // drop the root once empty
    val r = root(spark)
    synchronized {
      scala.util.Try(if (fs(spark).listStatus(r).isEmpty) fs(spark).delete(r, false))
    }
  }

  /** Writes `staged` into `table`. Same columns and types: INSERT
    * OVERWRITE, so the table definition stays as it is. A schema
    * change re-creates the table with its partition and bucket spec
    * and re-stamps its `graft.*` properties.
    */
  private def install(spark: SparkSession, table: String, staged: DataFrame,
      maxRecordsPerFile: Long): Unit = {
    def shape(df: DataFrame) =
      df.schema.map(f => f.name.toLowerCase -> f.dataType.catalogString).toSet
    withMaxRecordsPerFile(spark, maxRecordsPerFile) {
      if (!spark.catalog.tableExists(table))
        injected(table, "table", staged).write.saveAsTable(table)
      else if (shape(staged) == shape(spark.table(table)))
        injected(table, "table", staged.select(spark.table(table).columns.map(col).toSeq: _*))
          .write.mode(SaveMode.Overwrite).insertInto(table)
      else recreate(spark, table, injected(table, "table", staged))
    }
    spark.catalog.refreshTable(table)
  }

  private def recreate(spark: SparkSession, table: String,
      staged: DataFrame): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val w0 = staged.write.mode(SaveMode.Overwrite).format("parquet")
    val w1 =
      if (meta.partitionColumnNames.isEmpty) w0
      else w0.partitionBy(meta.partitionColumnNames: _*)
    val w = meta.bucketSpec.fold(w1) { bs =>
      val b = w1.bucketBy(bs.numBuckets, bs.bucketColumnNames.head,
        bs.bucketColumnNames.tail: _*)
      if (bs.sortColumnNames.isEmpty) b
      else b.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
    }
    w.saveAsTable(table)
    val props = meta.properties.filter(_._1.startsWith("graft."))
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" + props.map {
        case (k, v) => s"'${sqlLit(k)}' = '${sqlLit(v)}'"
      }.mkString(", ") + ")")
  }

  /** INSERT OVERWRITE ignores the writer's `maxRecordsPerFile` option,
    * so the bound goes through the session conf for the one write.
    */
  private def withMaxRecordsPerFile[T](spark: SparkSession, n: Long)(
      body: => T): T =
    if (n <= 0L) body
    else {
      val key = "spark.sql.files.maxRecordsPerFile"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, n)
      try body
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Escapes a string for a single-quoted SQL literal: property values
    * are user-extensible, so a quote or a backslash (the parser's escape
    * character) must not break the ALTER TABLE statement.
    */
  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")
}
