package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every table rewrite commits through `graft.io.Commit`,
  * the only code that knows the staging layout. Fails when a `_stage"`
  * (or `_stage/"`) path literal, or a parquet write that the same file
  * reads back from the same path (a hand-rolled "stage → read back →
  * overwrite"), shows up in the main sources anywhere else. Likewise
  * every streaming write goes through `graft.io.Sinks.foreachBatch`:
  * a `foreachBatch` writer call anywhere else is a hand-rolled twin.
  * The replay fence rule lives in `graft.io.EpochFence` and the store
  * append barrier in `DedupStore.appendSurvivors`: a copy of either
  * anywhere else fails. The banded stores share one fold, and the
  * band-keyed hot-bucket exclusion is `Dedup.withoutHotBuckets`: a
  * fold step in `MediaDedupStore` or a second band-keyed hot broadcast
  * fails. The metadata ledger is written only by
  * `MetadataManager.append`: any other table write into the metadata
  * database, or any write of `data_quality_metrics` (a view), fails.
  * Which config type uses which YAML key is declared once in
  * `EtlConfig` and refused by its one ownership check: an "only used
  * by" message anywhere else in `Config.scala` (beyond the
  * `partition_by` rule) is a hand-written copy. The four key-bounded
  * view folds are `Maintenance.foldKeyed`: a `"full_outer"` merge or a
  * staged `"batch"` under `graft/io`, or a `_last_epoch` stamp outside
  * `foldKeyed` and the join view's append, is a hand-copied fold.
  * Every ledger row is built by `MetadataManager.row`: an
  * `AuditEvent(…)` constructed anywhere else is a second row path. The
  * store-lifecycle queries reset their `graft_tmp` scratch tables
  * through `Tables.resetScratch`: a `DROP TABLE IF EXISTS` followed by
  * a warehouse-directory delete anywhere else is a hand-copied reset.
  * Every session, main and test alike, is built by `graft.Session`: a
  * session builder chain in any other file under `src/` is a
  * hand-written copy.
  */
class CommitGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get(TestSpark.repoRoot, "src/main/scala")
  private val commitModule = mainRoot.resolve("graft/io/Commit.scala")

  private def sources(root: Path): Seq[(Path, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))

  private def mainSources: Seq[(Path, String)] = sources(mainRoot)

  /** Chained calls split across lines are joined first, so a
    * `.write…` chain and its `.parquet(…)` land on one line.
    */
  private def joined(src: String): String = src.replaceAll("\n\\s*\\.", ".")

  private val writeArg =
    """\.write\.(?:(?!saveAsTable|insertInto|\.read)[^\n])*?\.parquet\(([^()\n]*)\)""".r
  private val readArg = """\.read(?:\.schema\([^()\n]*\))?\.parquet\(([^()\n]*)\)""".r

  /** Violations in one source text: stage-path literals, and parquet
    * paths written and read back in the same file.
    */
  def violations(src: String): Seq[String] = {
    val code = joined(src)
    val stageLiterals = """_stage/?"""".r.findAllIn(code).map(_ => "`_stage\"` path literal")
    val written = writeArg.findAllMatchIn(code).map(_.group(1).trim).toSet
    val readBack = readArg.findAllMatchIn(code).map(_.group(1).trim)
      .filter(written).map(p => s"parquet($p) written and read back")
    (stageLiterals ++ readBack).toSeq.distinct
  }

  /** `foreachBatch` writer calls in one source text; calls of the
    * bridge itself (`Sinks.foreachBatch(…)`) do not count.
    */
  def foreachBatchWriters(src: String): Int =
    """(?<!Sinks)\.foreachBatch\b""".r.findAllIn(joined(src)).size

  /** Marks of a hand-rolled epoch fence in one source text: the
    * refusal phrase, and a `max` read of the `_last_epoch` marker.
    * String literals concatenated across lines are joined first, so a
    * phrase split over two literals still counts.
    */
  def fenceMarks(src: String): Int =
    """is OLDER than|max\((?:col\()?\$?"_last_epoch"""".r
      .findAllIn(literalsJoined(src)).size

  /** Source text with string literals concatenated across lines
    * joined, so a phrase split over two literals reads whole.
    */
  private def literalsJoined(src: String): String =
    joined(src).replaceAll("\"\\s*\\+\\s*s?\"", "")

  /** The enclosing `def` of each "only used by" phrase in one source
    * text (a hand-written key-ownership refusal).
    */
  def ownershipRefusals(src: String): Seq[String] = {
    val code = literalsJoined(src)
    "only used by".r.findAllMatchIn(code).map(m => enclosingDef(code, m.start)).toSeq
  }

  /** The name of the last member `def` (indented at most two spaces)
    * that starts before offset `at`; a helper `def` local to a member
    * does not count.
    */
  private def enclosingDef(src: String, at: Int): String =
    """(?m)^ {0,2}(?:(?:private|protected)(?:\[\w+\])? |override |final )*def (\w+)""".r
      .findAllMatchIn(src.substring(0, at)).map(_.group(1)).toSeq.lastOption.getOrElse("")

  /** Marks of a hand-copied keyed view fold in one source text: each
    * `"full_outer"` join, each `Commit.stage(…, "batch", …)`, and the
    * enclosing `def` of each `_last_epoch` stamp.
    */
  def keyedFoldCopies(src: String): (Int, Int, Seq[String]) = {
    val code = joined(src)
    ("\"full_outer\"".r.findAllIn(code).size,
      """Commit\.stage\([^()]*"batch"""".r.findAllIn(code).size,
      """(?:withColumn\(|\.as\()"_last_epoch"""".r.findAllMatchIn(code)
        .map(m => enclosingDef(code, m.start)).toSeq)
  }

  /** The source line around offset `at`. */
  private def lineAt(src: String, at: Int): String =
    src.substring(src.lastIndexOf('\n', at) + 1, src.indexOf('\n', at))

  private val tableWrite = """(?:saveAsTable|insertInto)\(([^()\n]*)\)""".r
  private val dqTarget = """dqMetricsTable|data_quality_metrics"""
  private val metaTarget =
    s"""auditTable|controlTable|dictionaryTable|\\bmetadata\\.|$dqTarget""".r

  /** Table writes into the metadata database in one source text, as
    * the names of their enclosing `def`s: every `saveAsTable` or
    * `insertInto` in a `graft/meta` source (`inMeta`), and anywhere one
    * whose target names a metadata table.
    */
  def metadataWrites(inMeta: Boolean, src: String): Seq[String] =
    tableWrite.findAllMatchIn(src)
      .filter(m => inMeta || metaTarget.findFirstIn(m.group(1)).isDefined)
      .map(m => enclosingDef(src, m.start)).toSeq

  /** Writes of `data_quality_metrics` in one source text: a table write
    * whose target names it, or a SQL INSERT into it.
    */
  def dqWrites(src: String): Int =
    tableWrite.findAllMatchIn(src).count(m => dqTarget.r.findFirstIn(m.group(1)).isDefined) +
      s"""(?i)INSERT\\s+(?:INTO|OVERWRITE)\\s+(?:TABLE\\s+)?\\S*(?:$dqTarget)""".r
        .findAllIn(src).size

  /** The enclosing `def` of each `AuditEvent(…)` construction in one
    * source text; the case class declaration does not count.
    */
  def auditEventBuilds(src: String): Seq[String] =
    """(?<!class )\bAuditEvent\(""".r.findAllMatchIn(src)
      .map(m => enclosingDef(src, m.start)).toSeq

  /** The enclosing `def` of each scratch-table reset in one source text:
    * a `DROP TABLE IF EXISTS` followed, before the next one, by a
    * filesystem `delete(` of the table's leftover directory.
    */
  def scratchResets(src: String): Seq[String] =
    """(?s)DROP TABLE IF EXISTS(?:(?!DROP TABLE IF EXISTS).){0,600}?\.delete\(""".r
      .findAllMatchIn(src).map(m => enclosingDef(src, m.start)).toSeq

  /** Session builder chains in one source text, split across lines or
    * not.
    */
  def sessionBuilders(src: String): Int =
    """SparkSession\s*\.\s*[Bb]uilder\b""".r.findAllIn(src).size

  test("the detector flags a hand-written session builder chain") {
    // the fixture's margin splits the chain in this file's own text
    val chain =
      """    val spark = SparkSession
        |      .builder()
        |      .master("local[4]")
        |      .config("spark.sql.shuffle.partitions", "4")
        |      .getOrCreate()
        |""".stripMargin
    assert(sessionBuilders(chain) == 1)
    assert(sessionBuilders(
      "val spark = Session.build(Some(4), None, guards = false)") == 0)
  }

  test("sessions are built in one file under src/: graft/Session.scala") {
    val srcRoot = Paths.get(TestSpark.repoRoot, "src")
    val files = sources(srcRoot).collect {
      case (p, src) if sessionBuilders(src) > 0 => srcRoot.relativize(p).toString }
    assert(files == Seq("main/scala/graft/Session.scala"), files.mkString("\n"))
  }

  test("the detector flags a hand-built ledger row") {
    val copy =
      """  def updateControl(tableName: String, layer: String): Unit =
        |    append(Seq(AuditEvent(clock.uuid(), clock.now(), layer, "control",
        |      "MetadataManager", null, tableName, "SUCCESS", 0L, "", 0.0, null,
        |      spark.sparkContext.sparkUser, runDate, "{}")))
        |""".stripMargin
    assert(auditEventBuilds(copy) == Seq("updateControl"))
    assert(auditEventBuilds(
      """final case class AuditEvent(log_id: String)
        |  def append(rows: Seq[AuditEvent]): Unit = rows.toDS()
        |  def schema = Encoders.product[AuditEvent].schema
        |""".stripMargin).isEmpty)
  }

  test("AuditEvent is constructed in one place in src/main: MetadataManager.row") {
    val builds = mainSources.flatMap { case (p, src) =>
      auditEventBuilds(src).map(d => s"${mainRoot.relativize(p)}: $d") }
    assert(builds == Seq("graft/meta/Metadata.scala: row"), builds.mkString("\n"))
  }

  test("the detector flags a hand-copied scratch-table reset") {
    val copy =
      """  def ds9Store(s: SparkSession, dir: String): DataFrame = {
        |    s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
        |    val table = "graft_tmp.ds9_store"
        |    s.sql(s"DROP TABLE IF EXISTS $table")
        |    // the warehouse directory survives a fresh session's catalog
        |    val loc = new org.apache.hadoop.fs.Path(
        |      s"${s.conf.get("spark.sql.warehouse.dir")}/graft_tmp.db/ds9_store")
        |    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        |    if (fs.exists(loc)) fs.delete(loc, true)
        |""".stripMargin
    assert(scratchResets(copy) == Seq("ds9Store"))
    assert(scratchResets(
      """  def ds9Store(s: SparkSession, dir: String): DataFrame = {
        |    Tables.resetScratch(s, "graft_tmp.ds9_store")
        |    spark.sql(s"DROP TABLE IF EXISTS ${modelTable(table)}")
        |""".stripMargin).isEmpty)
  }

  test("the graft_tmp scratch reset is written once, in Tables.resetScratch; graft/queries holds none") {
    val resets = mainSources.flatMap { case (p, src) =>
      scratchResets(src).map(d => s"${mainRoot.relativize(p)}: $d") }
    assert(resets == Seq("graft/Tables.scala: resetScratch"), resets.mkString("\n"))
  }

  test("the detector flags metadata writes beside the ledger append") {
    val parentShape =
      """def init(): Unit = {
        |  spark.emptyDataset[AuditEvent].write.saveAsTable(auditTable)
        |  spark.emptyDataset[DqMetricRow].write.saveAsTable(dqMetricsTable)
        |}
        |private[meta] def append(e: AuditEvent): Unit =
        |  Seq(e).toDS().write.mode(SaveMode.Append).saveAsTable(auditTable)
        |def recordDqMetrics(rows: Seq[DqMetricRow]): Unit =
        |  rows.toDS().write.mode(SaveMode.Append).saveAsTable(dqMetricsTable)
        |""".stripMargin
    assert(metadataWrites(inMeta = true, parentShape) ==
      Seq("init", "init", "append", "recordDqMetrics"))
    assert(dqWrites(parentShape) == 2)
    assert(metadataWrites(inMeta = false, "df.write.saveAsTable(table)").isEmpty)
    assert(metadataWrites(inMeta = false,
      """def log(): Unit = df.write.insertInto("metadata.etl_audit_log")""") == Seq("log"))
    assert(dqWrites("""spark.sql(s"INSERT INTO $dqMetricsTable SELECT * FROM v")""") == 1)
  }

  test("the ledger append is the only metadata write; nothing writes data_quality_metrics") {
    val meta = mainRoot.resolve("graft/meta")
    val writes = mainSources.flatMap { case (p, src) =>
      metadataWrites(p.startsWith(meta), src).map(d => s"${mainRoot.relativize(p)}: $d")
    }
    assert(writes == Seq("graft/meta/Metadata.scala: append"), writes.mkString("\n"))
    val dq = mainSources.map { case (p, src) =>
      mainRoot.relativize(p).toString -> dqWrites(src) }.filter(_._2 > 0)
    assert(dq.isEmpty, dq.mkString("\n"))
  }

  test("the detector flags a hand-rolled stage copy and a stage literal") {
    val handRolled =
      """val scratch = s"${wh}/__upsert_stage/" + t
        |merged.write.mode(SaveMode.Overwrite)
        |  .parquet(s"$scratch/merged")
        |spark.read.parquet(s"$scratch/merged").write.saveAsTable(t)
        |""".stripMargin
    assert(violations(handRolled).size == 2, violations(handRolled))
    assert(violations("""out.write.mode("overwrite").parquet(dir)""").isEmpty)
  }

  test("no staging copy outside the commit module") {
    val files = mainSources.filter(_._1 != commitModule)
    assert(files.size > 50, s"source scan found only ${files.size} files")
    val bad = files.flatMap { case (p, src) =>
      violations(src).map(v => s"${mainRoot.relativize(p)}: $v")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the detector flags a hand-rolled foreachBatch twin") {
    val twin =
      """val writer = stream.writeStream
        |  .outputMode("update")
        |  .option("checkpointLocation", checkpoint)
        |  .foreachBatch { (batch: DataFrame, batchId: Long) =>
        |    Scd2.merge(batch.sparkSession, table, batch, keys, tracked, eff)
        |  }
        |""".stripMargin
    assert(foreachBatchWriters(twin) == 1)
    assert(foreachBatchWriters(
      "val q = Sinks.foreachBatch(stream, t, ckpt) { (b, id) => fold(m, b, id) }") == 0)
  }

  test("foreachBatch is called only inside the streaming bridge") {
    val calls = mainSources.map { case (p, src) =>
      mainRoot.relativize(p).toString -> foreachBatchWriters(src) }
      .filter(_._2 > 0)
    assert(calls == Seq("graft/io/Sinks.scala" -> 1), calls.mkString("\n"))
  }

  test("the detector flags a hand-rolled epoch fence copy") {
    val copy =
      """val m = spark.table(table).agg(max(col("_last_epoch"))).head()
        |val committed = if (m.isNullAt(0)) None else Some(m.getLong(0))
        |for (c <- committed) if (c > id) throw new IllegalStateException(
        |  s"fold for '$table': batch epoch $id is OLDER " +
        |    s"than the committed epoch $c")
        |""".stripMargin
    assert(fenceMarks(copy) == 2)
    assert(fenceMarks(
      "if (!EpochFence.admit(\"fold\", t, e, EpochFence.last(v))) return false") == 0)
  }

  test("the epoch fence rule lives only in EpochFence") {
    val marks = mainSources.map { case (p, src) =>
      mainRoot.relativize(p).toString -> fenceMarks(src) }
      .filter(_._2 > 0)
    assert(marks == Seq("graft/io/EpochFence.scala" -> 2), marks.mkString("\n"))
  }

  test("the detector flags a hand-written key-ownership refusal split over literals") {
    val copy =
      """private def parseTask(m: Map[String, Object]): Task = {
        |  require(t.taskType == "zone_maps" || t.columns.isEmpty,
        |    s"maintenance task '${t.taskId}': columns is only " +
        |      "used by zone_maps")
        |""".stripMargin
    assert(ownershipRefusals(copy) == Seq("parseTask"))
    assert(ownershipRefusals("require(ok, \"a is not used by b\")").isEmpty)
  }

  test("Config.scala has one ownership message; only the partition_by rule is hand-written") {
    val config = mainSources.collectFirst {
      case (p, src) if p.endsWith("graft/config/Config.scala") => src
    }.get
    assert(ownershipRefusals(config) == Seq("checkOwnership", "parseModel"),
      ownershipRefusals(config).mkString("\n"))
  }

  test("the detector flags a hand-copied keyed view fold") {
    val copy =
      """  def maintainAdditiveAggregate(spark: SparkSession, table: String): Boolean = {
        |    def agg(df: DataFrame) = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        |    val b = Commit.stage(spark, table, "batch",
        |      agg(batch).withColumn("_last_epoch", lit(epochId))).alias("b")
        |    val t = spark.table(table).alias("t")
        |    val joined = t.join(b, keys.map(k => t(k) <=> b(k)).reduce(_ && _), "full_outer")
        |    Commit.replace(spark, table, joined.select(
        |      keys.map(k => coalesce(t(k), b(k)).as(k)) :+ lit(epochId).as("_last_epoch"): _*))
        |""".stripMargin
    assert(keyedFoldCopies(copy) ==
      ((1, 1, Seq("maintainAdditiveAggregate", "maintainAdditiveAggregate"))))
    assert(keyedFoldCopies(
      "foldKeyed(spark, table, \"additive\", state, keys, merge, Some(epochId))") ==
      ((0, 0, Nil)))
  }

  test("graft/io holds no full-outer view merge or batch stage; only foldKeyed and maintainJoinView stamp _last_epoch") {
    val io = mainRoot.resolve("graft/io")
    val marks = mainSources.filter(_._1.startsWith(io)).map { case (p, src) =>
      mainRoot.relativize(p).toString -> keyedFoldCopies(src) }
    val copies = marks.filter { case (_, (outer, stages, _)) => outer + stages > 0 }
    assert(copies.isEmpty, copies.mkString("\n"))
    val stamps = marks.flatMap { case (p, (_, _, defs)) => defs.map(d => s"$p: $d") }.distinct
    assert(stamps == Seq("graft/io/Maintenance.scala: foldKeyed",
      "graft/io/Maintenance.scala: maintainJoinView"), stamps.mkString("\n"))
  }

  test("localCheckpoint(true) appears under graft/io only in appendSurvivors") {
    val io = mainRoot.resolve("graft/io")
    val sites = mainSources.filter(_._1.startsWith(io)).flatMap { case (p, src) =>
      """localCheckpoint\(true\)""".r.findAllMatchIn(src)
        .map(m => s"${mainRoot.relativize(p)}: ${enclosingDef(src, m.start)}")
    }
    assert(sites == Seq("graft/io/DedupStore.scala: appendSurvivors"),
      sites.mkString("\n"))
  }

  test("MediaDedupStore holds no fold step; the band-keyed hot broadcast lives only in withoutHotBuckets") {
    val media = mainSources.collectFirst {
      case (p, src) if p.endsWith("graft/io/MediaDedupStore.scala") => src
    }.get
    val foldSteps = """\.persist\(|left_anti|connectedComponents|appendSurvivors""".r
      .findAllIn(media).toSeq
    assert(foldSteps.isEmpty, foldSteps.mkString("\n"))
    // the vector store's cell caps (`Seq("cell")`) are a different join
    val sites = mainSources.flatMap { case (p, src) =>
      """broadcast\(hot\)""".r.findAllMatchIn(src)
        .filterNot(m => lineAt(src, m.start).contains("\"cell\""))
        .map(m => s"${mainRoot.relativize(p)}: ${enclosingDef(src, m.start)}")
    }
    assert(sites == Seq("graft/operators/Dedup.scala: withoutHotBuckets"),
      sites.mkString("\n"))
  }
}
