package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Output-surface lint (round-10 verdict item 2): every driver-gated
    * result column must be a SCALAR, non-DECIMAL type — the driver's
    * pandas comparator sorts rows by all columns (arrays/structs/maps
    * are unhashable there: the round-10 `a11` err) and reads DECIMAL
    * through a different object representation than DuckDB's reader
    * (the round-10 `q1d` hash-split). Catching the type at build time
    * turns a silent driver red into a named local failure. Returns the
    * offending (column, type) pairs; empty = clean.
    */
  def surfaceViolations(schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.collect {
      case f if !(f.dataType match {
        case _: StringType | BooleanType | ByteType | ShortType |
             IntegerType | LongType | FloatType | DoubleType |
             DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }) => (f.name, f.dataType.simpleString)
    }
  }

  def lintSurface(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val bad = surfaceViolations(schema)
    require(bad.isEmpty,
      s"[verify] query '$name' emits non-scalar/DECIMAL columns the " +
        s"driver gate cannot hash: ${bad.map { case (c, t) => s"$c: $t" }
          .mkString(", ")} — cast to string/long/double/date/timestamp " +
        "at the query surface (keep the native type behind a ScalaTest)")
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [name ...] — optional names restrict the
    // dump to those queries (the local fast path, mirroring
    // scripts/verify_local.py's names argument; the driver always runs
    // the full no-names sweep). Unknown names fail loudly rather than
    // silently dumping nothing.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.build(Some(cpus), None, guards = false)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // build + lint OUTSIDE the swallow: a surface violation must fail
      // the whole run loudly (it is a build bug, not a data error),
      // while a per-query runtime error degrades to a missing result
      // the driver flags via the manifest
      // .schema forces analysis, so an analysis error stays a soft
      // per-query failure; only the lint itself is allowed to escape
      val df = try Some(fn(spark, sfDir)).map(d => (d, d.schema))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
      df.foreach { case (d, schema) =>
        lintSurface(name, schema)
        try d.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      // operators may persist intermediates (LSH signatures, IVF cells);
      // don't let one query's cache skew the next's memory
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseCaches(spark) // incl. checkpoint blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every declared query, so the comparer can flag ones
    // whose Spark side failed (a missing result dir must not silently
    // drop a query from the gate)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
