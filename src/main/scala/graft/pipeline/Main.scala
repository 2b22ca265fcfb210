package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.config.EtlConfig

/** Pipeline CLI — the engine's front door, mirroring the reference's
  * `scripts/run_etl_pipeline.py:39-68`:
  *
  * {{{
  * sbt "runMain graft.pipeline.Main --date 2024-03-01 \
  *   --layers bronze,silver,gold --config-dir configs"
  * }}}
  *
  * Flags: `--date YYYY-MM-DD` (default: today), `--layers` (default all
  * three), `--config-dir` (default `configs`, expecting
  * `{bronze,silver,gold}_config.yaml`), `--warehouse` (default
  * `spark-warehouse` under the CWD). The session is
  * [[graft.Session.build]]'s guarded CLI session: an externally-set
  * `spark.master` (spark-submit) wins, else `local[*]`.
  */
object Main {

  final case class Args(date: String, layers: Seq[String], configDir: String,
      warehouse: Option[String])

  def parseArgs(argv: Array[String]): Args = {
    var date = java.time.LocalDate.now().toString
    var layers = Seq("bronze", "silver", "gold", "maintenance")
    var configDir = "configs"
    var warehouse: Option[String] = None
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--date" => date = argv(i + 1); i += 2
        case "--layers" =>
          layers = argv(i + 1).split(",").toSeq.map(_.trim.toLowerCase)
            .filter(_.nonEmpty)
          i += 2
        case "--config-dir" => configDir = argv(i + 1); i += 2
        case "--warehouse" => warehouse = Some(argv(i + 1)); i += 2
        case other =>
          throw new IllegalArgumentException(
            s"unknown argument: $other (expected --date/--layers/--config-dir/--warehouse)")
      }
    }
    Args(date, layers, configDir, warehouse)
  }

  /** Loads whichever of the four layer configs exist in `configDir`. */
  def loadConfigs(configDir: String): Map[String, EtlConfig] =
    Seq("bronze", "silver", "gold", "maintenance").flatMap { layer =>
      val p = java.nio.file.Paths.get(configDir, s"${layer}_config.yaml")
      if (java.nio.file.Files.exists(p)) Some(layer -> EtlConfig.load(p.toString))
      else None
    }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    // configs execute arbitrary SQL: the CLI session runs guarded
    val spark = graft.Session.build(cores = None, args.warehouse, guards = true)
    val exit =
      try run(spark, args)
      finally spark.stop()
    if (exit != 0) sys.exit(exit)
  }

  /** Runs the pipeline and prints the report; returns the process exit
    * code (0 iff no unit of work failed). Separated from `main` so tests
    * can drive it with their own session.
    */
  def run(spark: SparkSession, args: Args): Int = {
    val configs = loadConfigs(args.configDir)
    if (configs.isEmpty) {
      System.err.println(s"no *_config.yaml found in ${args.configDir}")
      return 2
    }
    println("=" * 60)
    println(s"graft ETL pipeline  date=${args.date}  layers=${args.layers.mkString(",")}")
    println("=" * 60)
    val t0 = System.nanoTime()
    val pipeline = new Pipeline(spark, args.date)
    val reports = pipeline.run(configs, args.layers)
    reports.foreach { r =>
      println(s"[${r.layer}] ok=${r.succeeded.mkString(",")}" +
        (if (r.failed.nonEmpty)
          s"  FAILED=${r.failed.map { case (id, e) => s"$id($e)" }.mkString(",")}"
        else ""))
    }
    println(f"total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println("-- summary (control table) --")
    pipeline.summary().foreach { case (layer, table, rows, status) =>
      println(f"  $layer%-7s $table%-40s $rows%10d  $status")
    }
    if (reports.exists(_.failed.nonEmpty)) 1 else 0
  }
}
