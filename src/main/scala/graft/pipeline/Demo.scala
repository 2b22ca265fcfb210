package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.util.DemoDataGenerator

/** Self-contained demo loop — the analog of the reference's
  * `run_etl_demo.sh` (generate sample data → init metadata → run the
  * three layers → preview the result tables):
  *
  * {{{
  * sbt "runMain graft.pipeline.Demo"                 # everything under target/demo
  * sbt "runMain graft.pipeline.Demo --date 2024-06-01 --out /tmp/demo"
  * }}}
  */
object Demo {

  def main(argv: Array[String]): Unit = {
    var date = java.time.LocalDate.now().toString
    var out = "target/demo/raw"
    var warehouse = "target/demo/warehouse"
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--date" => date = argv(i + 1); i += 2
        case "--out" => out = argv(i + 1); i += 2
        case "--warehouse" => warehouse = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(
          s"unknown argument: $other (expected --date/--out/--warehouse)")
      }
    }
    val spark = graft.Session.build(cores = None, Some(warehouse), guards = true)
    val exit =
      try run(spark, date, out)
      finally spark.stop()
    if (exit != 0) sys.exit(exit)
  }

  /** Generates the sample data, runs the three layers, and previews the
    * gold tables. Returns the process exit code; on a layer failure the
    * previews are SKIPPED (the gold tables may not exist — querying them
    * would raise an `AnalysisException` that masks the real failure) and
    * the pipeline's nonzero exit code propagates. Separated from `main`
    * so tests can drive it with their own session and config dir.
    */
  def run(spark: SparkSession, date: String, out: String,
      configDir: String = "configs/demo"): Int = {
    try {
      println(s"[demo] generating sample data under $out (500 customers, " +
        "1000 products, 5000 transactions)")
      DemoDataGenerator.generateAndSave(spark, out, date)
      sys.props("GRAFT_DEMO_DIR") = out
      val exit = Main.run(spark,
        Main.Args(date, Seq("bronze", "silver", "gold"), configDir, None))
      if (exit != 0) {
        System.err.println(s"[demo] pipeline failed (exit $exit) — skipping previews")
        return exit
      }
      println("-- gold previews --")
      for (t <- Seq("gold.daily_sales_by_category",
        "gold.customer_purchase_summary", "gold.product_performance")) {
        println(s"[demo] $t (${spark.table(t).count()} rows)")
        spark.table(t).show(10, truncate = false)
      }
      0
    } finally sys.props.remove("GRAFT_DEMO_DIR")
  }
}
