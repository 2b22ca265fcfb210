package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: the CLI, the demo,
  * the bench, the correctness and plan dumps, and the tests. Every
  * session carries the graft SQL functions
  * ([[graft.functions.GraftExtensions]]), runs in UTC and logs at WARN.
  */
object Session {

  /** @param cores `Some(n)`: a pinned local run — `local[n]`, `n`
    *   shuffle partitions, no UI. `None`: the CLI — an externally set
    *   `spark.master` (spark-submit) wins, else `local[*]`, with Spark's
    *   own shuffle and UI defaults.
    * @param warehouse `spark.sql.warehouse.dir`, when given.
    * @param guards installs [[graft.plans.GraftGuards]]: configs execute
    *   arbitrary SQL, so the accidental cartesian and the unpartitioned
    *   window are refused at planning time (the violation message names
    *   the per-session opt-out key).
    */
  def build(cores: Option[Int], warehouse: Option[String],
      guards: Boolean): SparkSession = {
    val b = SparkSession.builder().appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
    if (guards) b.withExtensions(new graft.plans.GraftGuards)
    cores match {
      case Some(n) => b.master(s"local[$n]").config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", n.toString)
      case None => if (sys.props.get("spark.master").isEmpty) b.master("local[*]")
    }
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
