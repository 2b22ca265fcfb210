package graft

/** Dumps `.explain("formatted")` for named [[SparkEntry]] queries —
  * the plan evidence the optimization rounds commit under `plans/`
  * (guide §1: capture the plan shape — Exchange count, join strategy,
  * PushedFilters/ReadSchema — before and after each change).
  *
  * Usage: `runMain graft.PlanDump <outDir> <query> [<query> ...]`
  * Data dir and core count ride the bench's env contract
  * (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`). Side-effecting queries
  * (the store lifecycles) run their folds first; the dumped plan is
  * the returned read-back frame, so the store side is captured by the
  * probe/fold plans it embeds.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query> [<query>...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.build(Some(cpus), None, guards = false)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
      println(s"[plandump] $name -> ${outDir.resolve(s"$name.txt")}")
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseCaches(spark)
    }
    spark.stop()
  }
}
