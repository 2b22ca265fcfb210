package graft

/** Round-10 plan audit (not part of the library API): formatted plans
  * of the round's new shapes, eyeballed for shuffle count, broadcast
  * placement, and pushdown before the closing bench.
  */
object ProfileExplainsR10 {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(Some(4), None, guards = false)
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    for (name <- args.drop(1) match {
        case Array() => Seq("t20_lm_perplexity", "e12_unpivot",
          "q2_min_cost_supplier", "t19_epoch_mix")
        case rest => rest.toSeq
      }) {
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
