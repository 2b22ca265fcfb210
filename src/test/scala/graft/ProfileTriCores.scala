package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Round-20 gr4 diagnosis harness (verdict item 1): runs the gr3/gr4
  * triangle rows under a CONSTRAINED core count with a stage-metrics
  * listener, printing per-stage executor time, spill (memory + disk),
  * peak execution memory and shuffle bytes — the §5/§7 evidence a
  * "falls off a cliff when cores tighten" hypothesis needs (the bench
  * only prints wall seconds). `runMain graft.ProfileTriCores [cpus]
  * [sfDir] [reps] [query]`. Heap comes from sbt's own JVM settings —
  * pair with `SBT_OPTS=-Xmx…` to probe the memory axis.
  */
object ProfileTriCores {
  def main(args: Array[String]): Unit = {
    val cpus = args.lift(0).map(_.toInt).getOrElse(8)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val query = args.lift(3).getOrElse("gr4_clustering_coeff")
    val spark = Session.build(Some(cpus), None, guards = false)
    val rt = Runtime.getRuntime
    println(s"[tri-cores] query=$query cpus=$cpus maxHeap=${rt.maxMemory() / (1 << 20)}MB")
    final case class St(id: Int, name: String, runMs: Long, memSpill: Long,
      diskSpill: Long, peak: Long, shufR: Long, shufW: Long)
    @volatile var stages = List.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages ::= St(i.stageId, i.name.takeWhile(_ != '\n').take(70),
          m.executorRunTime, m.memoryBytesSpilled, m.diskBytesSpilled,
          m.peakExecutionMemory, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
      }
    })
    (1 to reps).foreach { r =>
      stages = Nil
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, dir).count()
      val el = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseCaches(spark)
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(500)
      val ss = stages
      println(f"[tri-cores] rep $r: $el%.2f s wall, ${ss.size} stages, " +
        f"totalRun=${ss.map(_.runMs).sum / 1000.0}%.1f core-s, " +
        f"memSpill=${ss.map(_.memSpill).sum / 1e6}%.1f MB, " +
        f"diskSpill=${ss.map(_.diskSpill).sum / 1e6}%.1f MB")
      ss.sortBy(-_.runMs).take(10).foreach { s =>
        println(f"[tri-cores]   stage ${s.id}%4d run=${s.runMs / 1000.0}%7.2fs " +
          f"spill=${s.memSpill / 1e6}%7.1f/${s.diskSpill / 1e6}%7.1fMB " +
          f"peak=${s.peak / 1e6}%7.1fMB shufR/W=${s.shufR / 1e6}%6.1f/" +
          f"${s.shufW / 1e6}%6.1fMB  ${s.name}")
      }
    }
    spark.stop()
  }
}
