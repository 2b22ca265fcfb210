package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.config.EtlConfig
import graft.layers._
import graft.meta.{AuditLogger, IdClock, MetadataManager, SystemIdClock}

/** Orchestrator ≙ the reference's run_etl_pipeline.py: select layers,
  * run bronze → silver → gold with per-layer reports, summarize from
  * the control table.
  */
class Pipeline(spark: SparkSession, runDate: String,
    clock: IdClock = SystemIdClock) {

  val meta = new MetadataManager(spark, clock = clock)
  val audit = new AuditLogger(spark, meta, clock)

  def run(configs: Map[String, EtlConfig],
      layers: Seq[String] = Seq("bronze", "silver", "gold", "maintenance")): Seq[LayerReport] = {
    meta.init()
    configs.values.flatMap(_.sparkConf).foreach { case (k, v) =>
      // shuffle partitioning is owned by the session/AQE, not configs —
      // the reference's blanket 200 is wrong in both directions at scale
      if (k != "spark.sql.shuffle.partitions") spark.conf.set(k, v)
    }
    layers.flatMap { name =>
      configs.get(name).map { cfg =>
        val layer: Layer = name match {
          case "bronze" => new BronzeLayer(spark, cfg, meta, audit, runDate)
          case "silver" => new SilverLayer(spark, cfg, meta, audit, runDate)
          case "gold" => new GoldLayer(spark, cfg, meta, audit, runDate)
          case "maintenance" =>
            new MaintenanceLayer(spark, cfg, meta, audit, runDate)
          case other => throw new IllegalArgumentException(s"unknown layer: $other")
        }
        layer.run()
      }
    }
  }

  /** End-of-run summary (reference F6: run_etl_pipeline.py:246-276):
    * per-layer target tables with rows processed and status, straight
    * from the control view over the audit log.
    */
  def summary(): Seq[(String, String, Long, String)] = {
    import org.apache.spark.sql.functions.col
    spark.table(meta.controlTable)
      // the control view spans all runs; scope to THIS run's date so
      // stale targets from earlier runs don't appear in the summary
      .filter(col("last_run_date") === runDate)
      .select(col("layer"), col("table_name"),
        col("records_processed"), col("status"))
      .orderBy("layer", "table_name")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
  }
}
