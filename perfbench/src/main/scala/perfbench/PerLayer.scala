package perfbench

/** Every per-layer figure a traced run reports, with its unit. A figure
  * that does not apply to a workload (a medallion layer on the query
  * mix) reads 0 there.
  */
object PerLayer {
  val All: Seq[(String, String)] =
    Seq("bronze", "silver", "gold", "export").flatMap { l =>
      Seq(s"medallion.${l}_s" -> "s", s"medallion.${l}_self_s" -> "s",
        s"medallion.${l}_jobs" -> "count", s"medallion.${l}_cpu_s" -> "s")
    } ++ Seq(
      "medallion.bronze_rows_out" -> "count", "medallion.silver_rows_out" -> "count",
      "medallion.gold_rows_out" -> "count", "medallion.bronze_accept_ratio" -> "ratio",
      "engine.watermark_s" -> "s", "engine.sink_open_s" -> "s",
      "engine.sink_append_s" -> "s", "engine.sink_append_jobs" -> "count",
      "engine.sink_write_mb" -> "MB", "engine.sink_files" -> "count",
      "engine.sink_batch_dirs" -> "count", "engine.stored_mb" -> "MB",
      "engine.build_s" -> "s",
      "queries.plan_s" -> "s", "queries.action_s" -> "s") ++
      MixWorkload.Queries.flatMap(q =>
        Seq(s"queries.${q}_s" -> "s", s"queries.${q}_cpu_s" -> "s", s"queries.${q}_jobs" -> "count")) ++
      Seq("spark.driver_s" -> "s", "spark.job_s" -> "s", "spark.catalyst_s" -> "s",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
        "spark.skew" -> "ratio", "spark.heap_live_mb" -> "MB", "trace.overhead_pct" -> "%")
}
