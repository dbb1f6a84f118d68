package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{IdempotentSink, Watermark}
import graft.medallion.{Bronze, Gold, PowerPipeline, PowerSchemas, Silver}

/** The traced form of `PowerPipeline.runIncrement` and `exportCsv`: the
  * same public calls in the same order, each inside a span named after
  * the layer it enters. `MirrorSpec` checks that it leaves the same
  * sink content as the untraced calls.
  */
object Mirror {
  /** A table exists once it holds a committed `batch=` directory — the
    * test `PowerPipeline` applies through `IdempotentSink`, made here
    * from the file listing alone.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
  }

  private def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(spark, path)) IdempotentSink.read(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def runIncrement(spark: SparkSession, batch: DataFrame, paths: PowerPipeline.Paths,
      t: Tracer, op: Int): Unit = {
    def open(table: String)(f: => DataFrame) = t.span(s"engine.sink_open/$table", op)(f)
    def wm(table: String)(f: => java.sql.Timestamp) = t.span(s"engine.watermark/$table", op)(f)
    def append(table: String)(f: => Unit) = t.span(s"engine.sink_append/$table", op)(f)

    t.span("medallion.bronze", op) {
      val bronzeSink = open("bronze")(readOrEmpty(spark, paths.bronze, PowerSchemas.raw))
      val cursor = wm("bronze")(Watermark.maxOrEpoch(bronzeSink, "minutes1_utc"))
      val fresh = Bronze.newRows(batch, cursor)
      append("bronze")(IdempotentSink.appendIfAbsent(spark, fresh, paths.bronze, Seq("minutes1_utc")))
    }
    t.span("medallion.silver", op) {
      val bronze = open("bronze")(IdempotentSink.read(spark, paths.bronze))
      val factSink = open("fact")(readOrEmpty(spark, paths.fact, PowerSchemas.fact))
      val silverWm = wm("fact")(Watermark.maxOrEpoch(factSink, "time_id"))
      val dimRows = Silver.dimTime(bronze, silverWm)
      append("dim")(IdempotentSink.appendIfAbsent(spark, dimRows, paths.dim, Seq("time_id")))
      val factRows = Silver.fact(bronze, silverWm)
      append("fact")(IdempotentSink.appendIfAbsent(spark, factRows, paths.fact, Seq("time_id")))
    }
    t.span("medallion.gold", op) {
      val fact = open("fact")(IdempotentSink.read(spark, paths.fact))
      val dim = open("dim")(IdempotentSink.read(spark, paths.dim))
      val goldSink = t.span("engine.sink_open/gold", op)(
        if (exists(spark, paths.gold)) Some(IdempotentSink.read(spark, paths.gold)) else None)
      val goldWm = goldSink.map(g => wm("gold")(Watermark.maxOrEpoch(g, "time_id")))
        .getOrElse(Watermark.Epoch)
      val rows = Gold.features(fact, dim, goldWm)
      append("gold")(IdempotentSink.appendIfAbsent(spark, rows, paths.gold, Seq("time_id")))
    }
  }

  def exportCsv(spark: SparkSession, paths: PowerPipeline.Paths, t: Tracer, op: Int): Unit =
    t.span("medallion.export", op) {
      val gold = t.span("engine.sink_open/gold", op)(IdempotentSink.read(spark, paths.gold))
      Gold.exportMlFeatures(gold, paths.mlCsv)
    }
}
