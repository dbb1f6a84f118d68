package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.medallion.PowerSchemas

/** Seeded one-row-per-minute power feed in the bronze contract
  * (`PowerSchemas.raw`). Every value is a pure function of the seed, the
  * minute and the column, so a late duplicate repeats its original row
  * exactly and the same seed always yields the same batches.
  */
object Feed {
  val MinutesPerDay = 1440
  /** Day 0 of every feed: 2023-01-01T00:00Z. */
  val OriginMinute: Long = 1672531200L / 60

  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(seed: Long, minute: Long, c: Int): Double =
    (mix64(mix64(seed * 31 + c) ^ minute) >>> 11).toDouble / (1L << 53)

  private def r2(v: Double): Double = math.rint(v * 100) / 100

  def row(seed: Long, minute: Long): Row = {
    val u = (c: Int) => unit(seed, minute, c)
    val dayFrac = (minute % MinutesPerDay).toDouble / MinutesPerDay
    val sun = math.max(0.0, math.sin(math.Pi * (dayFrac - 0.25) / 0.5))
    val large = if (u(1) < 0.002) 0.0 else r2(800 + 1200 * u(1))
    val small = if (u(1) < 0.002) 0.0 else r2(200 + 400 * u(2))
    val metrics = Seq(
      r2(100 + 150 * u(0)), large, small, r2(600 * sun * u(3)),
      r2(1500 * u(4)), r2(2000 * u(5)), r2(-1000 + 2000 * u(6))) ++
      (7 until 15).map(c => r2(-500 + 1000 * u(c)))
    Row.fromSeq(new Timestamp((OriginMinute + minute) * 60000L) +: metrics)
  }

  /** Every minute of days [from, from + days), in time order. */
  def days(seed: Long, from: Int, days: Int): Seq[Row] =
    (from.toLong * MinutesPerDay until (from + days).toLong * MinutesPerDay).map(row(seed, _))

  /** One daily increment: the day's 1,440 minutes plus [[LateShare]] of the
    * previous day's minutes delivered again (late duplicates), all in a
    * seeded random order. `lateSeed` is the seed the previous day was
    * generated from, so a late duplicate repeats its original row.
    */
  val LateShare = 0.05

  def increment(seed: Long, day: Int, lateSeed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(mix64(seed ^ (day.toLong << 32)))
    val late =
      if (day == 0) Seq.empty
      else rnd.shuffle((0 until MinutesPerDay).toList)
        .take(math.round(MinutesPerDay * LateShare).toInt)
        .map(m => row(lateSeed, (day - 1).toLong * MinutesPerDay + m))
    rnd.shuffle(days(seed, day, 1) ++ late)
  }

  def increment(seed: Long, day: Int): Seq[Row] = increment(seed, day, seed)

  /** Writes `batches` as one parquet directory per batch, `<dir>/batch=<i>`,
    * each a single file holding its rows in the given order.
    */
  def write(spark: SparkSession, batches: Seq[Seq[Row]], dir: String): Unit = {
    val tagged = batches.zipWithIndex.flatMap { case (rows, i) =>
      rows.map(r => Row.fromSeq(r.toSeq :+ i))
    }
    val schema = PowerSchemas.raw.add("batch", "int")
    spark.createDataFrame(spark.sparkContext.parallelize(tagged, 1), schema)
      .write.partitionBy("batch").parquet(dir)
  }

  def read(spark: SparkSession, dir: String, i: Int) =
    spark.read.schema(PowerSchemas.raw).parquet(s"$dir/batch=$i")
      .select(PowerSchemas.raw.fieldNames.toSeq.map(col): _*)
}
