package perfbench

import org.apache.spark.sql.functions._

class HashSinkSpec extends SparkSuite {
  private def viaSink(df: org.apache.spark.sql.DataFrame, id: String) = {
    df.write.format(classOf[HashSink].getName).option("id", id).mode("overwrite").save()
    HashSink.take(id).get
  }

  test("the sink's fingerprint ignores row order and partitioning, not content") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") / 7.0).as("x"),
      array(col("id").cast("float"), lit(0.5f)).as("v"), concat(lit("k"), col("id")).as("s"))
    val a = viaSink(df, "a")
    val b = viaSink(df.repartition(5).orderBy(col("id").desc), "b")
    assert(a == b && a.rows == 1000)
    val c = viaSink(df.withColumn("x", when(col("id") === 3, 0.0).otherwise(col("x"))), "c")
    assert(c.rows == 1000 && c != a)
    assert(HashSink.take("a").isEmpty)
  }

  test("values that differ below 1e-4 render the same; -0.0 renders as 0.0") {
    assert(HashSink.canonical(1.00000001) == HashSink.canonical(1.00000002))
    assert(HashSink.canonical(-0.0) == HashSink.canonical(0.0))
    assert(HashSink.canonical(1.0) != HashSink.canonical(1.001))
    assert(HashSink.canonical(Seq(1.0f, null)) == "[1.0000,null]")
  }

  test("the rounded rendering equals decimal half-up rounding, ties and edges included") {
    def reference(d: Double) = {
      val r = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if (r.signum == 0) "0.0000" else r.toString
    }
    val rnd = new scala.util.Random(5)
    val values = Seq(0.0, -0.0, 1e-5, -1e-5, 5e-5, -5e-5, 0.00005, 1.23445, -1.23445, 2.5e-4,
      0.12345, 99.99995, -99.99995, 1e8 + 0.00005, 123456789.12345, 1e11, -1e12, 3e15) ++
      (0 until 20000).map(_ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(14) - 6)) ++
      (0 until 20000).map(_ => math.rint(rnd.nextGaussian() * 1e7) / 1e5 + 0.00005) ++
      (0 until 5000).map(_ => math.rint(rnd.nextGaussian() * 1e6) / 100)
    values.foreach(d => assert(HashSink.canonical(d) == reference(d), d))
  }

  test("the mix pins cover every query of the mix") {
    assert(MixWorkload.Pins.keySet == MixWorkload.Queries.toSet)
  }
}
