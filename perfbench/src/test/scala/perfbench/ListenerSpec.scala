package perfbench

import org.apache.spark.sql.functions._

/** The listeners' records, windowed by the spans open when Spark ran them. */
class ListenerSpec extends SparkSuite {
  test("each span gets the jobs, tasks and Catalyst phases of the actions run inside it") {
    val counters = Counters.register(spark)
    try {
      val t = new Tracer
      t.span("op", 0) {
        t.span("one", 0)(spark.range(0, 1000, 1, 2).filter(col("id") % 7 === 0).collect())
        t.span("two", 0) {
          spark.range(0, 10, 1, 2).collect()
          spark.range(0, 10, 1, 2).collect()
        }
      }
      counters.drain()
      val spans = t.spans
      val rec = RunRecord(spans, counters.jobRecs, counters.stageRecs, counters.planRecs,
        opsPerPass = 1, traced = Set(0))
      def w(n: String) = rec.within(spans.find(_.name == n).get)
      assert(w("one").jobs == 1)
      assert(w("two").jobs == 2)
      assert(w("op").jobs == 3)
      assert(w("two").tasks == 4 && w("two").stages == 2)
      assert(w("one").catalystS > 0 && w("two").catalystS > 0)
      assert(math.abs(w("op").cpuS - (w("one").cpuS + w("two").cpuS)) < 1e-9)
      // the jobs run inside the op span; the rest of it is driver time
      val layer = rec.sparkLayer
      assert(layer("spark.jobs") == 3.0 && layer("spark.job_s") > 0)
      assert(math.abs(layer("spark.job_s") + layer("spark.driver_s") - spans.head.wallNs / 1e9) < 1e-9)
    } finally counters.stop()
  }
}
