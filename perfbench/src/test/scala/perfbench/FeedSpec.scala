package perfbench

import java.nio.file.Files

class FeedSpec extends SparkSuite {
  private def dataFiles(dir: String): Seq[(String, Seq[Byte])] =
    LocalFiles.walk(dir).filter(_.getFileName.toString.startsWith("part-"))
      .map(p => (p.getParent.getFileName.toString, Files.readAllBytes(p).toSeq))
      .sortBy(_._1)

  private def batches(seed: Long) =
    Seq(Feed.days(seed, 0, 2), Feed.increment(seed, 2), Feed.increment(seed, 3))

  test("the same seed yields byte-identical batch files") {
    val (a, b) = (tempDir("feed_a"), tempDir("feed_b"))
    Feed.write(spark, batches(7), s"$a/feed")
    Feed.write(spark, batches(7), s"$b/feed")
    val (fa, fb) = (dataFiles(a), dataFiles(b))
    assert(fa.map(_._1) == Seq("batch=0", "batch=1", "batch=2"))
    assert(fa == fb)
  }

  test("another seed yields other batches") {
    val (a, b) = (tempDir("feed_a"), tempDir("feed_b"))
    Feed.write(spark, batches(7), s"$a/feed")
    Feed.write(spark, batches(8), s"$b/feed")
    assert(dataFiles(a).map(_._2) != dataFiles(b).map(_._2))
  }

  test("an increment is one day plus 5% late duplicates of the previous day, out of order") {
    val inc = Feed.increment(3, 5)
    val minute = (r: org.apache.spark.sql.Row) =>
      r.getTimestamp(0).getTime / 60000 - Feed.OriginMinute
    val minutes = inc.map(minute)
    val day = 5L * Feed.MinutesPerDay
    assert(inc.length == 1440 + 72)
    assert(minutes.count(m => m >= day && m < day + 1440) == 1440)
    assert(minutes.count(m => m >= day - 1440 && m < day) == 72)
    assert(minutes.distinct.length == inc.length)
    assert(minutes != minutes.sorted)
    // a late duplicate repeats its original row exactly
    val original = Feed.days(3, 4, 1).map(r => minute(r) -> r).toMap
    inc.filter(r => minute(r) < day).foreach(r => assert(original(minute(r)) == r))
  }
}
