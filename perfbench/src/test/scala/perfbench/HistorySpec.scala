package perfbench

import graft.medallion.PowerPipeline

/** The one-pass history must leave the sink daily `runIncrement` calls leave. */
class HistorySpec extends SparkSuite {
  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file and directory under `dir`, relative, with write ids blanked. */
  private def layout(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .map(p => uuid.replaceAllIn(root.relativize(p).toString, "*")).toSeq.sorted
    finally s.close()
  }

  test("the one-pass history equals daily increments: layout, schemas and rows per batch") {
    val days = 3
    val fast = tempDir("history_fast")
    History.build(spark, fast, days)
    val feed = tempDir("history_feed") + "/feed"
    Feed.write(spark, (0 until days).map(Feed.increment(History.Seed, _)), feed)
    val daily = PowerPipeline.Paths(tempDir("history_daily"))
    (0 until days).foreach(d => PowerPipeline.runIncrement(spark, Feed.read(spark, feed, d), daily))

    val built = PowerPipeline.Paths(s"$fast/sink")
    assert(LocalFiles.list(fast).map(_.getFileName.toString) == Seq("sink"))
    PipelineChecks.tables(daily).zip(PipelineChecks.tables(built)).foreach {
      case ((name, want, _), (_, got, _)) =>
        assert(layout(got) == layout(want), name)
        assert(LocalFiles.batchDirs(got).length == days, name)
        (0 until days).foreach { b =>
          val (w, g) = (spark.read.parquet(s"$want/batch=$b"), spark.read.parquet(s"$got/batch=$b"))
          assert(g.schema == w.schema, s"$name batch=$b")
          assert(HashSink.of(g) == HashSink.of(w), s"$name batch=$b")
        }
    }
  }
}
