package perfbench

import graft.medallion.PowerPipeline

/** The traced path must be the untraced one with spans around it. */
class MirrorSpec extends SparkSuite {
  test("increments driven through the mirrored calls leave the same sinks as runIncrement") {
    val feed = tempDir("mirror_feed") + "/feed"
    Feed.write(spark, Seq(Feed.days(11, 0, 1), Feed.increment(11, 1), Feed.increment(11, 2)), feed)
    val plain = PowerPipeline.Paths(tempDir("mirror_plain"))
    val traced = PowerPipeline.Paths(tempDir("mirror_traced"))
    val t = new Tracer
    (0 to 2).foreach { i =>
      PowerPipeline.runIncrement(spark, Feed.read(spark, feed, i), plain)
      PowerPipeline.exportCsv(spark, plain)
      Mirror.runIncrement(spark, Feed.read(spark, feed, i), traced, t, i)
      Mirror.exportCsv(spark, traced, t, i)
    }
    assert(PipelineChecks.sinkState(spark, plain) == PipelineChecks.sinkState(spark, traced))
    def csv(p: PowerPipeline.Paths) = spark.read.option("header", "true").csv(p.mlCsv)
    assert(HashSink.of(csv(plain)) == HashSink.of(csv(traced)))
    PipelineChecks.tables(plain).foreach { case (_, path, _) =>
      assert(LocalFiles.batchDirs(path).length ==
        LocalFiles.batchDirs(path.replace(plain.base, traced.base)).length)
    }

    val names = t.spans.map(_.name.takeWhile(_ != '/')).toSet
    assert(Set("medallion.bronze", "medallion.silver", "medallion.gold", "medallion.export",
      "engine.watermark", "engine.sink_open", "engine.sink_append").subsetOf(names))
    // the layers of one increment nest their engine calls and run in order
    val layers = t.spans.filter(s => s.op == 1 && s.name.startsWith("medallion."))
    assert(layers.map(_.name) == Seq("medallion.bronze", "medallion.silver",
      "medallion.gold", "medallion.export"))
    t.spans.filter(s => s.op == 1 && s.name.startsWith("engine.")).foreach { s =>
      assert(layers.exists(_.id == s.parent))
    }
  }

  test("the checks pass on a sink the pipeline built and see a changed row") {
    val feed = tempDir("checks_feed") + "/feed"
    Feed.write(spark, Seq(Feed.days(12, 0, 1), Feed.increment(12, 1)), feed)
    val p = PowerPipeline.Paths(tempDir("checks_sink"))
    (0 to 1).foreach(i => PowerPipeline.runIncrement(spark, Feed.read(spark, feed, i), p))
    PowerPipeline.exportCsv(spark, p)
    val checks = PipelineChecks.run(spark, p, 2L * Feed.MinutesPerDay, Feed.read(spark, feed, 1))
    assert(checks.length == 6 && checks.forall(_.ok), checks.filterNot(_.ok).mkString("; "))

    // a gold row that no longer matches its fact rows fails the recompute check
    val gold = graft.engine.IdempotentSink.read(spark, p.gold)
    val bad = PowerPipeline.Paths(tempDir("checks_bad"))
    Seq(p.bronze -> bad.bronze, p.dim -> bad.dim, p.fact -> bad.fact).foreach { case (from, to) =>
      graft.engine.IdempotentSink.appendIfAbsent(spark,
        graft.engine.IdempotentSink.read(spark, from), to, Seq(if (from == p.bronze) "minutes1_utc" else "time_id"))
    }
    graft.engine.IdempotentSink.appendIfAbsent(spark,
      gold.withColumn("avg_co2_emission", org.apache.spark.sql.functions.col("avg_co2_emission") + 1),
      bad.gold, Seq("time_id"))
    PowerPipeline.exportCsv(spark, bad)
    val badChecks = PipelineChecks.run(spark, bad, 2L * Feed.MinutesPerDay, Feed.read(spark, feed, 1))
    assert(badChecks.filterNot(_.ok).map(_.name) ==
      Seq("incremental gold equals Gold.features over the full fact"))
  }
}
