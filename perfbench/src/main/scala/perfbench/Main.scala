package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> --cache <dir>
  *        [--trace-out <spans.json>] [--dump <dir>]
  *   Main --workload prepare-cache --work <dir> --cache <dir>
  *
  * Sets the workload up once, in the fresh JVM, then runs its operations
  * in a closed loop with one caller until `--seconds` have passed and at
  * least `Workload.minPasses` passes are complete, then checks the
  * outputs. With `--trace 1` the passes the workload picks run through
  * the traced call path and the per-layer figures are reported instead
  * of the end-to-end ones.
  * `prepare-cache` builds the inputs that depend only on the code (the
  * mix tables and the pipeline history) into the cache and exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val cache = a("cache")
    Files.createDirectories(Paths.get(work))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (workload == "prepare-cache") {
      MixWorkload.ensureTables(spark, cache)
      History.ensure(spark, cache)
      spark.stop()
      return
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val counters = Counters.register(spark)

    val w: Workload = workload match {
      case "pipeline_increment" => new IncrementWorkload(spark, s"$work/data", seed, cache)
      case "query_mix" => new MixWorkload(spark, seed, cache, a.get("dump"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tp = System.nanoTime()
    w.prepare()
    log(f"inputs generated in ${(System.nanoTime() - tp) / 1e9}%.2f s")
    val ts0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - ts0) / 1e9
    log(f"setup: $setupS%.2f s")

    counters.drain()
    val tracer = new Tracer
    val tracedPasses = scala.collection.mutable.Set.empty[Int]
    var failedOps = 0
    val heapLiveMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = w.minPasses(trace)
    while (!(i % w.opsPerPass == 0 && i / w.opsPerPass >= minPasses && elapsed >= seconds)) {
      val pass = i / w.opsPerPass
      val traced = trace && w.tracedPass(pass)
      if (traced) tracedPasses += pass
      w.beforeOp(i)
      val ts = System.nanoTime()
      try tracer.span("op", i)(w.op(i, if (traced) Some(tracer) else None))
      catch { case e: Exception =>
        failedOps += 1
        log(s"operation $i failed: $e")
      }
      log(f"op $i ${w.label(i)}: ${(System.nanoTime() - ts) / 1e9}%.3f s")
      // the heap each operation leaves live, read before its outputs are
      // released; the full collection this takes stays out of untraced runs
      if (trace) heapLiveMb += Heap.liveMb()
      w.afterOp(i)
      i += 1
    }
    counters.drain()
    val rec = RunRecord(tracer.spans, counters.jobRecs, counters.stageRecs, counters.planRecs,
      w.opsPerPass, tracedPasses.toSet)
    val passes = rec.passes
    passes.foreach(p => log(f"pass ${rec.passOf(p.head.op)}: ${rec.passWallS(p)}%.3f s" +
      (if (tracedPasses(rec.passOf(p.head.op))) " (traced)" else "")))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        def med(f: Seq[Span] => Double) = Stats.median(passes.map(f))
        val wall = Stats.summary(passes.map(rec.passWallS))
        log(s"pass wall: ${wall.toJson}")
        Seq(("setup_s", setupS, "s"),
          ("pass_s", wall.median, "s"),
          ("cpu_s", med(p => rec.work(p).map(_.cpuS).sum), "s"),
          ("write_mb", med(p => rec.work(p).map(_.writeMb).sum), "MB"))
      } else {
        val layers = rec.sparkLayer ++ w.layers(rec) + ("trace.overhead_pct" -> rec.overheadPct) +
          ("spark.heap_live_mb" -> Stats.median(heapLiveMb.toSeq))
        PerLayer.All.map { case (n, unit) => (n, layers.getOrElse(n, 0.0), unit) }
      }
    val tc = System.nanoTime()
    val checks = w.checks()
    log(f"timed loop ${(tc - t0) / 1e9}%.1f s, checks ${(System.nanoTime() - tc) / 1e9}%.1f s")
    checks.foreach(c => log(s"check ${if (c.ok) "ok" else "FAILED"}: ${c.name} (${c.detail})"))

    val env = Seq("cpus" -> cpus.toString, "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    log("env: " + env.map { case (k, v) => s"$k=$v" }.mkString(" "))
    a.get("trace-out").foreach { f =>
      Files.writeString(Paths.get(f), Spans.toJson(tracer.spans))
    }

    val failed = failedOps + checks.count(!_.ok)
    val attempted = i + checks.length
    val json = s"""{"correct": ${failed == 0 && passes.nonEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
        .mkString(", ") + "}}"
    Files.writeString(Paths.get(a("out")), json + "\n")
    counters.stop()
    spark.stop()
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}
