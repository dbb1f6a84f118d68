package perfbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{IdempotentSink, Watermark}
import graft.medallion.{Gold, PowerPipeline}

/** The scheduled production path: each operation is one daily increment
  * (`PowerPipeline.runIncrement`) followed by the CSV export
  * (`PowerPipeline.exportCsv`), or in a traced pass [[Mirror]]'s
  * span-wrapped copy of the same calls. The sink starts as [[History]]:
  * the layout `History.Days` scheduled daily runs leave, one `batch=`
  * directory per table per day. Set-up copies it and applies the run's
  * first day with its export, in a fresh JVM as a scheduled job does.
  * Every timed operation applies the second day to the same sink:
  * before each operation the previous one's commits are rolled back (its
  * `batch=` directories removed), so the history is a fixed parameter
  * however many operations a run makes. The run's two days come from its
  * seed and are written to parquet before set-up.
  */
final class IncrementWorkload(spark: SparkSession, work: String, seed: Long,
    cache: String) extends Workload {
  val opsPerPass = 1
  private val feedDir = s"$work/feed"
  private val paths = PowerPipeline.Paths(s"$work/sink")
  private var history = ""

  def prepare(): Unit = {
    history = History.ensure(spark, cache)
    Feed.write(spark, Seq(Feed.increment(seed, History.Days, History.Seed),
      Feed.increment(seed, History.Days + 1)), feedDir)
  }

  /** Opens the history and applies the first day, with its export. */
  def setup(): Unit = {
    LocalFiles.copyTree(history, paths.base)
    PowerPipeline.runIncrement(spark, Feed.read(spark, feedDir, 0), paths)
    PowerPipeline.exportCsv(spark, paths)
    committed = tableBatches()
  }

  // the batch directories of each sink table after set-up
  private var committed: Seq[Set[String]] = Nil

  private def tableBatches(): Seq[Set[String]] =
    PipelineChecks.tables(paths).map(t => LocalFiles.batchDirs(t._2).map(_.toString).toSet)

  override def beforeOp(i: Int): Unit =
    tableBatches().zip(committed).foreach { case (now, kept) =>
      (now -- kept).foreach(LocalFiles.deleteTree)
    }

  def op(i: Int, t: Option[Tracer]): Unit = {
    val batch = Feed.read(spark, feedDir, 1)
    t match {
      case Some(tr) =>
        Mirror.runIncrement(spark, batch, paths, tr, i)
        Mirror.exportCsv(spark, paths, tr, i)
      case None =>
        PowerPipeline.runIncrement(spark, batch, paths)
        PowerPipeline.exportCsv(spark, paths)
    }
  }

  /** Plain, traced, plain, traced, ...: a traced run times both paths. */
  override def tracedPass(p: Int): Boolean = p % 2 == 1

  /** One operation, the first after set-up, which runs about 2 s longer
    * than later ones while the JIT compiles the path; a second one would
    * cost more than the run budget allows. A traced run makes five, three
    * plain (the first among them, left out by their median) and two
    * traced.
    */
  override def minPasses(trace: Boolean): Int = if (trace) 5 else 1

  def checks(): Seq[Check] =
    PipelineChecks.run(spark, paths, (History.Days + 2).toLong * Feed.MinutesPerDay,
      Feed.read(spark, feedDir, 1))

  def layers(r: RunRecord): Map[String, Double] = {
    def wall(n: String) = r.perPass(p => r.wallS(r.named(p, n)))
    def self(n: String) = r.perPass(p => r.selfS(r.named(p, n)))
    def sum(n: String)(g: Work => Double) = r.perPass(p => r.workOf(r.named(p, n)).map(g).sum)
    val medallion = Seq("bronze", "silver", "gold", "export").flatMap { l =>
      val n = s"medallion.$l"
      Seq(s"${n}_s" -> wall(n), s"${n}_self_s" -> self(n),
        s"${n}_jobs" -> sum(n)(_.jobs), s"${n}_cpu_s" -> sum(n)(_.cpuS))
    }
    val rowsOut = Seq("bronze" -> "bronze", "silver" -> "fact", "gold" -> "gold").map {
      case (layer, table) =>
        s"medallion.${layer}_rows_out" -> sum(s"engine.sink_append/$table")(_.recordsWritten.toDouble)
    }
    val offered = Feed.MinutesPerDay + math.round(Feed.MinutesPerDay * Feed.LateShare)
    val (files, batchDirs, storedMb) = LocalFiles.sinkLayout(paths)
    (medallion ++ rowsOut ++ Seq(
      "medallion.bronze_accept_ratio" ->
        sum("engine.sink_append/bronze")(_.recordsWritten.toDouble) / offered,
      "engine.watermark_s" -> wall("engine.watermark"),
      "engine.sink_open_s" -> wall("engine.sink_open"),
      "engine.sink_append_s" -> wall("engine.sink_append"),
      "engine.sink_append_jobs" -> sum("engine.sink_append")(_.jobs),
      "engine.sink_write_mb" -> sum("engine.sink_append")(_.writeMb),
      "engine.sink_files" -> files.toDouble,
      "engine.sink_batch_dirs" -> batchDirs.toDouble,
      "engine.stored_mb" -> storedMb)).toMap
  }
}

/** The sink of a pipeline that has run once a day for [[Days]] days: each
  * table holds one `batch=<day>` directory per day, as the daily commits
  * of `runIncrement` leave it. It depends only on [[Seed]] and the code,
  * so it is built once into the cache of a build and copied at each
  * set-up.
  */
object History {
  /** Past the 32 `batch=` directories per table at which an increment's
    * cost steps up (see the README's findings).
    */
  val Days = 60
  val Seed = 20230101L

  /** The history's sink directory under `cache`, built if missing. */
  def ensure(spark: SparkSession, cache: String): String = {
    val dir = s"$cache/history-$Seed-$Days"
    if (!Files.exists(Paths.get(dir, "_COMPLETE"))) {
      LocalFiles.deleteTree(dir)
      val t0 = System.nanoTime()
      build(spark, dir, Days)
      Main.log(f"history of $Days days built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      Files.createFile(Paths.get(dir, "_COMPLETE"))
    }
    s"$dir/sink"
  }

  /** Builds under `dir/sink` the sink that `days` daily `runIncrement`
    * calls leave, in one pass: one `runIncrement` over all the days'
    * minutes, then each table split into one `batch=<day>` directory per
    * day holding one data file and a `_SUCCESS` marker, named as a daily
    * append names them. `HistorySpec` checks that this gives the same
    * directories, files, schemas and rows per batch as daily calls; the
    * daily calls themselves take about five minutes for 60 days on 4
    * cores, which the run budget cannot spend twice.
    */
  def build(spark: SparkSession, dir: String, days: Int): Unit = {
    val feed = s"$dir/feed"
    Feed.write(spark, Seq(Feed.days(Seed, 0, days)), feed)
    val once = PowerPipeline.Paths(s"$dir/once")
    PowerPipeline.runIncrement(spark, Feed.read(spark, feed, 0), once)
    val sink = PowerPipeline.Paths(s"$dir/sink")
    PipelineChecks.tables(once).zip(PipelineChecks.tables(sink)).foreach {
      case ((_, from, key), (_, to, _)) =>
        val day = floor((col(key).cast("long") / 60 - Feed.OriginMinute) / Feed.MinutesPerDay)
        IdempotentSink.read(spark, from).withColumn("batch", day.cast("long"))
          .repartition(col("batch")).write.partitionBy("batch").parquet(to)
        val root = new HPath(to)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new HPath(root, "_SUCCESS"), false)
        // the names a one-file append gives its data file and marker
        fs.listStatus(root).filter(_.getPath.getName.startsWith("batch=")).foreach { b =>
          fs.listStatus(b.getPath).map(_.getPath).filter(_.getName.startsWith("part-")).foreach { f =>
            val name = "part-00000" + f.getName.drop(10).replace(".c000", "-c000")
            fs.rename(f, new HPath(b.getPath, name))
          }
          fs.create(new HPath(b.getPath, "_SUCCESS")).close()
        }
    }
    LocalFiles.deleteTree(feed)
    LocalFiles.deleteTree(once.base)
  }
}

object PipelineChecks {
  /** The CSV header the reference export writes (`gold_aggr.py`). */
  val ExportColumns: Seq[String] = Seq("time_id", "avg_co2_emission", "avg_total_production",
    "avg_renewable_ratio", "avg_solar_production", "avg_wind_production",
    "avg_offshore_wind", "avg_onshore_wind", "production_volatility",
    "co2_volatility", "wind_solar_ratio", "hour_of_day", "is_weekend", "season")

  def tables(p: PowerPipeline.Paths): Seq[(String, String, String)] = Seq(
    ("bronze", p.bronze, "minutes1_utc"), ("dim", p.dim, "time_id"),
    ("fact", p.fact, "time_id"), ("gold", p.gold, "time_id"))

  /** Per table: (name, content fingerprint). */
  def sinkState(spark: SparkSession, p: PowerPipeline.Paths): Seq[(String, HashSink.Fp)] =
    tables(p).map { case (n, path, _) => (n, HashSink.of(IdempotentSink.read(spark, path))) }

  /** Runs after the timed loop, whose last operation exported the CSV. */
  def run(spark: SparkSession, p: PowerPipeline.Paths, minutesFed: Long,
      lastBatch: DataFrame): Seq[Check] = {
    // one read per table serves every check before the rerun
    val frames = tables(p).map { case (n, path, _) => n -> IdempotentSink.read(spark, path) }.toMap
    val before = tables(p).map { case (n, _, _) => (n, HashSink.of(frames(n))) }
    val keys = tables(p).map { case (n, _, key) => frames(n).select(key).distinct().count() }
    val noDup = Check("no duplicate keys in any sink table",
      before.zip(keys).forall { case (t, k) => t._2.rows == k },
      before.zip(keys).map { case (t, k) => s"${t._1}: ${t._2.rows} rows, $k keys" }.mkString("; "))
    val rows = Check("sink row counts equal the distinct minutes fed",
      before.forall(_._2.rows == minutesFed),
      s"fed $minutesFed; " + before.map(t => s"${t._1}=${t._2.rows}").mkString(" "))

    val goldFp = before.find(_._1 == "gold").get._2
    val full = Gold.features(frames("fact"), frames("dim"), Watermark.Epoch)
      .select(frames("gold").columns.toSeq.map(c => col(s"`$c`")): _*)
    val fullFp = HashSink.of(full)
    val recompute = Check("incremental gold equals Gold.features over the full fact",
      goldFp == fullFp, s"incremental $goldFp, full $fullFp")

    val csv = LocalFiles.list(p.mlCsv).filter(_.getFileName.toString.endsWith(".csv"))
    val lines = csv.map(f => Files.readAllLines(f).asScala.toSeq)
    val header = lines.flatMap(_.headOption).headOption.getOrElse("")
    val cols = Check("export has the reference columns in reference order",
      header.split(",").toSeq == ExportColumns, s"header: $header")
    val csvRows = lines.map(l => math.max(l.length - 1, 0)).sum.toLong
    val exportRows = Check("export row count equals gold row count", csvRows == goldFp.rows,
      s"export $csvRows, gold ${goldFp.rows}")

    val dirsBefore = tables(p).map(t => LocalFiles.batchDirs(t._2).length).sum
    PowerPipeline.runIncrement(spark, lastBatch, p)
    val after = sinkState(spark, p)
    val dirsAfter = tables(p).map(t => LocalFiles.batchDirs(t._2).length).sum
    def show(s: Seq[(String, HashSink.Fp)]) = s.map(t => s"${t._1}=${t._2}").mkString(" ")
    val rerun = Check("rerunning the last increment leaves every sink table's content unchanged",
      before == after,
      s"before ${show(before)} after ${show(after)}")
    if (dirsAfter != dirsBefore)
      Main.log(s"note: the no-op rerun committed ${dirsAfter - dirsBefore} new batch " +
        "directories (each holding an empty data file) across the four sink tables")
    Seq(noDup, rows, recompute, cols, exportRows, rerun)
  }
}

/** Small filesystem helpers for the benchmark's own directories. */
object LocalFiles {
  def list(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }
  }

  def walk(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  def batchDirs(table: String): Seq[JPath] =
    list(table).filter(_.getFileName.toString.startsWith("batch="))

  /** Copies the regular files and directories under `from` to `to`. */
  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val target = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(target) else Files.copy(f, target)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    require(dir.nonEmpty, "no directory to delete")
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }

  /** Data files and batch directories of the four sink tables, and the
    * on-disk megabytes of those tables plus the export.
    */
  def sinkLayout(p: PowerPipeline.Paths): (Int, Int, Double) = {
    val tables = Seq(p.bronze, p.dim, p.fact, p.gold)
    val files = tables.flatMap(walk).count(_.getFileName.toString.startsWith("part-"))
    val dirs = tables.map(batchDirs(_).length).sum
    val bytes = (tables :+ p.mlCsv).flatMap(walk).map(Files.size).sum
    (files, dirs, bytes / 1e6)
  }
}
