package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.BuildTiming

/** A fixed mix of registered queries, each planned through
  * `SparkEntry.queries` and run through [[HashSink]] (the `noop` sink's
  * shape, plus an output fingerprint), in an order the seed permutes.
  * The tables are the same on every run (generated from
  * [[MixWorkload.DataSeed]]), so every query's output is pinned.
  */
final class MixWorkload(spark: SparkSession, seed: Long, cache: String,
    dump: Option[String]) extends Workload {
  import MixWorkload._

  val opsPerPass: Int = Queries.length
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Queries)
  private var dir = ""
  private var last: DataFrame = _
  private val seen = mutable.LinkedHashMap.empty[String, HashSink.Fp]

  def prepare(): Unit = dir = ensureTables(spark, cache)

  /** Reads every table once through the program's table readers and runs
    * one query from outside the mix, which compiles the shared code paths
    * before the timed pass.
    */
  def setup(): Unit = {
    MixData.Tables.foreach { t =>
      val df = if (t == "events") graft.engine.Tables.events(spark, dir)
        else graft.engine.Tables.table(spark, dir, t)
      df.count()
    }
    SparkEntry.queries(WarmUpQuery)(spark, dir).write.format("noop").mode("overwrite").save()
    releaseCheckpoints()
    BuildTiming.drainSeconds()
  }

  override def label(i: Int): String = order(i % opsPerPass)

  def op(i: Int, t: Option[Tracer]): Unit = {
    val name = order(i % opsPerPass)
    def plan() = SparkEntry.queries(name)(spark, dir)
    def action(df: DataFrame) =
      df.write.format(classOf[HashSink].getName).option("id", name).mode("overwrite").save()
    last = null
    t match {
      case None =>
        last = plan()
        action(last)
      case Some(tr) =>
        tr.span(s"queries.$name", i) {
          last = tr.span("queries.plan", i) {
            val df = plan()
            // store builds run inside the registry call; the program
            // reports their wall time, carved out of the plan span here
            tr.record("engine.build", i, (BuildTiming.drainSeconds() * 1e9).toLong)
            df
          }
          tr.span("queries.action", i)(action(last))
        }
    }
  }

  override def afterOp(i: Int): Unit = {
    val name = order(i % opsPerPass)
    HashSink.take(name).foreach(fp => if (!seen.contains(name)) seen(name) = fp)
    if (last != null)
      dump.foreach(d => last.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
    last = null
    BuildTiming.drainSeconds()
    releaseCheckpoints()
  }

  def checks(): Seq[Check] = {
    dump.foreach { d =>
      MixData.write(spark, s"$d/sf", DataSeed)
      Files.writeString(Paths.get(s"$d/pins.tsv"),
        seen.map { case (q, fp) => s"$q\t$fp\n" }.mkString)
      Files.writeString(Paths.get(s"$d/oracle_sql.json"),
        Queries.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
          .mkString("{\n", ",\n", "\n}\n"))
    }
    Queries.map { q =>
      val want = Pins.get(q)
      val got = seen.get(q)
      Check(s"$q matches its pinned rows and fingerprint", want.isDefined && want == got,
        s"pinned ${want.getOrElse("-")}, got ${got.getOrElse("-")}")
    }
  }

  def layers(r: RunRecord): Map[String, Double] = {
    def wall(n: String) = r.perPass(p => r.wallS(r.named(p, n)))
    val perQuery = Queries.flatMap { q =>
      val n = s"queries.$q"
      Seq(s"${n}_s" -> wall(n),
        s"${n}_cpu_s" -> r.perPass(p => r.workOf(r.named(p, n)).map(_.cpuS).sum),
        s"${n}_jobs" -> r.perPass(p => r.workOf(r.named(p, n)).map(_.jobs.toDouble).sum))
    }
    (perQuery ++ Seq(
      "queries.plan_s" -> wall("queries.plan"),
      "queries.action_s" -> wall("queries.action"),
      "engine.build_s" -> wall("engine.build"))).toMap
  }

  /** Drops the storage blocks of frames the previous query checkpointed. */
  private def releaseCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object MixWorkload {
  val Queries: Seq[String] = Seq("q05_star_join", "q21_minhash_lsh",
    "q138_fuzzy_join", "q102_ann_ivf_pq", "q139_bm25", "q188_text_delete",
    "q327_join_size_sketch", "q280_quantile_sketch", "q164_feed_bronze")

  /** Run once in set-up, before the timed pass. */
  val WarmUpQuery = "q45_moving_avg_scaled"

  /** The seed of the mix's tables; the run's own seed only orders the queries. */
  val DataSeed = 20240101L

  /** The tables depend on nothing but [[DataSeed]] and the generator, so
    * they are built once into the cache of a build; returns their directory.
    */
  def ensureTables(spark: SparkSession, cache: String): String = {
    val dir = s"$cache/mix-$DataSeed"
    if (!Files.exists(Paths.get(dir, "_COMPLETE"))) {
      LocalFiles.deleteTree(dir)
      MixData.write(spark, dir, DataSeed)
      Files.createFile(Paths.get(dir, "_COMPLETE"))
    }
    dir
  }

  /** Row count and content fingerprint of every query in the mix. */
  lazy val Pins: Map[String, HashSink.Fp] = {
    val in = getClass.getResourceAsStream("/perfbench/mix_pins.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\t"); q -> HashSink.parse(fp) }.toMap
    finally in.close()
  }
}
