package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Seeded tables in the shape the registered queries read (a TPC-H-like
  * star schema plus `events`, `documents` and `embeddings`), one parquet
  * file per table, at the row counts of scale factor 0.01. Timestamps are
  * written without a time zone, as the query suite's own inputs are.
  */
object MixData {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "vector", "dup")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("red", "blue", "old", "new", "hot", "cold", "small", "large")
  private val nouns = Seq("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut")
  private val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("signup", "click", "view", "purchase", "error")
  private val langs = Seq("en", "en", "en", "es", "fr", "de", "zh")

  private def r2(v: Double) = math.rint(v * 100) / 100
  private def day(from: String, plusDays: Int) =
    Timestamp.valueOf(java.time.LocalDate.parse(from).plusDays(plusDays).atStartOfDay())

  /** Row counts are those of this scale factor of the TPC-H-like tables. */
  val ScaleFactor = 0.01

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    def n(base: Double) = math.max(1, math.round(base * ScaleFactor).toInt)
    val (customers, suppliers, parts) = (n(150000), n(10000), n(200000))
    val orders = n(1500000)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      df.select(df.columns.toSeq.map { c =>
        if (df.schema(c).dataType == TimestampType) col(c).cast(TimestampNTZType).as(c) else col(c)
      }: _*).write.parquet(s"$dir/$name.parquet")
    }
    def st(fields: (String, DataType)*) = StructType(fields.map { case (f, t) => StructField(f, t) })

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (r, i) => Row(i, r) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(5)))))
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until parts).map(i => Row(i.toLong,
        s"${adjectives(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}", s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(6)), 1 + rnd.nextInt(50), r2(900 + (i % 1000) * 0.1))))
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until orders).map(i => Row(i.toLong, rnd.nextInt(customers).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)), r2(1000 + rnd.nextDouble() * 499000),
        day("1995-01-01", rnd.nextInt(2404)), priorities(rnd.nextInt(5)))))
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until n(6000000)).map(_ => Row(rnd.nextInt(orders).toLong, rnd.nextInt(parts).toLong,
        rnd.nextInt(suppliers).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        r2(900 + rnd.nextDouble() * 104100), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        day("1995-01-02", rnd.nextInt(2498)))))

    val eventCount = n(1000000)
    val month = 30L * 86400 * 1000000
    val eventTimes = Seq.fill(eventCount)((rnd.nextDouble() * month).toLong).sorted
    val jan = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
    save("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      eventTimes.zipWithIndex.map { case (us, i) =>
        val ts = new Timestamp((jan + us) / 1000)
        ts.setNanos((((jan + us) % 1000000) * 1000).toInt)
        Row(i.toLong, ts, rnd.nextInt(n(15000)).toLong, eventTypes(rnd.nextInt(5)),
          math.max(0.01, r2(-50 * math.log(1 - rnd.nextDouble()))), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // every tenth document is a near copy of an earlier one (a word or two
    // changed), so the dedup queries have pairs to find
    val docs = (0 until 500).foldLeft(Vector.empty[String]) { (acc, i) =>
      val text =
        if (i >= 10 && i % 10 == 0) {
          val base = acc(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(2)).foreach(_ => base(rnd.nextInt(base.length)) = words(rnd.nextInt(words.length)))
          base.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(80))(words(rnd.nextInt(words.length))).mkString(" ")
      acc :+ text
    }
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      docs.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
      })

    val centroids = Seq.fill(10)(Seq.fill(64)(rnd.nextGaussian()))
    val vecs = (0 until 500).foldLeft(Vector.empty[(Seq[Double], Int)]) { (acc, i) =>
      val (raw, label) =
        if (i >= 20 && i % 20 == 0) {
          val (v, l) = acc(rnd.nextInt(i))
          (v.map(_ + 0.01 * rnd.nextGaussian()), l)
        } else {
          val l = rnd.nextInt(10)
          (centroids(l).map(_ + 0.8 * rnd.nextGaussian()), l)
        }
      val norm = math.sqrt(raw.map(x => x * x).sum)
      acc :+ (raw.map(_ / norm) -> label)
    }
    save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      vecs.zipWithIndex.map { case ((v, l), i) => Row(i.toLong, v.map(_.toFloat), l) })
  }
}
