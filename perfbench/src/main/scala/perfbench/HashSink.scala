package perfbench

import java.security.MessageDigest
import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink shaped like Spark's `noop` sink (a batch write that
  * accepts any schema and keeps nothing) that also fingerprints what it
  * is given: the row count and the sum of a 64-bit digest per row, with
  * floating-point values rounded to 4 decimals first. The result lands
  * under the write's `id` option. This lets the timed action of a query
  * double as its output check, instead of running the query twice. It is
  * the benchmark's one content fingerprint: the pipeline checks compare
  * sink tables through it too ([[HashSink.of]]).
  *
  *   df.write.format(classOf[HashSink].getName).option("id", "q1").mode("overwrite").save()
  */
final class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = HashSink.SinkTable
}

object HashSink {
  /** Row count and the sum of the per-row digests. */
  final case class Fp(rows: Long, hash: BigDecimal) {
    override def toString: String = s"$rows:$hash"
  }

  def parse(s: String): Fp = {
    val Array(r, h) = s.split(":", 2)
    Fp(r.toLong, BigDecimal(h))
  }

  private val results = new ConcurrentHashMap[String, Fp]()

  /** The fingerprint of the last committed write with this id. */
  def take(id: String): Option[Fp] = Option(results.remove(id))

  /** Writes `df` through the sink and returns its fingerprint. */
  def of(df: DataFrame): Fp = {
    val id = s"of-${java.util.UUID.randomUUID()}"
    df.write.format(classOf[HashSink].getName).option("id", id).mode("overwrite").save()
    take(id).get
  }

  private object SinkTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new HashBatchWrite(info.options.getOrDefault("id", ""), info.schema)
        }
      }
  }

  private final case class Partial(rows: Long, sum: BigInt) extends WriterCommitMessage

  private final class HashBatchWrite(id: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Partial => p }
      results.put(id, Fp(parts.map(_.rows).sum, BigDecimal(parts.map(_.sum).sum)))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class HashWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        private val md = MessageDigest.getInstance("SHA-256")
        private var rows = 0L
        private var sum = BigInt(0)
        override def write(r: InternalRow): Unit = {
          rows += 1
          sum += digest(toRow(r).asInstanceOf[Row])
        }
        override def commit(): WriterCommitMessage = Partial(rows, sum)
        override def abort(): Unit = ()
        override def close(): Unit = ()

        private def digest(row: Row): Long = {
          val d = md.digest(canonical(row).getBytes("UTF-8"))
          java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        }
      }
  }

  /** A rendering of a value that ignores float noise below 1e-4. */
  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => roundedString(d)
    case f: Float => roundedString(f.toDouble)
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** `d`'s shortest decimal rounded half-up to 4 places. Away from a tie
    * (more than 1e-3 from x.5 after scaling) the scaled double rounds to
    * the same integer, which is much cheaper than the decimal arithmetic.
    */
  private def roundedString(d: Double): String = {
    val v = d * 1e4
    if (math.abs(v) < 1e12 && math.abs(v - math.floor(v) - 0.5) > 1e-3) fixed4(math.round(v))
    else if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if (r.signum == 0) "0.0000" else r.toString
    }
  }

  private def fixed4(r: Long): String =
    if (r == 0) "0.0000"
    else {
      val a = math.abs(r)
      val frac = (a % 10000).toString
      (if (r < 0) "-" else "") + (a / 10000) + "." + "0000".substring(frac.length) + frac
    }
}
