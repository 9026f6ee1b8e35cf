package whbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, to_json, xxhash64}
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Full-evaluation sink and result fingerprint. Every output column is
  * hashed per row (map columns serialized first: Spark refuses to hash
  * MapType), and the rows fold to (row count, exact decimal sum of the
  * row hashes). Order-independent, so a partitioned sink read back in
  * any order fingerprints the same, and a sum rather than an xor, so
  * duplicate rows cannot cancel out. */
object Fingerprint {
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _          => col(f.name)
      }
    }
    df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  def of(df: DataFrame): String = collect(frame(df))

  def collect(fp: DataFrame): String = {
    val r = fp.collect()(0)
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }
}

/** Sample statistics and process counters. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this JVM process so far. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Milliseconds spent in garbage collection so far. */
  def gcMillis(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Live heap in MB after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Minimal JSON writer for the result file (numbers, strings, maps). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_]    => s.map(apply).mkString("[", ",", "]")
    case d: Double    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int       => n.toString
    case n: Long      => n.toString
    case b: Boolean   => b.toString
    case s: String    => str(s)
    case null         => "null"
    case other        => str(other.toString)
  }
}
