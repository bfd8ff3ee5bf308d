package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run hands back: operation counts, the end-to-end
  * metrics (always measured), the per-layer metrics (traced runs only), and
  * the facts that make the record self-describing. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    facts: Map[String, Any])

/** The context every workload runs in. `listener` is set only in a traced
  * run; it is attached to the context for traced operations only, so the
  * untraced operations of the same run give the tracing overhead. */
final class Ctx(val spark: SparkSession, val workload: String,
    val seed: Long, val seconds: Double, val work: String,
    val fixture: String, val listener: Option[ExecListener],
    val spans: Spans) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Note that phase `name` of the run ended now (seconds since the JVM
    * started). */
  def mark(name: String): Unit =
    marks(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def timeline: Map[String, Double] = marks.toMap
  mark("session")

  def attempts: Long = attempted
  def failed: Seq[String] = failures.toSeq

  /** Record one checked operation; a mismatch is printed by name. */
  def check(name: String)(ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failures += name
      System.err.println(s"[perfbench] WRONG $name: $detail")
    }
  }

  /** A failed operation (an exception) counts as a wrong one. */
  def fail(name: String, e: Throwable): Unit = {
    attempted += 1
    failures += name
    System.err.println(s"[perfbench] FAILED $name: $e")
  }

  private var tracing = false

  /** Run `f` as operation `op`, recorded as a span named `span`: traced
    * (the span, tagged Spark work, a drained listener) when `traced`, bare
    * otherwise. Returns the result and its wall seconds; draining the
    * listener is not timed. */
  def timed[A](op: String, span: String, traced: Boolean)(f: => A): Timed[A] =
    listener match {
      case Some(l) if traced =>
        spark.sparkContext.addSparkListener(l)
        tracing = true
        try measure(spans(span)(l.tagged(op)(f)))
        finally {
          tracing = false
          l.drain()
          spark.sparkContext.removeSparkListener(l)
        }
      case _ => measure(f)
    }

  private def measure[A](f: => A): Timed[A] = {
    val t0 = System.nanoTime()
    val a = f
    Timed(a, (System.nanoTime() - t0) / 1e9)
  }

  /** A layer call inside a traced operation: its own span, and its Spark
    * work charged to `op` rather than to the enclosing operation. */
  def phase[A](op: String, span: String)(f: => A): A = listener match {
    case Some(l) if tracing => spans(span)(l.tagged(op)(f))
    case _ => f
  }

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
}

final case class Timed[A](value: A, secs: Double)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as Python's statistics module reads it
    * with method="inclusive". */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Order-independent fingerprint of a frame's full contents: the row count
  * and the sums of the low and high 32-bit halves of each row's xxhash64
  * over every column. Each half-sum stays below 2^63 for fewer than 2^31
  * rows, so it cannot overflow (a plain sum of 64-bit hashes does under
  * ANSI mode). Computing it consumes every column of every row. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows\t$lo\t$hi"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashes = named.select(xxhash64(named.columns.map(col).toIndexedSeq: _*)).rdd
    // summed over the projected rows, not by a SQL aggregate: the optimizer
    // drops a sort under an order-insensitive aggregate, and the query's
    // final orderBy is part of the work being measured
    val (rows, lo, hi) = hashes.map { r =>
      val h = r.getLong(0)
      (1L, h & 0xffffffffL, h >>> 32)
    }.fold((0L, 0L, 0L)) { case ((n1, l1, h1), (n2, l2, h2)) => (n1 + n2, l1 + l2, h1 + h2) }
    Fingerprint(rows, lo, hi)
  }

  def parse(line: String): (String, Fingerprint) = line.split("\t") match {
    case Array(name, rows, lo, hi) =>
      name -> Fingerprint(rows.toLong, lo.toLong, hi.toLong)
    case _ => throw new IllegalArgumentException(s"bad fingerprint line: $line")
  }
}
