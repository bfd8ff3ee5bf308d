package perfbench

import java.util.SplittableRandom

/** Seeded Debezium changelog generator: the benchmark's only source of CDC
  * input. Every event is a Postgres-connector envelope serialized the way
  * it sits in a Kafka record `value` (the `graft.Schemas.envelopeType`
  * shape), so the program under test sees nothing but wire strings.
  *
  * Keys follow YCSB's Zipfian request distribution with its default
  * constant 0.99 ([[Zipfian]]): over 20,000 keys the hottest 1% take about
  * 55% of the events. A key that is absent is created (`c`, so deleted
  * keys come back as re-creates); a live key is deleted (`d`) with
  * probability [[Changelog.DeleteShare]], otherwise updated (`u`, a new
  * email). The lsn is strictly increasing across all events of one
  * generator, so the newest event per key is unambiguous.
  *
  * The generator keeps the replica the changelog implies, per key, so every
  * check compares the program's output with the state after exactly the
  * events emitted so far. Same seed, same calls: same strings.
  */
final class Changelog(seed: Long, val keys: Int) {
  private val rnd = new SplittableRandom(seed)
  private val lookups = rnd.split()
  private val zipf = new Zipfian(keys)
  // per key: live flag and the version counters its row image renders from
  private val live = new Array[Boolean](keys)
  private val nameV = new Array[Int](keys)
  private val emailV = new Array[Int](keys)
  private var lsn = 0L
  private var emitted = 0L

  def events: Long = emitted
  def lastLsn: Long = lsn
  def isLive(id: Long): Boolean = live(id.toInt)

  private def firstName(id: Int) = s"F${(id * 31 + nameV(id)) % 997}"
  private def lastName(id: Int) = s"L${(id * 17 + nameV(id)) % 991}"
  private def email(id: Int) = s"u$id.${emailV(id)}@example.com"

  /** The live row for `id`, as (first_name, last_name, email). */
  def row(id: Long): (String, String, String) = {
    val i = id.toInt
    require(live(i), s"key $id is not live")
    (firstName(i), lastName(i), email(i))
  }

  /** Every live key with its row, in id order. */
  def liveRows: Iterator[(Long, String, String, String)] =
    (0 until keys).iterator.filter(live(_))
      .map(i => (i.toLong, firstName(i), lastName(i), email(i)))

  private def image(sb: java.lang.StringBuilder, id: Int): Unit = {
    sb.append("{\"id\":").append(id).append(",\"first_name\":\"")
      .append(firstName(id)).append("\",\"last_name\":\"")
      .append(lastName(id)).append("\",\"email\":\"")
      .append(email(id)).append("\"}")
  }

  private def envelope(id: Int, op: String, before: Boolean,
      after: Boolean, beforeSb: String): String = {
    val ts = 1700000000000L + lsn
    val sb = new java.lang.StringBuilder(420)
    sb.append("{\"before\":")
    if (before) sb.append(beforeSb) else sb.append("null")
    sb.append(",\"after\":")
    if (after) image(sb, id) else sb.append("null")
    sb.append(",\"source\":{\"version\":\"2.5.0.Final\",")
      .append("\"connector\":\"postgresql\",\"name\":\"dbserver1\",")
      .append("\"ts_ms\":").append(ts)
      .append(",\"snapshot\":\"").append(if (op == "r") "true" else "false")
      .append("\",\"db\":\"postgres\",\"schema\":\"public\",")
      .append("\"table\":\"customers\",\"txId\":").append(lsn / 8)
      .append(",\"lsn\":").append(lsn).append(",\"xmin\":null},")
      .append("\"op\":\"").append(op).append("\",\"ts_ms\":").append(ts + 3)
      .append(",\"transaction\":null}")
    sb.toString
  }

  private def imageOf(id: Int): String = {
    val sb = new java.lang.StringBuilder(120)
    image(sb, id)
    sb.toString
  }

  /** An initial snapshot (`r`) of every key, all live: how a connector
    * first reads a table before it streams the log. */
  def snapshotEvents(): Array[String] =
    Array.tabulate(keys) { id =>
      lsn += 1
      emitted += 1
      live(id) = true
      envelope(id, "r", before = false, after = true, null)
    }

  /** The next `n` change events, in lsn order. */
  def next(n: Int): Array[String] =
    Array.fill(n) {
      val id = zipf.next(rnd)
      lsn += 1
      emitted += 1
      if (!live(id)) {
        live(id) = true
        nameV(id) += 1
        envelope(id, "c", before = false, after = true, null)
      } else if (rnd.nextDouble() < Changelog.DeleteShare) {
        val prior = imageOf(id)
        live(id) = false
        envelope(id, "d", before = true, after = false, prior)
      } else {
        val prior = imageOf(id)
        emailV(id) += 1
        envelope(id, "u", before = true, after = true, prior)
      }
    }

  /** A key for a point lookup, drawn from the events' distribution by a
    * stream of its own, so lookups never shift the events. */
  def lookupKey(): Long = zipf.next(lookups).toLong
}

/** YCSB's `ZipfianGenerator` (after Gray et al., "Quickly generating
  * billion-record synthetic databases", SIGMOD 1994) over `0 until n`, with
  * YCSB's default constant `theta` = 0.99. Key 0 is the most popular; the
  * keys are not scrambled, so the hot keys sit together at the low ids. */
final class Zipfian(n: Int, theta: Double = 0.99) {
  require(n >= 2, s"Zipfian needs at least 2 items, got $n")
  private def zeta(k: Int): Double =
    (1 to k).iterator.map(i => 1.0 / math.pow(i, theta)).sum
  private val zetan = zeta(n)
  private val alpha = 1.0 / (1.0 - theta)
  private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta(2) / zetan)

  def next(rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val uz = u * zetan
    if (uz < 1.0) 0
    else if (uz < 1.0 + math.pow(0.5, theta)) 1
    else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toInt)
  }
}

object Changelog {
  /** The chance that an event on a live key deletes it. No public CDC
    * workload gives one; this is an assumption. It sets how many keys are
    * live (about 91% of the keys that are hit often) and how many deletes
    * each merge applies. */
  val DeleteShare = 0.1

  /** Land `values` as one newline-delimited file `dir/name.json`: written
    * under a hidden name and renamed, so a stream watching `dir` never
    * reads it half-written. Returns the file's size in bytes. */
  def land(values: Array[String], dir: String, name: String): Long = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val tmp = d.resolve(s".$name.tmp")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      java.nio.file.Files.newOutputStream(tmp), "UTF-8"), 1 << 20)
    try values.foreach { v => out.write(v); out.write('\n') } finally out.close()
    val dst = java.nio.file.Files.move(tmp, d.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.size(dst)
  }

  /** The replica the generator's events imply, as the program shapes it. */
  def replica(spark: org.apache.spark.sql.SparkSession, gen: Changelog)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    gen.liveRows.toSeq.toDF("id", "first_name", "last_name", "email")
  }
}
