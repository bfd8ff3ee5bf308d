package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Staged}

/** Workload `catalog`: a fixed slice of the registered query catalog over
  * the committed sf0.001 fixture, in a seeded order that changes each pass.
  * A query is timed from building its plan (`fn(spark, dir)`) to consuming
  * its whole result (the fingerprint, summed over the result's rows so that
  * its final sort runs too), and checked against the fingerprint recorded
  * for it.
  *
  * Set-up, repeated [[SetupReps]] times, plans every query of the slice in
  * a fresh session: that is where `graft.Staged` builds its shared tables
  * and where construction-time jobs run, so work moved into staging shows
  * in `setup_s`. After the first and the last set-up, one untimed pass runs
  * each query (code generation and JIT); the timed passes run in the last
  * session.
  */
object Catalog {
  val SetupReps = 3

  /** Every 16th query by name among the 144 that are not `lake_*` queries,
    * whose planning in a fresh session took under 0.5 s and whose steady
    * run took under 1 s when this benchmark was defined. The others stage
    * lake tables, vocabularies or graph rounds for seconds each, which
    * three set-ups per run cannot afford, or are bound by compute, which
    * this workload is not meant to weigh; the lake layer is measured by
    * `lake_ingest`. Fixed by name, so a query added to the catalog does not
    * change what is measured. */
  val Slice: Seq[String] = Seq(
    "cdc_agg_maintain", "cdc_scd2_join", "q11b_window_dist", "q21_map",
    "q4b_join_full", "q_unpivot", "x3m_filtered_ann", "x4o_bpe_encode",
    "x7b_label_centroids")

  def expectedFile(fixture: String): String =
    Paths.get(fixture).getParent.resolve("catalog_fingerprints.tsv").toString

  def expected(fixture: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(expectedFile(fixture))).asScala
      .filter(_.nonEmpty).map(Fingerprint.parse).toMap

  /** Write the fingerprint of every registered query over the fixture. */
  def record(ctx: Ctx): Unit = {
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      s"$name\t${Fingerprint.of(fn(ctx.spark, ctx.fixture))}"
    }
    Files.write(Paths.get(expectedFile(ctx.fixture)),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] recorded ${lines.size} fingerprints")
  }

  def run(ctx: Ctx): Outcome = {
    val queries = SparkEntry.queries
    val names = Slice
    val want = expected(ctx.fixture)
    names.foreach { n =>
      require(queries.contains(n), s"query $n is not registered")
      require(want.contains(n), s"no recorded fingerprint for $n")
    }
    val rnd = new scala.util.Random(ctx.seed)
    val dir = ctx.fixture
    def ours(t: Map[String, Double]) = t.filter(_._1.endsWith(":" + dir))

    // every query once, checked and untimed: after the first set-up (code
    // generation, JIT) and again in the session the timed passes use, whose
    // first pass otherwise still runs 1.3-1.7x slower than the ones after
    def warm(session: org.apache.spark.sql.SparkSession): Unit =
      rnd.shuffle(names).foreach { n =>
        val fp = Fingerprint.of(queries(n)(session, dir))
        ctx.check(n)(fp == want(n), s"fingerprint $fp, recorded ${want(n)}")
      }
    // set-up: plan every query in a fresh session (staging happens here)
    var session = ctx.spark
    val setups = (1 to SetupReps).map { r =>
      val prev = session
      session = ctx.spark.newSession()
      Staged.clear(prev)
      val t0 = System.nanoTime()
      rnd.shuffle(names).foreach(n => queries(n)(session, dir))
      val secs = (System.nanoTime() - t0) / 1e9
      val staged = ours(Staged.timings)
      if (r == 1 || r == SetupReps) warm(session)
      (secs, staged)
    }
    val s = session
    ctx.mark("setup")
    val stagedBefore = ours(Staged.timings)
    val lat = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val byQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    val construct = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var op = 0
    val end = ctx.deadline
    while (passes.isEmpty || System.nanoTime() < end) {
      val p0 = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        val traced = ctx.listener.isDefined && op % 2 == 0
        val id = s"q$op"
        op += 1
        try {
          val Timed(fp, secs) = ctx.timed(id, "catalog.query", traced) {
            val c0 = System.nanoTime()
            val df = ctx.phase(s"$id/construct", "operators.construct")(queries(n)(s, dir))
            if (traced) construct += (System.nanoTime() - c0) / 1e9
            ctx.phase(s"$id/execute", "exec.consume")(Fingerprint.of(df))
          }
          lat += secs -> traced
          byQuery(n) = secs :: byQuery.getOrElse(n, Nil)
          ctx.check(n)(fp == want(n), s"fingerprint $fp, recorded ${want(n)}")
        } catch { case scala.util.control.NonFatal(e) => ctx.fail(n, e) }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    ctx.mark("measure")
    val stagedAfter = ours(Staged.timings)
    val rebuilt = stagedAfter.filter { case (k, v) => !stagedBefore.get(k).contains(v) }

    val untraced = lat.filterNot(_._2).map(_._1).toSeq
    val all = lat.map(_._1).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._1)),
      "op_p50_s" -> Stats.median(if (untraced.nonEmpty) untraced else all),
      "work_per_s" -> names.size * passes.size / passes.sum)
    val layers = ctx.listener.map { l =>
      val ops = (0 until op by 2).map(i => s"q$i")
      val cons = ops.map(o => l.take(s"$o/construct"))
      val exec = ops.zip(cons).map { case (o, c) => Layers.sum(Seq(c, l.take(s"$o/execute"))) }
      val traced = lat.filter(_._2).map(_._1).toSeq
      Layers.exec(exec, traced, ctx.cores) ++ Map(
        "operators.construct_s" -> Stats.median(construct.toSeq),
        "operators.construct_jobs" -> Stats.mean(cons.map(_.jobs.toDouble)),
        "staged.build_s" -> rebuilt.values.sum,
        "staged.builds" -> rebuilt.size.toDouble,
        "staged.setup_build_s" -> Stats.median(setups.map(_._2.values.sum)),
        "staged.setup_builds" -> Stats.median(setups.map(_._2.size.toDouble)),
        "trace.overhead_s" -> (Stats.median(traced) - Stats.median(untraced)))
    }.getOrElse(Map.empty)
    Staged.clear(s)
    Outcome(ctx.attempts, ctx.failed.size, e2e, layers, Map(
      "queries" -> names.size, "passes" -> passes.size,
      "query_p50_s" -> e2e("op_p50_s"),
      "query_p90_s" -> Stats.quantile(all, 0.9),
      "catalog_pass_s" -> Stats.median(passes.toSeq),
      "query_samples" -> all.size,
      "query_s" -> byQuery.view.mapValues(_.reverse).toMap))
  }
}
