package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.Cdc
import graft.sources.LakeFormat
import graft.streaming.LakeSink

/** Workload `lake_ingest`, the paper's own path: Debezium wire files land
  * in a directory, a file-source stream (one file per trigger) parses them
  * with `Cdc.parseEnvelope` and applies them with `LakeSink.cdcApply` to a
  * `LakeFormat` table that keeps stats on `id`.
  *
  * Closed loop, one client: land a file of [[EventsPerFile]] skewed-key
  * events, wait for its batch to commit, then make one point lookup
  * (`LakeFormat.scan(id === k)`) checked against the generator's state
  * after that batch. After every [[CommitsPerCycle]] commits the loop runs
  * maintenance: `optimize(smallFiles)`, `checkpoint`, `vacuum(0 ms)`. Timed
  * work is whole cycles, so every run weighs maintenance the same.
  *
  * Set-up, repeated [[SetupReps]] times, creates a table and bootstraps it
  * from an initial snapshot of every key (`LakeSink.applyBatch`, as the
  * stream would), then checkpoints it; the stream runs on the last one.
  * One untimed cycle warms the stream before the timed cycles. At the end
  * the whole table is compared with the generator's replica.
  */
object Ingest {
  val Keys = 20000
  val EventsPerFile = 5000
  val CommitsPerCycle = 6
  val SetupReps = 3
  val WarmCycles = 1
  // every file of this small table is below it: optimize compacts them all
  val SmallFileBytes: Long = 64L << 20

  private def liveRows(df: DataFrame): DataFrame =
    df.filter(col("live")).select("id", "first_name", "last_name", "email")

  private def dirBytes(root: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  private final class Progress extends StreamingQueryListener {
    val batches = new LinkedBlockingQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) batches.put(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private final case class Commit(secs: Double, traced: Boolean,
      addBatchS: Double, triggerS: Double, exec: Option[ExecCounts], wireBytes: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new Changelog(ctx.seed, Keys)
    val boot = gen.snapshotEvents()

    var root = ""
    val setups = (1 to SetupReps).map { r =>
      root = s"${ctx.work}/lake-$r"
      val bootDir = s"${ctx.work}/boot-$r"
      val t0 = System.nanoTime()
      LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
      Changelog.land(boot, bootDir, "snapshot")
      LakeSink.applyBatch(Cdc.parseEnvelope(spark.read.text(bootDir)).select("e.*"),
        root, "bootstrap", 0L)
      LakeFormat.checkpoint(spark, root)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.mark("setup")
    val booted = Fingerprint.of(Changelog.replica(spark, gen))
    val got0 = Fingerprint.of(liveRows(LakeFormat.snapshot(spark, root)))
    ctx.check("bootstrap")(got0 == booted, s"table $got0, expected $booted")

    val landing = s"${ctx.work}/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    val progress = new Progress
    spark.streams.addListener(progress)
    // jobs of the stream's thread carry the tag set when it starts
    val query = ExecListener.tagged(spark.sparkContext, "stream") {
      LakeSink.cdcApply(Cdc.parseEnvelope(
        spark.readStream.option("maxFilesPerTrigger", 1L).text(landing)).select("e.*"),
        root, "ingest")
        .option("checkpointLocation", s"${ctx.work}/stream-checkpoint")
        .start()
    }

    var batch = 0
    var conflicts = 0
    def commit(traced: Boolean): Commit = {
      batch += 1
      val events = gen.next(EventsPerFile)
      val Timed(landed, secs) = ctx.timed(s"commit$batch", "streaming.commit", traced) {
        val bytes = Changelog.land(events, landing, f"batch-$batch%06d")
        val p = progress.batches.poll(150, TimeUnit.SECONDS)
        query.exception.foreach(e => throw e)
        require(p != null, s"batch $batch did not commit")
        (bytes, p)
      }
      val (bytes, p) = landed
      val d = p.durationMs
      val add = d.getOrDefault("addBatch", 0L) / 1e3
      Commit(secs, traced, add, d.getOrDefault("triggerExecution", 0L) / 1e3,
        ctx.listener.filter(_ => traced).map(_.take("stream")), bytes)
    }
    val lookups = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def lookup(traced: Boolean): Unit = {
      val k = gen.lookupKey()
      val Timed(res, secs) = ctx.timed(s"lookup$batch", "lake.lookup", traced) {
        val s = LakeFormat.scan(spark, root, col("id") === k)
        (liveRows(s.df).collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3))).toSeq, s.keptFiles.toDouble / s.totalFiles)
      }
      val want = if (gen.isLive(k)) Seq(gen.row(k) match { case (a, b, c) => (k, a, b, c) })
        else Seq.empty
      ctx.check(s"lookup id=$k after batch $batch")(res._1 == want, s"got ${res._1}, expected $want")
      lookups += secs -> res._2
    }
    final case class Maint(optimizeS: Double, checkpointS: Double, vacuumS: Double,
        rewritten: Long, written: Long, storedRatio: Double)
    def maintain(traced: Boolean, id: String): Maint = {
      val st = LakeFormat.state(spark, root)
      val ratio = dirBytes(root).toDouble / st.files.map(_.bytes).sum
      val o = ctx.timed(s"$id/optimize", "lake.optimize", traced) {
        try LakeFormat.optimize(spark, root, Seq(col("id")), ctx.cores,
          LakeFormat.smallFiles(SmallFileBytes))
        catch { case e: java.util.ConcurrentModificationException => conflicts += 1; throw e }
      }
      val c = ctx.timed(s"$id/checkpoint", "lake.checkpoint", traced)(
        LakeFormat.checkpoint(spark, root))
      val v = ctx.timed(s"$id/vacuum", "lake.vacuum", traced)(
        LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0))
      val w = ctx.listener.filter(_ => traced)
        .map(l => Seq("optimize", "checkpoint", "vacuum").map(s => l.take(s"$id/$s").outputBytes))
        .getOrElse(Seq(0L, 0L, 0L))
      Maint(o.secs, c.secs, v.secs, w.head, w.sum, ratio)
    }
    final case class Cycle(secs: Double, traced: Boolean, commits: Seq[Commit], maint: Maint)
    def cycle(i: Int, traced: Boolean): Cycle = {
      val t0 = System.nanoTime()
      val cs = (1 to CommitsPerCycle).map { j =>
        // a traced cycle traces every other commit: the untraced ones of the
        // same run give the tracing overhead
        val t = traced && j % 2 == 1
        val c = commit(t)
        lookup(t)
        c
      }
      val m = maintain(traced, s"maint$i")
      Cycle((System.nanoTime() - t0) / 1e9, traced, cs, m)
    }

    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    try {
      // warm-up: stream, merge and maintenance paths
      (1 to WarmCycles).foreach(w => cycle(-w, traced = false))
      lookups.clear()
      ctx.mark("warm")
      val end = ctx.deadline
      var i = 0
      while (i == 0 || System.nanoTime() < end) {
        try cycles += cycle(i, traced = ctx.listener.isDefined)
        catch { case scala.util.control.NonFatal(e) => ctx.fail(s"cycle $i", e) }
        i += 1
      }
      ctx.mark("measure")
    } finally {
      query.stop()
      spark.streams.removeListener(progress)
    }
    val want = Fingerprint.of(Changelog.replica(spark, gen))
    val got = Fingerprint.of(liveRows(LakeFormat.snapshot(spark, root)))
    ctx.check("final table")(got == want, s"table $got, expected $want")

    val st = LakeFormat.state(spark, root)
    val liveBytes = st.files.map(_.bytes).sum
    val commitSecs = cycles.flatMap(_.commits).filterNot(_.traced).map(_.secs).toSeq
    val perCycleEvents = CommitsPerCycle * EventsPerFile
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_s" -> Stats.median(commitSecs),
      "work_per_s" -> perCycleEvents * cycles.size / cycles.map(_.secs).sum)
    val layers = ctx.listener.map { _ =>
      val tc = cycles.filter(_.traced).toSeq
      val commits = tc.flatMap(_.commits).filter(_.traced)
      val exec = commits.flatMap(_.exec)
      val ms = tc.map(_.maint)
      Layers.exec(exec, commits.map(_.secs), ctx.cores) ++ Map(
        "cdc.parse_task_s" -> Stats.mean(exec.map(_.parseStageNs / 1e9)),
        "cdc.fold_task_s" -> Stats.mean(exec.map(_.foldStageNs / 1e9)),
        "streaming.add_batch_s" -> Stats.median(commits.map(_.addBatchS)),
        "streaming.trigger_overhead_s" -> Stats.median(commits.map(c => c.triggerS - c.addBatchS)),
        "lake.jobs_per_commit" -> Stats.mean(exec.map(_.jobs.toDouble)),
        "lake.log_entries" -> new java.io.File(s"$root/_log").list()
          .count(_.endsWith(".json")).toDouble,
        "lake.live_files" -> st.files.size.toDouble,
        "lake.lookup_s" -> Stats.median(lookups.map(_._1).toSeq),
        "lake.lookup_kept_ratio" -> Stats.mean(lookups.map(_._2).toSeq),
        "lake.optimize_s" -> Stats.median(ms.map(_.optimizeS)),
        "lake.checkpoint_s" -> Stats.median(ms.map(_.checkpointS)),
        "lake.vacuum_s" -> Stats.median(ms.map(_.vacuumS)),
        "lake.rewritten_bytes" -> Stats.mean(ms.map(_.rewritten.toDouble)),
        // merges of the traced commits, plus maintenance over all commits
        "lake.write_amp" -> (exec.map(_.outputBytes).sum / commits.map(_.wireBytes).sum.toDouble +
          ms.map(_.written).sum / tc.flatMap(_.commits).map(_.wireBytes).sum.toDouble),
        "lake.stored_bytes_per_live_byte" -> Stats.median(ms.map(_.storedRatio)),
        "lake.merge_conflicts" -> conflicts.toDouble,
        "trace.overhead_s" -> (Stats.median(commits.map(_.secs)) - Stats.median(commitSecs)))
    }.getOrElse(Map.empty)
    Outcome(ctx.attempts, ctx.failed.size, e2e, layers, Map(
      "keys" -> Keys, "events_per_file" -> EventsPerFile,
      "events" -> gen.events, "commits" -> batch, "cycles" -> cycles.size,
      "wire_bytes" -> dirBytes(landing), "live_rows" -> want.rows,
      "table_bytes" -> dirBytes(root), "live_file_bytes" -> liveBytes,
      "commit_p50_s" -> e2e("op_p50_s"),
      "commit_s" -> cycles.flatMap(_.commits.map(_.secs)).toSeq,
      "cycle_s" -> cycles.map(_.secs).toSeq,
      "commit_p90_s" -> Stats.quantile(commitSecs, 0.9),
      "lookup_p50_s" -> Stats.median(lookups.map(_._1).toSeq),
      "lookup_p90_s" -> Stats.quantile(lookups.map(_._1).toSeq, 0.9),
      "ingest_events_per_s" -> e2e("work_per_s"),
      "stored_bytes_per_live_byte" -> Stats.median(cycles.map(_.maint.storedRatio).toSeq)))
  }
}
