package perfbench

/** The per-layer metrics of a traced run. Every traced run reports each
  * name; a workload that does not reach a layer reports 0 for it and lists
  * the name under `not_applicable` in its record. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "operators.construct_s" -> "s",
    "operators.construct_jobs" -> "count",
    "staged.build_s" -> "s",
    "staged.builds" -> "count",
    "staged.setup_build_s" -> "s",
    "staged.setup_builds" -> "count",
    "cdc.parse_task_s" -> "s",
    "cdc.fold_task_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_s" -> "s",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.task_skew" -> "ratio",
    "exec.busy_ratio" -> "ratio",
    "streaming.add_batch_s" -> "s",
    "streaming.trigger_overhead_s" -> "s",
    "lake.jobs_per_commit" -> "count",
    "lake.log_entries" -> "count",
    "lake.live_files" -> "count",
    "lake.lookup_s" -> "s",
    "lake.lookup_kept_ratio" -> "ratio",
    "lake.optimize_s" -> "s",
    "lake.checkpoint_s" -> "s",
    "lake.vacuum_s" -> "s",
    "lake.rewritten_bytes" -> "bytes",
    "lake.write_amp" -> "ratio",
    "lake.stored_bytes_per_live_byte" -> "ratio",
    "lake.merge_conflicts" -> "count",
    "host.calibration_s" -> "s",
    "trace.overhead_s" -> "s")

  def sum(cs: Seq[ExecCounts]): ExecCounts = {
    val t = new ExecCounts
    cs.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskNs += c.taskNs; t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
      t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
      t.spill += c.spill
      t.outputBytes += c.outputBytes; t.parseStageNs += c.parseStageNs
      t.foldStageNs += c.foldStageNs
      if (c.stageMaxNs > t.stageMaxNs) { t.stageMaxNs = c.stageMaxNs; t.skew = c.skew }
    }
    t
  }

  /** Spark execution per traced operation (means; skew as a median), and
    * how busy the cores were: task seconds over wall seconds times cores. */
  def exec(perOp: Seq[ExecCounts], wall: Seq[Double], cores: Int): Map[String, Double] = {
    def per(f: ExecCounts => Double) = Stats.mean(perOp.map(f))
    Map(
      "exec.jobs" -> per(_.jobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.task_s" -> per(_.taskNs / 1e9),
      "exec.cpu_s" -> per(_.cpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1e3),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "exec.spill_bytes" -> per(_.spill.toDouble),
      "exec.task_skew" -> Stats.median(perOp.map(_.skew)),
      "exec.busy_ratio" -> perOp.map(_.taskNs / 1e9).sum / (wall.sum * cores))
  }
}
