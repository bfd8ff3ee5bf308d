package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its record, then the result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> --fixture <dir> [--trace-out <file>]
  * Main --workload record-catalog --fixture <dir> --work <dir> --cores <n>
  * }}}
  *
  * The session matches the repo's own bench: `local[cores]` with as many
  * shuffle partitions. Any failure outside a measured operation (set-up,
  * the final checks) propagates and the process exits non-zero without
  * printing a result. */
object Main {
  val EndToEndUnits: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_s" -> "s", "work_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (workload == "record-catalog") {
        Catalog.record(new Ctx(spark, workload, 0L, 0.0, work, opt("fixture"),
          None, new Spans("record")))
      } else {
        val seed = opt("seed").toLong
        val trace = opt("trace") match {
          case "0" => false
          case "1" => true
          case t => throw new IllegalArgumentException(s"--trace $t")
        }
        val spans = new Spans(s"$workload-seed$seed-${System.currentTimeMillis}")
        val listener = if (trace) Some(new ExecListener(spark.sparkContext)) else None
        val ctx = new Ctx(spark, workload, seed, opt("seconds").toDouble, work,
          opt("fixture"), listener, spans)
        // the host probe brackets a traced run: a pair of runs whose
        // probes disagree ran on a host that drifted between them
        val calBefore = if (trace) Some(graft.Bench.calibrate(spark)) else None
        val out = workload match {
          case "catalog" => Catalog.run(ctx)
          case "lake_ingest" => Ingest.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.mark("checks")
        val calAfter = if (trace) Some(graft.Bench.calibrate(spark)) else None
        report(ctx, out, trace, calBefore.zip(calAfter), opts.get("trace-out"))
      }
    } finally spark.stop()
  }

  /** CPU time the hypervisor gave to other guests, summed over cores, in
    * clock ticks (0 where /proc/stat does not report it). */
  private def stealTicks(): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toLong finally src.close()
    }.getOrElse(0L)
  private val steal0 = stealTicks()

  private def report(ctx: Ctx, out: Outcome, trace: Boolean,
      cal: Option[(Double, Double)], traceOut: Option[String]): Unit = {
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEndUnits.map { case (n, u) => (n, out.endToEnd(n), u) }
      else {
        // the probe before the run also compiles its kernel: the one after
        // it is the host's speed
        val layers = out.layers ++ cal.map { case (_, after) => "host.calibration_s" -> after }
        Layers.units.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v") }
    val absent = if (trace) Layers.units.map(_._1).filterNot(out.layers.contains)
      .filterNot(_ == "host.calibration_s") else Nil
    traceOut.filter(_ => trace).foreach { f =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(f).getParent)
      java.nio.file.Files.write(java.nio.file.Paths.get(f), ctx.spans.json.getBytes("UTF-8"))
    }
    val record = Map[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "cores" -> ctx.cores,
      "seconds" -> ctx.seconds, "trace" -> trace, "run" -> ctx.spans.run,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted),
      "failed_ops" -> ctx.failed.distinct,
      "end_to_end" -> out.endToEnd, "workload_metrics" -> out.facts,
      "per_layer" -> out.layers,
      "not_applicable" -> absent,
      "self_s" -> ctx.spans.selfSeconds,
      "timeline_s" -> ctx.timeline,
      "host_steal_s" -> (stealTicks() - steal0) / 100.0,
      "host.calibration_s" -> cal.map { case (a, b) => Map("before" -> a, "after" -> b) }
        .getOrElse("traced runs only"))
    println(Json(Map("record" -> record)))
    val result = Map[String, Any](
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .toMap)
    println(Json(result))
  }
}

/** Minimal JSON writer for the record and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
