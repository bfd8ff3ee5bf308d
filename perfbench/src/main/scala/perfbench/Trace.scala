package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into one layer, made by the benchmark around the
  * program's public functions. `parent` is the id of the enclosing span
  * (-1 at the root); all spans of one run share `run`. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans stay in memory while the run measures and
  * are written out once, when it ends. */
final class Spans(val run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      open = open.tail
      done += Span(id, parent, name, t0, System.nanoTime(), run)
    }
  }

  /** Seconds per span name, minus the time its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childTime = done.groupMapReduce(_.parent)(_.seconds)(_ + _)
    done.groupMapReduce(_.name)(s => s.seconds - childTime.getOrElse(s.id, 0.0))(_ + _)
  }

  def json: String = Json(done.sortBy(_.id).map(s => Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.start,
    "end_ns" -> s.end, "run" -> s.run)))
}

/** Spark work attributed to one operation. */
final class ExecCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outputBytes = 0L
  /** Task time of the stages that scan wire text (where envelopes are
    * parsed) and of the stages that run a window operator (where the CDC
    * operators fold events per key). */
  var parseStageNs = 0L
  var foldStageNs = 0L
  /** Max over median task time in the stage with the most task time. */
  var skew = 0.0
  private[perfbench] var stageMaxNs = -1L
}

/** A Spark listener that charges jobs, stages and tasks to the operation
  * named by the job's tag. The benchmark runs each operation inside
  * [[tagged]]; jobs a streaming query starts carry the tag that was set on
  * the thread that started it.
  *
  * [[drain]] replaces any sleep-based wait: it runs a marker job under a
  * tag of its own and blocks until the listener has seen that job end.
  * The listener bus delivers events in order, so every event of the jobs
  * before the marker has been counted by then. */
final class ExecListener(sc: SparkContext) extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, ExecCounts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageKind = new ConcurrentHashMap[Int, String]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markerLatches = new ConcurrentHashMap[String, CountDownLatch]()
  private var markerSeq = 0

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").filter(_.startsWith(ExecListener.Prefix))
        .maxByOption(_.length)) // the innermost phase names the longest tag
      .map(_.stripPrefix(ExecListener.Prefix))

  private def counts(op: String): ExecCounts =
    byOp.computeIfAbsent(op, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { op =>
      if (op.startsWith(ExecListener.Marker)) markerJobs.put(e.jobId, op)
      else {
        val c = counts(op)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(stageOp.put(_, op))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId))
      .flatMap(m => Option(markerLatches.get(m))).foreach(_.countDown())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val scopes = e.stageInfo.rddInfos.flatMap(_.scope.map(_.name))
      if (scopes.exists(_.startsWith("Scan text"))) stageKind.put(e.stageInfo.stageId, "parse")
      else if (scopes.contains("Window")) stageKind.put(e.stageInfo.stageId, "fold")
      val c = counts(op)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      val c = counts(op)
      val dur = e.taskInfo.duration * 1000000L
      c.synchronized {
        c.tasks += 1
        c.taskNs += dur
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
      val durs = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      durs.synchronized { durs += dur }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    Option(stageOp.get(id)).foreach { op =>
      val durs = Option(stageTasks.remove(id)).map(_.sorted)
        .getOrElse(mutable.ArrayBuffer.empty[Long])
      val total = durs.sum
      val c = counts(op)
      c.synchronized {
        Option(stageKind.remove(id)) match {
          case Some("parse") => c.parseStageNs += total
          case Some(_) => c.foldStageNs += total
          case None => ()
        }
        if (durs.nonEmpty && total > c.stageMaxNs) {
          c.stageMaxNs = total
          val med = durs(durs.size / 2)
          c.skew = if (med > 0) durs.last.toDouble / med else 1.0
        }
      }
    }
  }

  def tagged[A](op: String)(f: => A): A = ExecListener.tagged(sc, op)(f)

  /** Block until every event of the jobs started so far has been counted. */
  def drain(): Unit = {
    markerSeq += 1
    val m = s"${ExecListener.Marker}$markerSeq"
    val latch = new CountDownLatch(1)
    markerLatches.put(m, latch)
    try {
      tagged(m)(sc.parallelize(Seq(1), 1).count())
      require(latch.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the drain marker job end")
    } finally markerLatches.remove(m)
  }

  /** The work charged to `op` so far; the counts restart from zero. */
  def take(op: String): ExecCounts =
    Option(byOp.remove(op)).getOrElse(new ExecCounts)
}

object ExecListener {
  val Prefix = "perfbench-"
  val Marker = "marker-"

  /** Run `f` with every job it starts tagged as operation `op`. */
  def tagged[A](sc: SparkContext, op: String)(f: => A): A = {
    val t = Prefix + op
    sc.addJobTag(t)
    try f finally sc.removeJobTag(t)
  }
}
