package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call timed from outside. `startMs`/`endMs` are driver epoch
  * milliseconds, the clock Spark stamps listener events with, so jobs and
  * tasks can be attributed to the span that was open when they ran.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    endMs: Long, wallMs: Double, extra: mutable.LinkedHashMap[String, Double])

/** Span recorder for one run. Spans nest by call structure (the run's root
  * span is `e2e`); storage memory is polled at every span boundary through
  * the public status API, and its maximum is the run's cache peak.
  */
final class Spans(spark: SparkSession) {
  val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  var cachePeakBytes = 0L

  def pollStorage(): Unit = {
    val used = spark.sparkContext.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum
    cachePeakBytes = math.max(cachePeakBytes, used)
  }

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    pollStorage()
    open = id :: open
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallMs = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      open = open.tail
      pollStorage()
      done += Span(id, name, parent, startMs, endMs, wallMs, mutable.LinkedHashMap())
    }
  }

  /** Attach a counter to the most recent finished span called `name`. */
  def note(name: String, kv: (String, Double)*): Unit =
    done.findLast(_.name == name).foreach(_.extra ++= kv)
}

/** Raw scheduler events of a traced run; spans and these are joined by time
  * in `metrics.py`. Events are appended on the listener-bus thread and read
  * only after `PerfbenchBus.drain`.
  */
final class EventLog extends SparkListener {
  /** (jobId, submission ms) */
  val jobs = mutable.ArrayBuffer[(Int, Long)]()
  /** (stageId, attempt, submission ms) of every stage that ran */
  val stages = mutable.ArrayBuffer[(Int, Int, Long)]()
  /** (launch ms, finish ms, run ms, gc ms, shuffle write B, output B, input B) */
  val tasks = mutable.ArrayBuffer[Seq[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += ((e.jobId, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    s.submissionTime.foreach(t => stages += ((s.stageId, s.attemptNumber(), t)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo != null && m != null)
      tasks += Seq(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.inputMetrics.bytesRead)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map { case (j, t) => Seq(j, t) }.toSeq,
      "stages" -> stages.map { case (s, a, t) => Seq(s, a, t) }.toSeq,
      "tasks" -> tasks.toSeq)
  }
}

/** Minimal JSON encoder for the result file (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
