package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` groups the spans of one query invocation or
  * one stream trigger; `parent` names the benchmark span this one was
  * opened under ("" for a root, or for listener spans, whose parent the
  * report resolves by time containment). Times are epoch milliseconds. */
final case class Span(name: String, op: Long, start: Double, end: Double,
                      parent: String)

/** Spans, kept in memory and written once at the end. */
final class Recorder {
  private val buf = ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spark-side layers, seen through public listeners only: jobs, stages,
  * task metrics (scheduler, executor, shuffle, scan), and the Catalyst
  * phases and cached scans of each executed plan. */
final class Listeners(rec: Recorder) extends SparkListener
    with QueryExecutionListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]
  val counters = scala.collection.mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)
  private def bump(k: String, v: Double): Unit = synchronized { counters(k) += v }
  private def peak(k: String, v: Double): Unit =
    synchronized { counters(k) = math.max(counters(k), v) }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStart(e.jobId) = e.time.toDouble }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = synchronized { jobStart.remove(e.jobId) }
    start.foreach(s => rec.add(Span("job", e.jobId, s, e.time.toDouble, "")))
    bump("scheduler.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      rec.add(Span("stage", i.stageId, s.toDouble, c.toDouble, ""))
    bump("scheduler.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    bump("scheduler.tasks", 1)
    if (m != null) {
      val run = m.executorRunTime.toDouble
      bump("executor.run_ms", run)
      bump("executor.cpu_ms", m.executorCpuTime / 1e6)
      bump("executor.gc_ms", m.jvmGCTime.toDouble)
      bump("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      bump("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      peak("executor.peak_mem_bytes", m.peakExecutionMemory.toDouble)
      // the Spark UI's scheduler delay: task time not spent running,
      // deserializing or returning the result
      val delay = e.taskInfo.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      bump("scheduler.delay_ms", math.max(0L, delay).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      rec.add(Span(s"catalyst.$phase", 0, p.startTimeMs.toDouble, p.endTimeMs.toDouble, ""))
    }
    val scans = org.apache.spark.sql.graft.bridge.planNodes(qe.executedPlan)
      .count(_.isInstanceOf[InMemoryTableScanExec])
    bump("plancache.cached_scans", scans)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Records one span per stream trigger as its progress report arrives;
  * the report lays the trigger's phases out inside it. */
final class Triggers(rec: Recorder) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.get("triggerExecution")
    if (d != null) rec.add(Span("trigger", p.batchId, start, start + d.doubleValue, ""))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Verify.jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${apply(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case o => apply(o.toString)
  }
}
