package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the scheduler reported it, with its tasks' metrics
  * summed. Written only by the listener-bus thread; read after
  * [[org.apache.spark.PerfbenchBus.drain]]. */
final class JobRec(val id: Int, val group: String, val desc: String, val startMs: Double) {
  var endMs: Double = startMs
  var shuffleStages = 0
  var shuffleWrite, shuffleRead, maxTaskShuffleRead, spill = 0L
  var scanBytes, scanRows, outBytes = 0L
  var busyMs, cpuNs, maxTaskMs = 0L
}

/** One streaming micro-batch: its `durationMs` breakdown and input rows. */
final class TriggerRec(val startMs: Double, val durations: Map[String, Long], val rows: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def seconds(part: String): Double = durations.getOrElse(part, 0L) / 1e3
}

/** A closed interval of wall time on the epoch-millisecond clock the
  * scheduler stamps its events with. `parent` is another span's id. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** The traced run's listeners: a `SparkListener` for jobs, stages and
  * tasks, and a `StreamingQueryListener` for triggers. They are added
  * for a traced pass only and removed after it, so untraced passes run
  * with no harness listener at all. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val triggers = mutable.ArrayBuffer[TriggerRec]()

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      triggers += new TriggerRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d, p.numInputRows)
    }
  }

  def start(): Unit = {
    jobs.clear(); stageJob.clear(); triggers.clear()
    sc.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  /** Stops listening once every event posted so far has been delivered,
    * and returns the pass's jobs and triggers. */
  def stop(): (Seq[JobRec], Seq[TriggerRec]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.streams.removeListener(streams)
    (jobs.values.toSeq, triggers.toSeq)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"), e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null && m.shuffleWriteMetrics.bytesWritten > 0)
      stageJob.get(e.stageInfo.stageId).foreach(_.shuffleStages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val read = m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += read
      j.maxTaskShuffleRead = math.max(j.maxTaskShuffleRead, read)
      j.spill += m.diskBytesSpilled
      j.scanBytes += m.inputMetrics.bytesRead
      j.scanRows += m.inputMetrics.recordsRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.busyMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
    }
  }
}

object Spans {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.ms - covered(cs, s.startMs, s.endMs))
    }.toMap
  }

  /** The span of `candidates` whose interval holds `t`; the latest
    * started one if several do. */
  def enclosing(candidates: Seq[Span], t: Double): Option[Span] =
    candidates.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs)
}
