package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one run share `run`; `parent`
  * is the enclosing span's id, or -1 at the top. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    startNs: Long, endNs: Long)

/** Spans kept in memory for the whole run, written out at exit. When
  * tracing is on, each span also sets a Spark job group `span:<id>` so the
  * listener can attribute jobs to the innermost enclosing span. */
final class Tracer(spark: SparkSession, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(s"span:$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span:$p", "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, run, name, t0, t1)
      }
    }

  /** Self time: duration minus the union of its direct children's intervals. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  def toJson: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}}""")
    .mkString("[", ",\n", "]")
}

/** Counters the benchmark's own listeners collect. All fields are totals
  * since the last [[reset]]. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var driverGapMs = 0.0
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0.0
  var spillDisk = 0L
  var spillMem = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var physicalMs = 0.0
  val jobsBySpan = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
  val batchState = mutable.ArrayBuffer.empty[(Long, Long)]
  var streamJobs = 0L

  def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0; driverGapMs = 0; runMs = 0; cpuMs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; fetchWaitMs = 0; spillDisk = 0; spillMem = 0
    analysisMs = 0; optimizationMs = 0; physicalMs = 0
    jobsBySpan.clear(); batches.clear(); batchState.clear(); streamJobs = 0
  }
}

/** The benchmark's SparkListener, QueryExecutionListener and
  * StreamingQueryListener, registered and removed as one unit. */
final class Listeners(spark: SparkSession) {
  val c = new Counters
  private final case class JobRun(start: Long, group: String, stages: Set[Int],
      tasks: mutable.ArrayBuffer[(Long, Long)])
  private val running = mutable.HashMap.empty[Int, JobRun]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .flatMap(Option(_)).getOrElse("")
      running(e.jobId) = JobRun(e.time, group, e.stageIds.toSet, mutable.ArrayBuffer.empty)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      c.jobs += 1
      if (group.startsWith("span:")) c.jobsBySpan(group) = c.jobsBySpan(group) + 1
      if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
        c.streamJobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      stageJob.get(e.stageId).flatMap(running.get).foreach(
        _.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
      c.stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillDisk += m.diskBytesSpilled
        c.spillMem += m.memoryBytesSpilled
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      running.remove(e.jobId).foreach { j =>
        // job wall time during which no task of the job was running
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        j.tasks.map { case (a, b) => (math.max(a, j.start), math.min(b, e.time)) }
          .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
            if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
            else curE = math.max(curE, b)
          }
        if (curE > curS) covered += curE - curS
        c.driverGapMs += math.max(0L, e.time - j.start - covered)
        j.stages.foreach(stageJob.remove)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      c.synchronized {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.physicalMs += ms("planning")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      c.synchronized {
        import scala.jdk.CollectionConverters._
        c.batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        c.batchState += ((e.progress.stateOperators.map(_.numRowsTotal).sum,
          e.progress.stateOperators.map(_.memoryUsedBytes).sum))
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.sql.GraftBenchInternals.drain(spark.sparkContext)
}
