package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `trace` groups the spans of one unit of work (a
  * micro-batch `<query>#<batchId>`, a dashboard refresh, a catalog query),
  * `parent` names the enclosing span. Times are epoch milliseconds.
  */
final case class Span(name: String, trace: String, start: Double, end: Double, parent: String) {
  def ms: Double = end - start
  def json: String =
    f"""{"name":${Json.str(name)},"trace":${Json.str(trace)},"start":$start%.3f,"end":$end%.3f,"parent":${Json.str(parent)}}"""
}

/** Executor-side totals of the tasks attributed to one trace id. */
final class ExecAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's only instrumentation: Spark's own listener interfaces,
  * registered from outside the program. Jobs are attributed to a trace id
  * through their local properties (a streaming micro-batch's query id and
  * batch id, or the `perfbench.trace` property the benchmark sets on its
  * own threads); SQL executions that write files are attributed to their
  * sink by output path. Everything stays in memory until [[spansAll]].
  */
final class Tracer(spark: SparkSession, sinkOf: String => Option[String]) {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val own = new ConcurrentLinkedQueue[Span]() // spans timed by the benchmark itself
  private val queryNames = mutable.Map.empty[String, String]
  private val jobTrace = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val stageTrace = mutable.Map.empty[Int, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val execEnd = mutable.Map.empty[Long, Long]
  private val execSink = mutable.Map.empty[Long, String]
  val aggs = mutable.Map.empty[String, ExecAgg]

  def nameQuery(id: java.util.UUID, name: String): Unit = synchronized { queryNames(id.toString) = name }

  private def agg(trace: String) = aggs.getOrElseUpdate(trace, new ExecAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      val trace = Option(p.getProperty("perfbench.trace")).getOrElse {
        Option(p.getProperty("sql.streaming.queryId")) match {
          case Some(q) => s"${queryNames.getOrElse(q, q)}#${p.getProperty("streaming.sql.batchId", "?")}"
          case None => "other"
        }
      }
      jobTrace(e.jobId) = trace
      jobSpan(e.jobId) = (e.time, -1L)
      Option(p.getProperty("spark.sql.execution.id")).foreach(x => jobExec(e.jobId) = x.toLong)
      e.stageIds.foreach(s => stageTrace(s) = trace)
      val a = agg(trace); a.jobs += 1; a.stages += e.stageIds.size
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach { case (s, _) => jobSpan(e.jobId) = (s, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(stageTrace.getOrElse(e.stageId, "other"))
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) = s.time
          // streaming writes run in a cloned session the QueryExecutionListener
          // never sees, so the plan text is the other way to the output path
          Tracer.WritePath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1)).flatMap(sinkOf)
            .foreach(k => execSink.getOrElseUpdate(s.executionId, k))
        case s: SparkListenerSQLExecutionEnd => execEnd(s.executionId) = s.time
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val paths = qe.analyzed.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      paths.headOption.flatMap(sinkOf).foreach(s => Tracer.this.synchronized { execSink(qe.id) = s })
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val sqListener = new StreamingQueryListener {
    // called on the query's own thread before its first trigger, so every
    // job of a query started while tracing is named
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = nameQuery(e.id, e.name)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** When the listeners were registered (epoch ms). */
  @volatile var registeredAt = Long.MaxValue

  def register(): Unit = {
    registeredAt = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(sqListener)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(sqListener)
  }

  /** Job spans (parent: their SQL execution) and SQL execution spans
    * (named after the sink they wrote, else `sql`) plus the benchmark's
    * own spans. Call after [[unregister]], which drains the listener bus.
    */
  def spansAll(): Seq[Span] = synchronized {
    val execTrace = jobExec.groupBy(_._2).map { case (x, js) => x -> jobTrace(js.keys.min) }
    val sql = execStart.toSeq.flatMap { case (x, s) =>
      execEnd.get(x).map(e => Span(execSink.getOrElse(x, "sql"), execTrace.getOrElse(x, "other"),
        s.toDouble, e.toDouble, execTrace.getOrElse(x, "other")))
    }
    val jobs = jobSpan.toSeq.collect { case (j, (s, e)) if e >= 0 =>
      Span("job", jobTrace(j), s.toDouble, e.toDouble, jobExec.get(j).map(x => s"sql:$x").getOrElse(jobTrace(j)))
    }
    sql ++ jobs ++ own.asScala.toSeq
  }

  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Totals over every trace id `keep` accepts. */
  def execTotals(keep: String => Boolean): ExecAgg = synchronized {
    val t = new ExecAgg
    aggs.foreach { case (k, a) if keep(k) =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks; t.runMs += a.runMs
      t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.shuffleRead += a.shuffleRead
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill; t.peakMem = math.max(t.peakMem, a.peakMem)
      a.stageTaskMs.foreach { case (s, ts) => t.stageTaskMs(s) = ts }
    case _ =>
    }
    t
  }

  /** Job intervals [start, end] (epoch ms) of the trace ids `keep` accepts. */
  def jobIntervals(keep: String => Boolean): Seq[(Long, Long)] = synchronized {
    jobSpan.toSeq.collect { case (j, (s, e)) if e >= 0 && keep(jobTrace(j)) => (s, e) }
  }
}

object Tracer {
  /** The output path in a write's formatted plan ("Arguments: <path>, …"). */
  val WritePath: scala.util.matching.Regex = """InsertIntoHadoopFsRelationCommand\s*\n[^\n]*\nArguments: ([^,\s]+)""".r

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Max task time over median task time, worst stage among those whose
    * median task ran at least 10 ms (shorter stages are scheduling noise).
    */
  def skew(a: ExecAgg): Double =
    a.stageTaskMs.values.map(_.sorted).filter(ts => ts.size >= 2 && ts(ts.size / 2) >= 10)
      .map(ts => ts.last.toDouble / ts(ts.size / 2)).foldLeft(1.0)(math.max)
}
