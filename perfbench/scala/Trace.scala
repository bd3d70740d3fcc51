package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution, StreamExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into a layer. Times are
  * wall-clock epoch milliseconds (the unit Spark's listener events use),
  * refined with nanoTime for the duration itself. */
final class Span(val id: Long, val parent: Long, val name: String,
    val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
}

/** Engine work attributed to one span. */
final class Engine {
  var jobs = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var shuffleRecords = 0L
  var spill = 0L; var peakExecMem = 0L
  def add(o: Engine): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; shuffleRecords += o.shuffleRecords
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

final case class JobRec(jobId: Int, span: Long, batch: Option[(String, Long)],
    startMs: Long, var endMs: Long)

/** One finished SQL execution: `writePath`/`writeRows`/`writeParts` are set
  * for file writes, `filesRead`/`rowsRead` sum the plan's file scans. */
final case class QeRec(span: Long, func: String,
    durMs: Double, planMs: Double,
    writePath: Option[String], writeRows: Long, writeParts: Long,
    filesRead: Long, rowsRead: Long)

final case class ProgressRec(queryId: String, batchId: Long,
    durations: Map[String, Long], inputRows: Long)

/** Span recorder plus the three listeners that attribute engine work to
  * the enclosing span. A span id travels to Spark as a thread-local
  * property set around the call; jobs started by that thread, or by a
  * thread it starts (the stream's execution thread), carry it. Nothing
  * is recorded while detached, so an untraced call pays one branch. */
final class Tracer(spark: SparkSession) {
  val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  @volatile private var on = false

  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val engine = new ConcurrentHashMap[Long, Engine]()
  // QueryExecutionListener callbacks, and the execution id of each
  // QueryExecution from the execution-end event; joined in `qes`
  private val qeRecs = new java.util.IdentityHashMap[QueryExecution, QeRec]()
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()

  /** Finished executions, each attributed to the span its jobs were
    * tagged with. */
  def qes: Seq[QeRec] = qeRecs.synchronized {
    qeRecs.asScala.toSeq.map { case (qe, r) =>
      qeExec.synchronized(Option(qeExec.get(qe))) match {
        case Some(x) => r.copy(span = execSpan.getOrDefault(x, 0L))
        case None => r
      }
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
        name, System.currentTimeMillis().toDouble)
      spans.synchronized(spans += s)
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        s.endMs = s.startMs + (System.nanoTime() - t0) / 1e6
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  private def eng(span: Long): Engine = engine.computeIfAbsent(span, _ => new Engine)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      val p = e.properties
      val batch = for {
        q <- Option(p).flatMap(x => Option(x.getProperty(StreamExecution.QUERY_ID_KEY)))
        b <- Option(p.getProperty(MicroBatchExecution.BATCH_ID_KEY))
      } yield (q, b.toLong)
      jobs.put(e.jobId, JobRec(e.jobId, span, batch, e.time, e.time))
      Option(p).flatMap(x => Option(x.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .foreach(x => execSpan.put(x.toLong, span))
      e.stageIds.foreach(stageSpan.put(_, span))
      eng(span).synchronized { eng(span).jobs += 1 }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val qe = org.apache.spark.sql.SqlEnd.qe(end)
        if (qe != null) qeExec.synchronized(qeExec.put(qe, end.executionId))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = if (e.properties != null && e.properties.getProperty(SpanKey) != null)
        spanOf(e.properties) else stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
      stageSpan.put(e.stageInfo.stageId, span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val g = eng(stageSpan.getOrDefault(e.stageId, 0L))
        g.synchronized {
          g.tasks += 1
          g.runMs += m.executorRunTime
          g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          g.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          g.peakExecMem = math.max(g.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private object Qes extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = planNodes(qe.executedPlan)
      val write = nodes.collectFirst { case w: DataWritingCommandExec => w }
      val path = write.flatMap(_.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => Some(c.outputPath.toString)
        case _ => None
      })
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      qeRecs.synchronized(qeRecs.put(qe, QeRec(0L, func, durationNs / 1e6, planMs,
        path,
        write.map(w => w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).getOrElse(0L),
        write.map(w => w.cmd.metrics.get("numParts").map(_.value).getOrElse(0L)).getOrElse(0L),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(p.id.toString, p.batchId,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Qes)
    spark.streams.addListener(Streams)
    on = true
  }

  def detach(): Unit = {
    drain()
    on = false
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Qes)
    spark.streams.removeListener(Streams)
  }

  /** Block until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.BusDrain(sc)

  def spansNamed(prefix: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  def children(s: Span): Seq[Span] = spans.synchronized(spans.filter(_.parent == s.id).toSeq)

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = s.durMs - Tracer.covered(children(s).map(c => (c.startMs, c.endMs)))

  /** The given spans and all their descendants. */
  def withDescendants(roots: Seq[Span]): Seq[Span] = {
    val byParent = spans.synchronized(spans.toSeq).groupBy(_.parent)
    def desc(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(desc)
    roots.flatMap(desc).distinct
  }

  /** Engine totals over the given spans and all their descendants. */
  def engineOf(roots: Seq[Span]): Engine = {
    val out = new Engine
    withDescendants(roots).foreach(s => Option(engine.get(s.id)).foreach(out.add))
    out
  }

  def qesUnder(roots: Seq[Span]): Seq[QeRec] = {
    val ids = withDescendants(roots).map(_.id).toSet
    qes.filter(q => ids.contains(q.span))
  }

  def jobsUnder(roots: Seq[Span]): Seq[JobRec] = {
    val ids = withDescendants(roots).map(_.id).toSet
    jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq
  }
}

object Tracer {
  /** Length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
