package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * precision, on the same clock as Spark's job events. `op` is the id of
  * the benchmark op the span belongs to (0 outside ops). */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      start: Double, var end: Double = Double.NaN)

/** Span recorder plus the listeners of the traced run. Everything stays in
  * memory; [[Layers.spansJson]] writes them out once the run has ended. With
  * `enabled = false` every entry point is a pass-through, so untraced runs
  * register no listener and record nothing. */
object Trace {
  @volatile var enabled = false
  val SpanProp = "perfbench.span"

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val nextId = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def currentOp: Long = stack.lastOption.map(_.id).getOrElse(0L)

  /** Run `body` inside a span named `name`; Spark jobs it submits carry the
    * span id as a local property, so they are attributed to it. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(0L),
        name, 0L, nowMs)
      val rooted = if (parent.isEmpty) s.copy(op = s.id) else s.copy(op = currentOp)
      spans.synchronized(spans += rooted)
      stack = rooted :: stack
      sc.setLocalProperty(SpanProp, rooted.id.toString)
      try body
      finally {
        rooted.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  // ---- Spark listeners -------------------------------------------------

  final class JobRec(val id: Int, val span: Long, val execId: Long,
                     val start: Double, val stages: Seq[Int]) {
    var end: Double = Double.NaN
  }
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
  }
  final class QeRec(val execId: Long, val phases: Map[String, Double],
                    val outPath: Option[String])

  val jobs = mutable.HashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageSubmit = mutable.HashMap.empty[Int, Long]
  val jobTasks = mutable.HashMap.empty[Int, TaskAgg]
  val qes = mutable.HashMap.empty[Long, QeRec]
  val streamProgress = mutable.ArrayBuffer.empty[(Long, StreamingQueryListener.QueryProgressEvent)]

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, span, exec, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val a = jobTasks.getOrElseUpdate(j, new TaskAgg)
        a.tasks += 1
        stageSubmit.get(e.stageId).foreach(t => a.waitMs += math.max(0L, e.taskInfo.launchTime - t))
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Catalyst phases and written path of each finished SQL
    * execution, keyed by the execution id its jobs carry. */
  private object SqlListener extends SparkListener
      with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.PerfbenchSql.qeOf(end)).foreach(record(end.executionId, _))
      case _ => ()
    }
    private def record(execId: Long, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      val out = collectFirst(qe.executedPlan) {
        case w: DataWritingCommandExec => w.cmd
      }.orElse(qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c })
        .collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath }
      val rec = new QeRec(execId, phases, out)
      synchronized(qes(execId) = rec)
    }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(streamProgress += ((opAt(Trace.nowMs), e)))
  }

  /** The op whose span was open at time `t` — streaming progress events
    * arrive on the listener thread, so they are attributed by time. */
  private def opAt(t: Double): Long = spans.synchronized {
    spans.reverseIterator.find(s => s.parent == 0 && s.start <= t &&
      (s.end.isNaN || s.end >= t - 50)).map(_.id).getOrElse(0L)
  }

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (enabled) {
      sc.addSparkListener(JobListener)
      sc.addSparkListener(SqlListener)
      spark.streams.addListener(StreamListener)
    }
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  // ---- enrich client accounting -----------------------------------------

  object Enrich {
    val calls = new AtomicLong; val rows = new AtomicLong
    val failed = new AtomicLong; val callMs = new DoubleAdder
    val callTimes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    /** Forget the set-up's calls: the counters are per timed op. */
    def reset(): Unit = {
      calls.set(0); rows.set(0); failed.set(0); callMs.reset(); callTimes.clear()
    }
  }

  /** A [[graft.enrich.BatchLookup.LookupClient]] that times each call of the
    * wrapped client. Task copies of it record into the JVM-wide [[Enrich]]
    * counters (local mode runs tasks in this JVM). A call fails when the
    * wrapped client null-enriched the batch with an error text. */
  final class TimingClient(inner: graft.enrich.BatchLookup.LookupClient)
      extends graft.enrich.BatchLookup.LookupClient {
    override def lookup(batch: Seq[Row]): Seq[Row] = {
      val t0 = System.nanoTime()
      val out = inner.lookup(batch)
      val ms = (System.nanoTime() - t0) / 1e6
      Enrich.calls.incrementAndGet(); Enrich.rows.addAndGet(batch.size)
      Enrich.callMs.add(ms); Enrich.callTimes.add(ms)
      val issues = out.flatMap(r => Option(r.get(r.length - 1)).map(_.toString))
      if (issues.exists(i => i != "rate limited")) Enrich.failed.incrementAndGet()
      out
    }
  }
}
