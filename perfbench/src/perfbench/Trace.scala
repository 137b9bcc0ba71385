package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.TableIO
import scala.collection.mutable

/** One Spark job: start and end (`System.nanoTime`, end -1 while
  * running), its job description, and what its tasks used. */
final case class JobRec(start: Long, var end: Long, desc: String,
    var runMs: Long = 0L, var outBytes: Long = 0L)

/** One streaming trigger that carried data: `durationMs` of the
  * trigger and of its `addBatch` phase. */
final case class Trigger(triggerMs: Long, addBatchMs: Long)

/** What the listeners counted during the traced job. */
final class Counters {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val triggers = mutable.ArrayBuffer.empty[Trigger]
  var tasks, failedTasks = 0L
  var runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, inputBytes, spill = 0L
  var recordsRead, recordsWritten, bytesWritten = 0L
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges = 0L
}

/** One timed interval around a call into a layer. Times are
  * `System.nanoTime`; `parent` is the enclosing span's id (-1 at the
  * root). All spans of one process belong to its one job. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** In-memory tracer: spans recorded around the benchmark's calls into
  * the program, plus a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener on every session it is attached to. Nothing
  * is written until the process ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, System.nanoTime()))
    try body
    finally {
      val (_, start) = open.pop()
      spans.synchronized { spans += Span(id, parent, name, start, System.nanoTime()) }
    }
  }

  /** A span that started and ended at known times (no enclosing call). */
  def record(name: String, start: Long, end: Long): Unit = spans.synchronized {
    spans += Span(nextId, open.headOption.map(_._1).getOrElse(-1), name, start, end)
    nextId += 1
  }

  // ------------------------------------------------------------ Spark side

  val c = new Counters
  // job events carry wall-clock ms; map them onto the spans' nanoTime axis
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nsOf(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  /** Job ids restart with every SparkContext, so each attached session
    * gets its own listener and stage → job map. */
  private def sparkListener = new SparkListener {
    private val jobOf = mutable.Map.empty[Int, JobRec]     // by job id
    private val stageJob = mutable.Map.empty[Int, JobRec]  // by stage id
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = JobRec(nsOf(e.time), -1L, desc)
      c.jobs += j
      jobOf(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      jobOf.get(e.jobId).foreach(_.end = nsOf(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        stageJob.get(e.stageId).foreach { j =>
          j.runMs += m.executorRunTime
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val ex = exchanges(qe.executedPlan)
      c.synchronized {
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.exchanges += ex
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.synchronized { c.triggers += Trigger(ms("triggerExecution"), ms("addBatch")) }
      }
    }
  }

  private def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec        => exchanges(q.plan)
    case e: Exchange              => 1 + e.children.map(exchanges).sum
    case other                    => other.children.map(exchanges).sum
  }

  /** Listen on `spark`. Stopping the session delivers every queued
    * event; [[drain]] does the same for a session still running. */
  private val attached = mutable.Map.empty[SparkSession, SparkListener]

  def attach(spark: SparkSession): Unit = {
    val l = sparkListener
    attached(spark) = l
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued event of a running session, then stop
    * listening to it. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    attached.remove(spark).foreach(spark.sparkContext.removeSparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Nanoseconds of [from, to) during which at least one Spark job ran. */
  def jobActiveNs(from: Long, to: Long): Long = {
    val iv = c.jobs.toSeq
      .map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** The jobs that started in [from, to). */
  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    c.jobs.toSeq.filter(j => j.start >= from && j.start < to)
}

/** TableIO decorator: a span around every call into the source/sink
  * layer when traced, and in every run the end of the last write (the
  * job's last output) and what was left persisted after it. */
final class TimedIO(inner: TableIO, spark: SparkSession, t: Option[Tracer]) extends TableIO {
  private def span[T](name: String)(b: => T): T = t.fold(b)(_.span(name)(b))
  def readOriginal(table: String): DataFrame =
    span(s"tableio.readOriginal:$table")(inner.readOriginal(table))
  def readTarget(table: String): DataFrame =
    span(s"tableio.readTarget:$table")(inner.readTarget(table))
  def writeTarget(table: String, df: DataFrame): Unit = {
    span(s"tableio.writeTarget:$table")(inner.writeTarget(table, df))
    Clock.outputDone(spark)
  }
}
