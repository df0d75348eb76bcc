package kvbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans recorded from outside the library: around public calls
  * (by the workloads), around store hooks (by [[TimedStore]]), and for
  * Spark jobs and query executions (by listeners). A span's parent is the
  * span open on the same thread when it started; a job's parent is the
  * span whose id rode the job's local properties. Nothing is recorded
  * unless [[Trace.start]] ran, so untraced runs pay one boolean test per
  * call.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
                        files: Int = 0, manifestFiles: Int = 0, bytes: Long = 0L)
  final case class Job(id: Int, span: Long, submit: Long, var end: Long = -1L,
                       var stages: Int = 0, var tasks: Int = 0, var firstLaunch: Long = -1L,
                       var runMs: Long = 0L, var cpuNs: Long = 0L, var gcMs: Long = 0L,
                       var taskMs: Long = 0L, var inBytes: Long = 0L, var inRecords: Long = 0L,
                       var shWrite: Long = 0L, var shRead: Long = 0L, var outBytes: Long = 0L)
  final case class Query(id: Long, start: Long, var span: Long,
                         phases: Map[String, Long], rules: Map[String, (Long, Int, Int)])

  @volatile private var on = false
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  val queries = TrieMap.empty[Long, Query]
  private val jobEvents = new AtomicLong(0L)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private var sc: SparkContext = _
  @volatile private var offsetNs = 0L
  val SpanProp = "kvbench.span"

  def now(): Long = System.nanoTime()
  /** Listener times are epoch millis; spans are [[now]] nanos. */
  def wallToNano(ms: Long): Long = ms * 1000000L - offsetNs

  /** Time `f` as a span named `name` under the thread's open span. */
  def span[A](name: String)(f: => A): A = spanId(name)(f)._1

  /** [[span]], also returning the span's id (0 when not tracing). */
  def spanId[A](name: String)(f: => A): (A, Long) = {
    if (!on) return (f, 0L)
    val id = ids.incrementAndGet(); val parent = current.get()
    current.set(id); sc.setLocalProperty(SpanProp, id.toString)
    val t0 = now()
    try (f, id)
    finally {
      spans.add(Span(id, parent, name, t0, now()))
      current.set(parent); sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
    }
  }

  /** A leaf span with counters, for store calls whose work is lazy. */
  def mark(name: String, t0: Long, files: Int = 0, manifestFiles: Int = 0, bytes: Long = 0L): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), current.get(), name, t0, now(),
      files, manifestFiles, bytes))

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  def stop(spark: SparkSession): Unit = {
    on = false
    // listener events arrive asynchronously: wait until every submitted job
    // has reported its end (and the event count stays still) before reading
    val deadline = now() + 20000000000L
    var last = -1L
    while (now() < deadline &&
        (jobs.values.exists(_.end < 0) || jobEvents.get() != last)) {
      last = jobEvents.get(); Thread.sleep(100)
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobEvents.incrementAndGet()
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val j = Job(e.jobId, span, e.time)
      j.stages = e.stageInfos.size
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      jobs.put(e.jobId, j)

    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEvents.incrementAndGet()
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.synchronized {
          if (j.firstLaunch < 0 || e.taskInfo.launchTime < j.firstLaunch)
            j.firstLaunch = e.taskInfo.launchTime
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      jobEvents.incrementAndGet()
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.taskMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.inBytes += m.inputMetrics.bytesRead; j.inRecords += m.inputMetrics.recordsRead
            j.shWrite += m.shuffleWriteMetrics.bytesWritten
            j.shRead += m.shuffleReadMetrics.totalBytesRead
            j.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val start = if (t.phases.isEmpty) -1L else wallToNano(t.phases.values.map(_.startTimeMs).min)
      queries.put(qe.id, Query(qe.id, start, 0L,
        t.phases.map { case (k, v) => k -> v.durationMs },
        t.rules.map { case (k, v) =>
          k -> ((v.totalTimeNs, v.numInvocations.toInt, v.numEffectiveInvocations.toInt)) }))
    }
  }

  /** Attach each query to the op it was planned in: the one op whose
    * interval holds the start of its first planning phase (the listener
    * runs on another thread, so the span is not known when it fires).
    */
  def attributeQueries(opAt: Long => Option[Long]): Unit =
    queries.values.foreach(q => q.span = opAt(q.start).getOrElse(0L))

  def allSpans: Seq[Span] = spans.asScala.toSeq
}
