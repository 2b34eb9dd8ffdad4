package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the client thread. Times are epoch nanoseconds
  * (nanoTime plus a fixed offset), so they compare with listener event
  * times, which Spark stamps in epoch milliseconds. `opId` is the op the
  * span belongs to; `parent` is 0 for an op's root span. */
final case class Span(id: Long, name: String, opId: Long, parent: Long,
    start: Long, var end: Long = -1L)

/** Span recorder plus the Spark listeners that attribute cluster work to
  * spans. Everything stays in memory until [[Report]] reads it at the end
  * of the run.
  *
  * Attribution: each span sets the local property [[Key]] on the client
  * thread while it is open. A job whose properties carry a span id that
  * was open when the job started belongs to that span. Any other job
  * (started on a thread that did not inherit the property, or that
  * inherited a stale one) is counted in `unattributedJobs` and assigned
  * to the innermost span open at its start time, so its work is never
  * dropped. Planning phases come from `QueryExecution.tracker` and are
  * attributed by their start time the same way.
  *
  * Spark plans lazily: a DataFrame built in one span costs nothing until
  * an action runs, so its scan, parse and upstream operators land in the
  * span of the first action that consumes it. */
final class Tracer(val enabled: Boolean) {
  val Key = "perfbench.span"
  private val offsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var sc: SparkContext = _

  case class Job(id: Int, prop: Option[Long], start: Long,
      stages: Seq[Int], var end: Long = -1L)
  case class Task(stage: Int, cpuNs: Long, runMs: Long, schedMs: Long,
      shuffleWrite: Long, input: Long)
  case class Phase(start: Long, durNs: Long)
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stagesRun = new ConcurrentLinkedQueue[Int]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  /** Job starts counted by a second, independent listener. */
  val jobCount = new java.util.concurrent.atomic.AtomicInteger()

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (!enabled) return
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet(): Unit
    })
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).flatMap(ps =>
          Option(ps.getProperty(Key))).map(_.toLong)
        val j = Job(e.jobId, p, e.time * 1000000L, e.stageIds)
        jobById.put(e.jobId, j)
        jobs.add(j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobById.get(e.jobId)).foreach(_.end = e.time * 1000000L)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stagesRun.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m == null) return
        val i = e.taskInfo
        // the Spark UI's scheduler-delay formula
        val sched = math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(Task(e.stageId, m.executorCpuTime, m.executorRunTime,
          sched, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.values.foreach(ph => phases.add(Phase(
          ph.startTimeMs * 1000000L, (ph.endTimeMs - ph.startTimeMs) * 1000000L)))
    })
  }

  /** Open the root span of one op. */
  def op[A](name: String, opId: Long)(f: => A): A = open(name, opId, 0L)(f)

  /** Open a child span of the innermost open span. */
  def span[A](name: String)(f: => A): A = stack.headOption match {
    case Some(p) => open(name, p.opId, p.id)(f)
    case None => f
  }

  private def open[A](name: String, opId: Long, parent: Long)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(nextId, name, opId, parent, now())
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try f
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drain(sc)
}

/** Hadoop FileSystem statistics for the local `file` scheme, summed over
  * every registered statistics object of that scheme (the checksummed
  * and the raw local file system keep separate ones). */
object FsStats {
  val Keys = Seq("writeOps", "readOps", "largeReadOps", "bytesWritten",
    "bytesRead")
  def snapshot(): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").foreach { s =>
        acc("writeOps") += s.getWriteOps
        acc("readOps") += s.getReadOps
        acc("largeReadOps") += s.getLargeReadOps
        acc("bytesWritten") += s.getBytesWritten
        acc("bytesRead") += s.getBytesRead
      }
    Keys.map(k => k -> acc(k)).toMap
  }
}
