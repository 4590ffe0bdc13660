package kgbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's calls into the engine, plus the Spark
  * stage metrics of the jobs each span ran.
  *
  * A span sets the job group (and with it the job description) of the
  * calling thread, so every job the engine submits inside the call is
  * tagged with the span; the listener sums each job's stage metrics into
  * that span. Spans are kept in memory and written out with the result.
  *
  * `corpusPaths`: input locations whose scan marks a job as a corpus pass
  * (matched against the SQL execution's physical plan text). */
final class Tracer(sc: SparkContext, corpusPaths: Seq[String]) extends SparkListener {

  final class Agg {
    var jobs = 0
    var taskCpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val corpusJobs: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
  }
  final case class Span(id: String, name: String, parent: String, startNs: Long, endNs: Long)

  val spans = ArrayBuffer.empty[Span]
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execScansCorpus = new ConcurrentHashMap[Long, Boolean]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()
  private var seq = 0
  private val origin = System.nanoTime()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execScansCorpus.put(e.executionId,
        corpusPaths.exists(p => e.physicalPlanDescription.contains(p)))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(j.jobId, g)
      val agg = aggs.computeIfAbsent(g, _ => new Agg)
      agg.synchronized { agg.jobs += 1 }
    }
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(e => jobExec.put(j.jobId, e.toLong))
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    val job = stageJob.get(info.stageId)
    val group = jobGroup.get(job)
    if (group != null && info.taskMetrics != null) {
      val m = info.taskMetrics
      val agg = aggs.computeIfAbsent(group, _ => new Agg)
      agg.synchronized {
        agg.taskCpuNs += m.executorCpuTime
        agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        agg.spillBytes += m.diskBytesSpilled
      }
      if (m.inputMetrics.bytesRead > 0 && jobExec.containsKey(job) &&
          execScansCorpus.getOrDefault(jobExec.get(job), false))
        agg.corpusJobs.add(job)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = endedJobs.add(j.jobId)

  /** Run `body` as span `name` under `parent`; returns its result and its
    * wall seconds. Waits until the listener has seen every job of the
    * span end, so `agg(id)` is complete when this returns. */
  def span[A](name: String, parent: String)(body: => A): (A, String, Double) = {
    seq += 1
    val id = s"$name#$seq"
    sc.setJobGroup(id, id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, t0 - origin, t1 - origin)
      (r, id, (t1 - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      awaitJobs(id)
    }
  }

  def agg(id: String): Agg = aggs.getOrDefault(id, new Agg)

  private def awaitJobs(group: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def pending = sc.statusTracker.getJobIdsForGroup(group).exists(j => !endedJobs.contains(j))
    while (pending && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def spansAsJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val a = agg(s.id)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6, "jobs" -> a.jobs,
      "task_cpu_ms" -> a.taskCpuNs / 1e6, "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "spill_bytes" -> a.spillBytes, "corpus_jobs" -> a.corpusJobs.size)
  }
}

/** JVM-wide counters read around a measured window: heap occupancy right
  * after each GC (its maximum is the peak-heap metric) and total GC time. */
object Jvm {
  import java.lang.management.ManagementFactory
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong()
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def resetPeak(): Unit = peakAfterGc.set(0L)
  def peakAfterGcBytes: Long = peakAfterGc.get
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  /** Time the JIT compilers spent compiling (summed over their threads). */
  def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
