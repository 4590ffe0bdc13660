package graft.obs

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One run's record: the Spark stage metrics of the run's own jobs,
  * added up per step, from one listener that lives exactly as long as
  * the run ([[RunRecord.collect]]).
  *
  * [[step]] tags the calling thread's jobs with the local property
  * [[RunRecord.Key]] = `<run>#<n>/<step>`, `n` unique to the record.
  * Spark hands local properties on
  * to the threads it runs a query's jobs from, so every job the step
  * causes carries the tag. The listener counts only jobs tagged with its
  * own run, so runs sharing a SparkContext (concurrent `Backend` workers
  * on one session) never count each other's work, and a job started
  * outside every step is not counted. The caller's job group and job
  * description are left alone: code that attributes jobs by
  * `spark.jobGroup.id` sees the same jobs with or without a record.
  *
  * The metrics are the ones Spark accumulates for every stage anyway:
  * the record launches no job and reads no data. */
final class RunRecord private (sc: SparkContext, val run: String) extends SparkListener {
  import RunRecord._

  private final class Agg {
    var wallNs = 0L
    var metrics = Metrics()
    val counters = mutable.LinkedHashMap.empty[String, Long]
  }

  // every Agg field is guarded by this record's lock
  private val steps = mutable.LinkedHashMap.empty[String, Agg]
  private val stageSteps = new ConcurrentHashMap[Int, Agg]()
  private val liveInputRows = new AtomicLong()
  private val prefix = s"$run#${ids.incrementAndGet()}/"

  private def agg(step: String): Agg = synchronized(steps.getOrElseUpdate(step, new Agg))

  /** Runs `body` as step `name`: its jobs are tagged with the step, and
    * its wall time is added to the step's. The thread's previous tag is
    * restored on exit, so steps nest (the innermost step owns a job). */
  def step[A](name: String)(body: => A): A = {
    val a = agg(name)
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, prefix + name)
    val t0 = System.nanoTime()
    try body
    finally {
      sc.setLocalProperty(Key, previous)
      synchronized(a.wallNs += System.nanoTime() - t0)
    }
  }

  /** Input rows read by the run's finished tasks so far: a live count,
    * for progress reports. */
  def inputRows: Long = liveInputRows.get

  /** Sets counters the caller measured itself (observed metrics, say)
    * on step `name`. */
  def addCounters(name: String, values: Iterable[(String, Long)]): Unit = {
    val a = agg(name)
    synchronized(a.counters ++= values)
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty(Key)))
      .filter(_.startsWith(prefix)).foreach { tag =>
        val a = agg(tag.drop(prefix.length))
        synchronized(a.metrics += Metrics(jobs = 1))
        j.stageIds.foreach(stageSteps.put(_, a))
      }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null && stageSteps.containsKey(t.stageId))
      liveInputRows.addAndGet(t.taskMetrics.inputMetrics.recordsRead)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    val a = stageSteps.get(info.stageId)
    if (a != null && info.taskMetrics != null) {
      val m = info.taskMetrics
      synchronized(a.metrics += Metrics(
        stages = 1, tasks = info.numTasks, taskMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        inputRows = m.inputMetrics.recordsRead, inputBytes = m.inputMetrics.bytesRead,
        outputRows = m.outputMetrics.recordsWritten, outputBytes = m.outputMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten, spillBytes = m.diskBytesSpilled))
    }
  }

  private def snapshot(wallNs: Long): Record = synchronized {
    Record(run, wallNs / 1e9, steps.toSeq.map { case (name, a) =>
      Step(name, a.wallNs / 1e9, a.metrics, a.counters.toMap)
    })
  }
}

object RunRecord {
  /** The local property that tags a job with its run and step. */
  val Key = "graft.obs.step"

  private val ids = new AtomicLong()
  private val Json = new ObjectMapper()

  /** Stage metrics added up over jobs. `taskMs` is executor run time and
    * `cpuNs` executor CPU time, each summed over tasks; `spillBytes` is
    * what spilled to disk. */
  final case class Metrics(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                           cpuNs: Long = 0, inputRows: Long = 0, inputBytes: Long = 0,
                           outputRows: Long = 0, outputBytes: Long = 0,
                           shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                           spillBytes: Long = 0) {
    def +(o: Metrics): Metrics = Metrics(
      jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs, cpuNs + o.cpuNs,
      inputRows + o.inputRows, inputBytes + o.inputBytes, outputRows + o.outputRows,
      outputBytes + o.outputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }

  final case class Step(name: String, wallS: Double, metrics: Metrics, counters: Map[String, Long])

  /** A finished run: its steps in the order they were first entered. */
  final case class Record(run: String, wallS: Double, steps: Seq[Step]) {
    def step(name: String): Step = steps.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"run $run has no step $name"))

    /** The record as one JSON object (metric names in snake case). */
    def json: String = {
      val root = Json.createObjectNode().put("run", run).put("wall_s", millis(wallS))
      val arr = root.putArray("steps")
      steps.foreach { s =>
        val o = arr.addObject().put("step", s.name).put("wall_s", millis(s.wallS))
        putMetrics(o, s.metrics)
        if (s.counters.nonEmpty) {
          val c = o.putObject("counters")
          s.counters.foreach { case (k, v) => c.put(k, v) }
        }
      }
      Json.writeValueAsString(root)
    }

    /** The line `Cli` and `Backend` print: `[graft.obs] <json>`. */
    def line: String = s"[graft.obs] $json"
  }

  private def millis(secs: Double): Double = math.round(secs * 1000) / 1000.0

  private def putMetrics(o: ObjectNode, m: Metrics): Unit =
    m.productElementNames.zip(m.productIterator).foreach { case (k, v) =>
      o.put(k.replaceAll("([A-Z])", "_$1").toLowerCase, v.asInstanceOf[Long])
    }

  /** Runs `body` with a fresh record of run `run` and returns its result
    * with the finished record. The listener is registered for the call
    * only and removed however `body` ends; the bus is drained before the
    * record is read, so the record holds every job `body` finished. */
  def collect[A](spark: SparkSession, run: String)(body: RunRecord => A): (A, Record) = {
    val sc = spark.sparkContext
    val rec = new RunRecord(sc, run)
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val result = body(rec)
      val wallNs = System.nanoTime() - t0
      GraftBus.drain(sc)
      (result, rec.snapshot(wallNs))
    } finally sc.removeSparkListener(rec)
  }
}
