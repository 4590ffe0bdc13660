package kgbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.rand
import Workload._

/** Metric names and units; `BENCHMARK.json` lists the same. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "entities_per_s" -> "1/s", "triples_per_s" -> "1/s",
    "setup_s" -> "s", "peak_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "spec.compile_ms" -> "ms",
    "sources.rows" -> "count", "sources.pregate_pass" -> "count", "sources.gate_pass" -> "count",
    "sources.pregate_precision" -> "ratio", "sources.scan_s" -> "s", "sources.gate_s" -> "s",
    "sources.parse_s" -> "s",
    "emit.raw_triples" -> "count", "emit.triples_per_entity" -> "ratio", "emit.s" -> "s",
    "pipeline.dedup.s" -> "s", "pipeline.dedup.kept_ratio" -> "ratio",
    "pipeline.dedup.shuffle_write_mb" -> "MB", "pipeline.dedup.spill_mb" -> "MB",
    "pipeline.dedup.skew" -> "ratio",
    "pipeline.write.nt_s" -> "s", "pipeline.write.table_s" -> "s", "pipeline.write.errors_s" -> "s",
    "pipeline.write.bytes_per_triple" -> "bytes", "pipeline.write.pipeline_passes" -> "count",
    "backend.multiplex_s" -> "s", "backend.counters_s" -> "s", "backend.commit_s" -> "s",
    "backend.corpus_scans" -> "count", "backend.resume_recomputed_specs" -> "count",
    "backend.resume_s" -> "s",
    "snapshot.files" -> "count", "snapshot.bytes_per_triple" -> "bytes",
    "plans.cc.s" -> "s", "plans.cc.jobs" -> "count", "plans.pagerank.s" -> "s",
    "plans.pagerank.jobs" -> "count", "plans.scc.s" -> "s", "plans.scc.jobs" -> "count",
    "plans.scc.rounds" -> "count",
    "spark.jobs" -> "count", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.cpu_util" -> "ratio",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s")
}

/** Inputs on disk, generated once and cached: the warm-up slice per
  * workload, the seeded inputs per (workload, seed). */
object Inputs {
  /** Part of the cache key: bump it when a generator or a size changes. */
  val Version = 4
  /** Seeded input sets kept per workload; older ones are deleted. */
  val Keep = 3

  def sliceDir(root: String, wl: Workload): String = s"$root/inputs/${wl.name}-v$Version-slice"
  def seededDir(root: String, wl: Workload, seed: Long): String =
    s"$root/inputs/${wl.name}-v$Version-s$seed"

  /** Generates `dir` with `write` unless it is there; returns the row and
    * byte count of each input in it. */
  def ensure(dir: String)(write: String => Map[String, Long]): Map[String, Map[String, Long]] = {
    val meta = Paths.get(dir, "inputs.tsv")
    if (!Files.exists(meta)) {
      val tmp = s"$dir.tmp"
      delete(Paths.get(tmp))
      val rows = write(tmp)
      Files.write(Paths.get(tmp, "inputs.tsv"), rows.toSeq.sorted.map { case (k, n) =>
        val p = Paths.get(tmp, k)
        val bytes = if (Files.isDirectory(p)) dataBytes(p.toString) else Files.size(p)
        s"$k\t$n\t$bytes\n"
      }.mkString.getBytes("UTF-8"))
      delete(Paths.get(dir))
      Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
      evict(Paths.get(dir).getParent)
    }
    Files.readAllLines(meta).asScala.map(_.split("\t")).map { f =>
      f(0) -> Map("rows" -> f(1).toLong, "bytes" -> f(2).toLong)
    }.toMap
  }

  /** Keeps the newest [[Keep]] seeded sets of each workload and no set of
    * an older [[Version]]. */
  private def evict(inputs: Path): Unit = {
    val Seeded = """(.+)-v(\d+)-s-?\d+""".r
    val Other = """(.+)-v(\d+)-.*""".r
    val sets = Files.list(inputs).iterator().asScala.toSeq
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
    sets.filter(_.getFileName.toString match {
      case Other(_, v) => v.toInt != Version
      case _ => false
    }).foreach(delete)
    sets.map(p => p -> p.getFileName.toString).collect {
      case (p, Seeded(wl, v)) if v.toInt == Version => wl -> p
    }.groupBy(_._1).values.foreach(_.map(_._2).drop(Keep).foreach(delete))
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally w.close()
  }
}

/** Benchmark main. One run: set up (session, spec compile, warm-up pass
  * over a fixed slice) three times, then run the workload's batch job
  * back to back for `--seconds` and at least [[MinJobs]] times, one job
  * at a time, then check every job's output. With `--trace 1` the window
  * is split: plain jobs, traced jobs, then nested prefix calls for
  * per-layer self times. The result is written as JSON to `--result`. */
object Main {
  val SetupReps = 3
  /** Jobs a timed window runs at least: the first is the least warm, and
    * the median of three leaves it out. */
  val MinJobs = 3

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, specs: String, launchMs: Long, result: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Opts(get("mode", "run"), get("workload", ""), get("seed", "1").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1", get("root", ".bench_build/kgbench"),
      get("specs", "src/main/resources/specs"), get("launch-ms", System.currentTimeMillis.toString).toLong,
      get("result", "result.json"))
  }

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val o = parse(args)
    val out = o.mode match {
      case "list-metrics" => Map(
        "end_to_end" -> Metrics.endToEnd.map { case (n, u) => Map("name" -> n, "unit" -> u) },
        "per_layer" -> Metrics.perLayer.map { case (n, u) => Map("name" -> n, "unit" -> u) })
      case "selftest" => selfTest(o)
      case "run" => run(o, (enteredMs - o.launchMs) / 1e3)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Json.write(o.result, out)
  }

  def session(root: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val abs = (p: String) => Paths.get(root, p).toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", abs("spark-local"))
      .config("spark.sql.warehouse.dir", abs("warehouse"))
      // the tracer finds corpus scans in the plan text; keep paths whole
      .config("spark.sql.maxMetadataStringLength", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val started = System.nanoTime()
  /** Progress line on stderr (the run log). */
  def phase(what: String): Unit =
    System.err.println(f"[kgbench] ${(System.nanoTime() - started) / 1e9}%8.2f s  $what")

  def run(o: Opts, jvmStartS: Double): Map[String, Any] = {
    val wl = Workload.byName(o.workload)
    Jvm.install()
    val cores = Runtime.getRuntime.availableProcessors()

    val work = s"${o.root}/work/${wl.name}"
    Inputs.delete(Paths.get(work))

    // ---- set-up, several times: session, spec compile, warm-up on the
    // slice. The seeded inputs are made (untimed) after the first.
    val sliceDir = Inputs.sliceDir(o.root, wl)
    val dir = Inputs.seededDir(o.root, wl, o.seed)
    var spark: SparkSession = null
    var job: Job = null
    var inputs = Map.empty[String, Map[String, Long]]
    val setups = ArrayBuffer.empty[Double]
    val compiles = ArrayBuffer.empty[Double]
    for (rep <- 0 until SetupReps) {
      if (spark != null) stop(spark)
      val (s, sessionS) = secs(session(o.root))
      spark = s
      Inputs.ensure(sliceDir)(wl.generateSlice(s, _, o.specs)) // fixed: made once per checkout
      job = wl.open(spark, sliceDir, dir)
      val (_, compileS) = secs(job.compile())
      val (_, warmS) = secs(job.warmUp())
      phase(f"set-up $rep: session $sessionS%.2f s, compile $compileS%.2f s, warm-up $warmS%.2f s")
      setups += sessionS + compileS + warmS
      compiles += compileS
      if (rep == 0) {
        inputs = Inputs.ensure(dir)(wl.generate(s, o.seed, _, o.specs))
        phase("inputs ready")
      }
    }
    val setupS = jvmStartS + median(setups.toSeq)

    // ---- the measured window: one batch job at a time, back to back
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]
    val outputs = ArrayBuffer.empty[String]
    /** One job after a full GC (outside its timing); adds the GC and JIT
      * compile seconds spent during the job to what `run` returns. */
    def runJob(step: Step): Option[(String, Map[String, Double])] = {
      System.gc()
      attempted += 1
      val out = s"$work/job-$attempted"
      try {
        val (gc0, jit0) = (Jvm.gcMillis, Jvm.jitMillis)
        val r = job.run(out, step)
        outputs += out
        Some(out -> (r ++ Map("gc_s" -> (Jvm.gcMillis - gc0) / 1e3, "jit_s" -> (Jvm.jitMillis - jit0) / 1e3)))
      } catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"job $attempted failed: $e"
          None
      }
    }
    val t0 = System.nanoTime()
    val windowNs = (o.seconds * 1e9).toLong
    /** Repeats `body` until `share` of the window has passed and it ran
      * at least `min` times. */
    def until(share: Double, min: Int)(body: => Unit): Unit = {
      var n = 0
      do { body; n += 1 } while (n < min || System.nanoTime() - t0 < (windowNs * share).toLong)
    }

    val walls = ArrayBuffer.empty[Double]
    val extras = ArrayBuffer.empty[Map[String, Double]]
    val layerSamples = ArrayBuffer.empty[Map[String, Double]]
    val tracedWalls = ArrayBuffer.empty[Double]
    var spans: Seq[Map[String, Any]] = Nil
    var peakHeapMb = 0.0

    if (!o.trace) {
      Jvm.resetPeak()
      until(1.0, MinJobs) {
        runJob(Step.plain).foreach { case (_, r) => walls += r("wall_s"); extras += r }
      }
      // a full collection after the window also counts what stays live
      System.gc()
      Thread.sleep(200)
      peakHeapMb = Jvm.peakAfterGcBytes / 1e6
    } else {
      val sc = spark.sparkContext
      val tracer = new Tracer(sc, job.corpusPaths)
      def traced[A](body: => A): A = {
        sc.addSparkListener(tracer)
        try body finally sc.removeSparkListener(tracer)
      }
      def tracedJob(): Unit = traced {
        val parent = s"job-${attempted + 1}"
        val recs = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Tracer#Agg)]
        val step = new Step {
          def apply[A](name: String)(body: => A): A = {
            val (r, id, s) = tracer.span(name, parent)(body)
            recs(name) = (s, tracer.agg(id))
            r
          }
        }
        runJob(step).foreach { case (out, r) =>
          val wall = r("wall_s")
          tracedWalls += wall
          val aggs = tracer.spans.filter(_.parent == parent).map(s => tracer.agg(s.id))
          val cpu = aggs.map(_.taskCpuNs).sum / 1e9
          layerSamples += job.jobLayers(out, recs.toMap, r) ++ Map(
            "spark.jobs" -> aggs.map(_.jobs).sum.toDouble,
            "spark.task_cpu_s" -> cpu,
            "spark.gc_s" -> r("gc_s"),
            "spark.shuffle_write_mb" -> aggs.map(_.shuffleWriteBytes).sum / 1e6,
            "spark.spill_mb" -> aggs.map(_.spillBytes).sum / 1e6,
            "spark.cpu_util" -> cpu / (wall * cores),
            "trace.wall_s" -> wall)
        }
      }
      // plain and traced jobs alternate, so the warm-up trend cancels out
      // of the tracing overhead: at least three plain and two traced
      var i = 0
      while (i < MinJobs + 2 || System.nanoTime() - t0 < windowNs * 2 / 3) {
        if (i % 2 == 0) runJob(Step.plain).foreach { case (_, r) => walls += r("wall_s") }
        else tracedJob()
        i += 1
      }
      var rep = 0
      until(1.0, 1) {
        rep += 1
        attempted += 1
        val (m, p) = traced(job.prefixLayers(tracer, s"prefix-$rep", s"$work/prefix-$rep"))
        layerSamples += m
        if (p.nonEmpty) { failed += 1; problems ++= p.map(x => s"prefix-$rep: $x") }
      }
      spans = tracer.spansAsJson
    }

    phase(s"window done: $attempted jobs")
    // ---- correctness of every job's output (outside the window)
    val triples = job.triples // computes the references
    phase("references ready")
    outputs.foreach { out =>
      val p = try job.verify(out) catch { case NonFatal(e) => Seq(s"check failed: $e") }
      if (p.nonEmpty) { failed += 1; problems ++= p.map(x => s"${Paths.get(out).getFileName}: $x") }
    }
    val correct = failed == 0 && attempted > 0 && walls.nonEmpty
    phase("outputs checked")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val wall = median(walls.toSeq)
        Seq(("wall_s", wall, "s"),
          ("entities_per_s", job.entities / wall, "1/s"),
          ("triples_per_s", triples / wall, "1/s"),
          ("setup_s", setupS, "s"),
          ("peak_heap_mb", peakHeapMb, "MB"))
      } else {
        val keys = layerSamples.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(layerSamples.flatMap(_.get(k)).toSeq)).toMap ++ Map(
          "spec.compile_ms" -> median(compiles.toSeq) * 1e3,
          "trace.overhead_s" -> (if (tracedWalls.isEmpty) 0.0
            else median(tracedWalls.toSeq) - median(walls.toSeq)))
        Metrics.perLayer.map { case (n, u) => (n, med.getOrElse(n, 0.0), u) }
      }
    Inputs.delete(Paths.get(work))
    stop(spark)

    Map(
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.take(20).toSeq,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> Map(
        "wall_s" -> walls.toSeq, "setup_s" -> setups.toSeq.map(_ + jvmStartS),
        "traced_wall_s" -> tracedWalls.toSeq,
        "job_gc_s" -> extras.flatMap(_.get("gc_s")).toSeq,
        "job_jit_s" -> extras.flatMap(_.get("jit_s")).toSeq),
      "inputs" -> inputs,
      "jvm" -> Map(
        "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version),
      "spans" -> spans)
  }

  /** Self-checks of the benchmark's own machinery. */
  def selfTest(o: Opts): Map[String, Any] = {
    val spark = session(o.root)
    import spark.implicits._
    val lines = (0 until 3000).map(i => s"<s${i % 101}> <p$i> \"o ${i * 7 % 13}\" .")
    val d = Digest.of(lines.toDF("line"))
    val shuffled = Digest.of(lines.toDF("line").orderBy(rand(7)).repartition(5))
    val changed = Digest.of(lines.updated(5, "<x> <y> <z> .").toDF("line"))
    val dropped = Digest.of(lines.drop(1).toDF("line"))
    val checks = ArrayBuffer[(String, Boolean)](
      "digest.order_independent" -> (d == shuffled),
      "digest.detects_change" -> (d != changed && d != dropped))
    val base = Paths.get(o.root, "selftest")
    Workload.all.foreach { wl =>
      def gen(seed: Long, tag: String): Map[String, String] = {
        val dir = base.resolve(s"${wl.name}-$tag")
        Inputs.delete(dir)
        wl.generate(spark, seed, dir.toString, o.specs)
        fileHashes(dir)
      }
      val a = gen(11, "a")
      checks += s"${wl.name}.same_seed_identical" -> (a.nonEmpty && a == gen(11, "b"))
      checks += s"${wl.name}.other_seed_differs" -> (a != gen(12, "c"))
    }
    Inputs.delete(base)
    stop(spark)
    checks.toMap
  }

  /** sha256 of every data file under `dir`, keyed by its relative path
    * with the per-write unique id Spark puts in part-file names removed. */
  private def fileHashes(dir: Path): Map[String, String] = {
    val uid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val w = Files.walk(dir)
    try w.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      dir.relativize(f).toString.replaceAll(uid, "") ->
        md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap
    finally w.close()
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (render(v) + "\n").getBytes("UTF-8"))
}
