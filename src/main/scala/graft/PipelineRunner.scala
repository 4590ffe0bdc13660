package graft

import org.apache.spark.sql.SparkSession
import graft.obs.RunRecord

/** Child-JVM pipeline runner for honest scaling measurements: the parent
  * (Bench/Scaling) forks this main under `taskset -c 0..N-1`, so ALL of
  * the JVM's threads (workers, GC, netty, parquet IO) are bounded to N
  * cores — a faithful stand-in for an N-core cluster allocation, unlike
  * in-process local[N] which only bounds task slots.
  *
  * args: <corpusParquetDir> <cores> <specName> [reps]
  * prints one line per measured run: SECS=<seconds> TRIPLES=<count>
  */
object PipelineRunner {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, coresS, specName) = args.take(3)
    val reps = if (args.length > 3) args(3).toInt else 1
    val cores = coresS.toInt
    // SPARK_GRAFT_MASTER overrides the master URL — e.g.
    // `local-cluster[4,8,8192]` runs REAL separate executor JVMs (the
    // N-vs-4N-executor shape of the north rule, each executor with its
    // own heap/GC); default stays thread-scaled local[N]
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val builder = SparkSession.builder()
      .master(master)
      .appName(s"graft-pipeline-$cores")
      // 2 waves per core: a single wave (partitions == cores) leaves
      // cores idle behind the slowest reduce task; two waves let the
      // scheduler backfill behind stragglers
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // local-cluster executors are separate JVMs: ship our classpath and
    // the executor JVM flags explicitly
    val spark = (if (master.startsWith("local-cluster")) builder
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_JAVA_OPTS", ""))
      .config("spark.executor.memory", "8g")
      // session-artifact classloader isolation breaks deserialization of
      // encoder expression trees on standalone executors (field types
      // load in a child loader); this job ships no session artifacts
      .config("spark.sql.artifact.isolation.enabled", "false")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spec = graft.spec.SpecJson.parse(new String(
      getClass.getResourceAsStream(s"/specs/$specName").readAllBytes(), "UTF-8"))
    val corpus = spark.read.parquet(corpusDir)
    // warm-up (JIT/codegen/parquet footers) on a 10% sample: C2 needs
    // ~10^4 invocations, a 10% pass provides ~10^5 rows through every
    // operator at a tenth of the cost of a full warm pass; the measured
    // run's own plan still pays only its one-off ~100ms janino compile
    Pipeline.triples(corpus.sample(0.1, 42L), spec).count()
    // per-run CPU seconds let the parent compute the achieved
    // utilization (cpu / (wall × cores)): a 32-core run that only got
    // ~17 cores' worth of CPU was contended by a tenant neighbor — the
    // parent taints and retries such pairs instead of publishing them.
    // Process cpu covers local modes (includes GC); for local-cluster
    // the work happens in executor JVMs, so the run record's summed
    // task executorCpuTime is printed as TASKCPU (both always printed;
    // the parent picks per mode).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (1 to reps).foreach { rep =>
      val ((n, secs, cpu), record) = RunRecord.collect(spark, s"pipeline-$rep") { rec =>
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val n = rec.step("triples")(Pipeline.triples(corpus, spec).count())
        (n, (System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      val tcpu = record.step("triples").metrics.cpuNs / 1e9
      println(f"SECS=$secs%.3f TRIPLES=$n%d CPUSECS=$cpu%.3f TASKCPU=$tcpu%.3f")
    }
    spark.stop()
  }
}
