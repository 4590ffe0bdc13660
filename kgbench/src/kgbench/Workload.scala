package kgbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs a named part of a job: plainly in timed runs, as a tracer span in
  * traced runs. */
trait Step { def apply[A](name: String)(body: => A): A }

object Step {
  val plain: Step = new Step { def apply[A](name: String)(body: => A): A = body }
}

/** Warm-up inputs are the same for every seed, so set-up time does not
  * move with the seed. */
object Slice {
  val Seed = 1L
  val Entities = 1000L
}

/** One benchmark workload: how its inputs are made and how its batch job
  * runs over them. Each input writer returns the row count of each input
  * it wrote; `specsDir` holds the repository's example specs. */
abstract class Workload(val name: String) {
  /** Writes the warm-up slice under `dir`: small, the same for every seed. */
  def generateSlice(spark: SparkSession, dir: String, specsDir: String): Map[String, Long]
  /** Writes the inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: String, specsDir: String): Map[String, Long]
  /** Opens the job over the slice in `sliceDir` and the seeded inputs in
    * `dir`; `dir` may be written only after `compile` and the warm-up. */
  def open(spark: SparkSession, sliceDir: String, dir: String): Job
}

/** The batch job of one workload over one input set. */
abstract class Job {
  /** Input entities. */
  def entities: Long
  /** Input files whose scan counts as a pass over the corpus. */
  def corpusPaths: Seq[String]
  /** Parses and compiles the specs and plans the job over the slice. */
  def compile(): Unit
  /** One pass of the job's pipeline over the slice, forced with `noop`. */
  def warmUp(): Unit
  /** One batch job over the seeded inputs into `out`.
    * Returns `wall_s` and any further per-job measurements. */
  def run(out: String, step: Step): Map[String, Double]
  /** Problems in the output of one full-input job (empty when correct). */
  def verify(out: String): Seq[String]
  /** Triples one job commits, from the references `verify` compares
    * against (computing it computes them). */
  def triples: Long
  /** Per-layer metrics of one traced job: `spans` maps span name to
    * (seconds, stage metrics); `result` is what `run` returned. */
  def jobLayers(out: String, spans: Map[String, (Double, Tracer#Agg)],
                result: Map[String, Double]): Map[String, Double]
  /** Per-layer self times and counts from nested prefix calls (each
    * forced with the `noop` sink) and other traced stages, with the
    * problems found in their outputs. */
  def prefixLayers(tr: Tracer, parent: String, work: String): (Map[String, Double], Seq[String])
}

object Workload {
  val all: Seq[Workload] = Seq(HumansCli, BackendMultispec)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def readText(path: String): String = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  def writeText(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes("UTF-8"))
  }

  /** Bytes in the data files under `dir` (Hadoop checksum and marker
    * files excluded). */
  def dataBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).mapToLong(f => Files.size(f)).sum()
      finally w.close()
    }
  }

  /** Largest over median reducer load of a shuffle that hash-partitions
    * `df` on `keys` over the session's shuffle width, as the engine's
    * dedup does. `hash` is the Murmur3 the partitioner uses, so these are
    * the per-reducer record counts before AQE coalescing (which hides
    * skew at small sizes). */
  def reducerSkew(df: DataFrame, keys: Seq[String]): Double = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val loads = df.groupBy(pmod(hash(keys.map(col): _*), lit(width))).count()
      .collect().map(_.getLong(1).toDouble).toSeq
    val all = loads ++ Seq.fill(width - loads.size)(0.0)
    all.max / math.max(1.0, median(all))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
