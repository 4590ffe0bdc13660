package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints the formatted physical plans of the KG
  * pipeline (before and after its dedup) and selected queries (scan
  * pushdown / broadcast / codegen verification).
  * Usage: runMain graft.Explain [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft-explain").toString
    sources.EntityCorpus.generate(spark, 2000).toDF().write.mode("overwrite").parquet(dir)
    val humans = graft.spec.SpecJson.parse(new String(
      getClass.getResourceAsStream("/specs/humans.json").readAllBytes(), "UTF-8"))

    // the deduplicated triples are a leaf over their shared dedup
    // shuffle; the scan → gate → parse → emit shape is the pre-dedup plan
    println("==== KG pipeline (humans.json), pre-dedup ====")
    Pipeline.triples(spark.read.parquet(dir), humans, dedup = false).explain("formatted")
    println("==== KG pipeline (humans.json) ====")
    Pipeline.triples(spark.read.parquet(dir), humans).explain("formatted")

    val names = if (args.nonEmpty) args.toSeq else Seq("q_join_multi", "q1_agg", "q_semi_exists")
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
