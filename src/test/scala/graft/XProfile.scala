package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Scratch profiler for the weighted-sampling hot path (test scope only).
  * Prints PROBE lines with per-phase wall times at sf0.1. */
object XProfile {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    // warm-up
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val c = t("open+rank+cache") {
      val c = graft.queries.SamplingQueries.li(spark, dir)
      c.df.count(); c
    }
    t("o3_replace_total") {
      val df = BlockWeightedSampling(col("l_linenumber"), totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5).plan(c, 11)
      println("PROBE rows " + df.count())
    }
    CacheScope.release()
    t("o3_replace_again") {
      val df = BlockWeightedSampling(col("l_linenumber"), totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5).plan(c, 11)
      println("PROBE rows " + df.count())
    }
    CacheScope.release()
    t("o4_total") {
      val df = ClassBalancedSampling(col("l_returnflag"), totalSize = 3 * c.length / 2,
        blockSize = 16, rng = Rng.Md5).plan(c, 13)
      println("PROBE rows " + df.count())
    }
    CacheScope.release()
    t("o3_noreplace_total") {
      val df = BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 3,
        blockSize = 8, replace = false, rng = Rng.Md5).plan(c, 11)
      println("PROBE rows " + df.count())
    }
    CacheScope.release()
    spark.stop()
  }
}
