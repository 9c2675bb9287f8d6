package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Test-scope physical-plan audit of registered queries.
  *
  * A selector is a query key, a domain name from `SparkEntry.domains`
  * (`tpch`, `media`, ...) or `all`.  For every selected query it prints
  * one row of the plan-shape table: shuffle exchanges by partitioning,
  * broadcasts, windows, sorts, file scans, non-empty pushed and partition
  * filters, bucketed scans and codegen stages.  The last column flags a
  * Window over a SinglePartition exchange, the one shape that cannot
  * scale out (all rows through one task); one-row global aggregates may
  * use SinglePartition, a window must not.  Given a DUMP_SUFFIX it also
  * writes `explain("formatted")` to `plans/<key>_<DUMP_SUFFIX>.txt`.
  *
  * AQE is off so the plans show their full static shape rather than an
  * unexecuted AdaptiveSparkPlan stub.
  *
  * Run: sbt 'Test/runMain graft.XPlan SF_DIR SELECTOR[,SELECTOR...] [DUMP_SUFFIX]' */
object XPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: XPlan SF_DIR (KEY|DOMAIN|all)[,...] [DUMP_SUFFIX]")
    val sfDir = args(0)
    val selectors = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dump = args.lift(2)
    val outDir = "plans"

    val registered = SparkEntry.queries
    val keys = selectors.flatMap { sel =>
      if (sel == "all") registered.keys.toSeq.sorted
      else SparkEntry.domains.find(_.name == sel) match {
        case Some(d) => d.entries.map(_._1)
        case None if registered.contains(sel) => Seq(sel)
        case None => sys.error(s"'$sel' is neither a query key nor a domain " +
          s"(${SparkEntry.domains.map(_.name).mkString(", ")})")
      }
    }.distinct

    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dump.foreach(_ => new java.io.File(outDir).mkdirs())

    println("PLAN | query | hash ex | range ex | single ex | broadcasts | " +
      "windows | sorts | scans | pushed filters | partition filters | " +
      "bucketed | codegen stages | 1-part window |")
    println("PLAN |---|---|---|---|---|---|---|---|---|---|---|---|---|")
    var flagged = List.empty[String]
    var errors = 0
    keys.foreach { key =>
      try {
        val df = registered(key)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(plan).length
        // a Window whose child exchange is SinglePartition: the string
        // form lists the window above its exchange, within 3 lines
        val lines = plan.split("\n")
        val oneTaskWindow = lines.zipWithIndex.exists { case (l, i) =>
          l.contains("Window") &&
            lines.slice(i + 1, i + 4).exists(_.contains("Exchange SinglePartition"))
        }
        if (oneTaskWindow) flagged ::= key
        // codegen stages print as `*(n)`; count distinct stage ids
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        println(s"PLAN | $key | ${c("Exchange hashpartitioning")} | " +
          s"${c("Exchange rangepartitioning")} | ${c("Exchange SinglePartition")} | " +
          s"${c("BroadcastExchange")} | ${c("\\bWindow\\b")} | ${c("\\bSort\\b")} | " +
          s"${c("FileScan ")} | " +
          s"${c("PushedFilters: \\[[^\\]]") + c("PushedAggregation: \\[[^\\]]")} | " +
          s"${c("PartitionFilters: \\[[^\\]]")} | ${plan.contains("Bucketed: true")} | " +
          s"$codegen | ${if (oneTaskWindow) "FLAG" else ""} |")
        dump.foreach { suffix =>
          val path = java.nio.file.Paths.get(outDir, s"${key}_$suffix.txt")
          java.nio.file.Files.writeString(path,
            df.queryExecution.explainString(FormattedMode))
        }
      } catch { case e: Throwable =>
        errors += 1
        println(s"PLAN | $key | ERROR ${e.toString.take(100)} |")
      } finally graft.core.CacheScope.release()
    }
    val named = if (flagged.isEmpty) "" else flagged.reverse.mkString(" (", ", ", ")")
    println(s"PLAN summary: ${keys.size} audited, ${flagged.size} " +
      s"single-partition windows$named, $errors errors")
    spark.stop()
  }
}
