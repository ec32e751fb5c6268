package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Debug helper: print the formatted physical plan of registry rows
  * and each one's static hash-exchange count (the PlanAuditSpec
  * metric). Rows are comma-separated and share one session; each
  * prints as a block headed `== Row: <name> ==` (the unit
  * tools/plan_diff.py compares). */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainQ <row>[,<row>...] <sfDir> [show[:N]]")
    val (names, sfDir) = (args(0).split(",").toSeq, args(1))
    // optional 3rd arg `show[:N]`: ALSO print the first N (default 20)
    // result rows — spot-checking a row's VALUES at an arbitrary SF
    // (e.g. do q_approx_topk's verdict booleans hold at sf10, where the
    // correctness gate never runs)
    val showRows = args.lift(2).map { a =>
      require(a.matches("show(:[0-9]+)?"), s"3rd arg must be show[:N], got: $a")
      if (a.contains(":")) a.split(":")(1).toInt else 20
    }
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      println(s"== Row: $name ==")
      println(p)
      println("HASHPART_COUNT=" + "hashpartitioning\\(".r.findAllIn(p).size)
      showRows.foreach(n => df.show(n, truncate = false))
    }
    spark.stop()
  }
}
