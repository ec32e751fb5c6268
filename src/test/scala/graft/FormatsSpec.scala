package graft

import graft.sources.{Formats, Tables}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §G sources/sinks: format round-trips, partition pruning, bucketed
  * shuffle-free joins — with plan-level assertions, not just results. */
class FormatsSpec extends AnyFunSuite with SparkSpec {

  private def tmp(prefix: String): String =
    tempDir(prefix) + "/t"

  private def explain(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private lazy val li = Tables(spark, sfDir).lineitem

  test("csv/json/orc round-trip with explicit schema") {
    val src = li.select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    val n = src.count()
    val checksum = src.agg(sum("l_orderkey"), sum("l_quantity")).head.toSeq

    for ((fmt, write, read) <- Seq[(String,
        (org.apache.spark.sql.DataFrame, String) => Unit,
        String => org.apache.spark.sql.DataFrame)](
      ("csv", (d, p) => d.write.option("header", "true").csv(p),
        p => Formats.readCsv(spark, p, src.schema)),
      ("json", (d, p) => d.write.json(p),
        p => Formats.readJson(spark, p, src.schema)),
      ("orc", (d, p) => d.write.orc(p),
        p => Formats.readOrc(spark, p, src.schema)))) {
      val path = tmp(s"graft_$fmt")
      write(src, path)
      val back = read(path)
      assert(back.count() == n, s"$fmt row count")
      assert(back.agg(sum("l_orderkey"), sum("l_quantity")).head.toSeq == checksum,
        s"$fmt checksum")
    }
  }

  test("partitioned parquet write prunes partitions at read") {
    val path = tmp("graft_part")
    Formats.writePartitioned(li.select("l_orderkey", "l_quantity", "l_returnflag"),
      path, "l_returnflag")
    val pruned = Formats.readParquet(spark, path).filter(col("l_returnflag") === "R")
    val plan = explain(pruned)
    assert(plan.contains("PartitionFilters"), "scan should have partition filters")
    assert(plan.contains("l_returnflag"), "partition filter on the partition column")
    val expected = li.filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == expected)
  }

  test("predicate and projection pushdown reach the parquet scan") {
    val q = li.filter(col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    val plan = explain(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,"),
      s"filter must be pushed; plan was:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      "projection must prune unused columns from the scan")
  }

  test("bucketed tables join without a shuffle") {
    // isolated session: suites share one SparkSession and run in
    // parallel, so disabling broadcast on the shared conf would race
    // with the plan-audit suite's broadcast assertions
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Formats.writeBucketed(
        Tables(s, sfDir).lineitem.select("l_orderkey", "l_quantity"),
        "li_b", 8, "l_orderkey")
      Formats.writeBucketed(
        Tables(s, sfDir).orders.select("o_orderkey", "o_custkey"),
        "ord_b", 8, "o_orderkey")
      val joined = s.table("li_b")
        .join(s.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("hashpartitioning("),
        s"bucketed join must not shuffle; plan was:\n$plan")
      assert(joined.count() > 0)
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("fmt_parquet_bucketed row: join keys never shuffle; answer matches a fresh plain join") {
    // isolated session (broadcast off) so the fact-fact join can't hide
    // behind a broadcast at toy SF — at 100 TB neither side broadcasts
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val row = Formats.fmtParquetBucketed.run(s, sfDir)
    val plan = row.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the agg and orderBy may exchange on THEIR keys; the bucketed join
    // keys must not — that shuffle is what the write-time layout bought
    assert(!plan.contains("hashpartitioning(l_orderkey"),
      s"lineitem side must read co-located buckets; plan was:\n$plan")
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      s"orders side must read co-located buckets; plan was:\n$plan")
    val got = row.collect().map(_.toSeq)
    import org.apache.spark.sql.functions.{count => cnt, _}
    val t = graft.sources.Tables(s, sfDir)
    val fresh = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(cnt(lit(1)).as("n"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sum_price_cents"),
        min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
      .collect().map(_.toSeq)
    assert(got.toSeq == fresh.toSeq)
  }

  test("fmt_parquet_partitioned row: status filter prunes at plan time") {
    val row = Formats.fmtParquetPartitioned.run(spark, sfDir)
    val plan = explain(row)
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"status filter must prune partition directories; plan was:\n$plan")
    assert(row.count() == 1) // one status group survives the filter
  }
}
