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

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def load(t: Tables, name: String): org.apache.spark.sql.DataFrame = name match {
    case "region" => t.region
    case "nation" => t.nation
    case "customer" => t.customer
    case "supplier" => t.supplier
    case "part" => t.part
    case "orders" => t.orders
    case "lineitem" => t.lineitem
    case "events" => t.events
    case "documents" => t.documents
    case "embeddings" => t.embeddings
  }

  /** Spark jobs that this thread starts while `body` runs. Suites share
    * one SparkContext and run in parallel, so only jobs carrying this
    * call's local-property tag count. A tagged marker job closes the
    * window: one listener queue delivers events in order, so once the
    * marker's onJobEnd arrives, no earlier job start is still queued. */
  private def jobsRunBy(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == tag + "/marker" => markers.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, tag + "/marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerEnded.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker job's end never reached the listener")
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a second Tables build of each input table runs no Spark job") {
    // the counter sees an inference job, so a 0 below is not vacuous
    assert(jobsRunBy(spark.read.parquet(s"$sfDir/orders.parquet").schema) >= 1)
    for (name <- tableNames) {
      load(Tables(spark, sfDir), name)
      assert(jobsRunBy(load(Tables(spark, sfDir), name)) == 0,
        s"$name: building the table again must not re-infer its schema")
    }
  }

  test("the memoized schema equals a fresh inference for every input table") {
    val t = Tables(spark, sfDir)
    for (name <- tableNames) {
      val memo = load(t, name).schema
      val fresh = spark.read.parquet(s"$sfDir/$name.parquet")
      val expected = if (name == "events") Tables.normalizeTs(fresh).schema else fresh.schema
      assert(memo == expected, s"$name: memoized schema differs from inference")
    }
    assert(t.events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("the schema memo infers afresh under other inference confs") {
    // a path no other test reads, so no other conf values are memoized
    val path = tmp("graft_schema_memo") + "/orders.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
      java.nio.file.Paths.get(path))
    val seeded = Formats.parquetSchema(spark, path)
    // a session of the same application with other inference confs
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong",
      (!spark.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean).toString)
    assert(jobsRunBy(Formats.parquetSchema(s, path)) >= 1,
      "another nanosAsLong value must not reuse the memoized schema")
    assert(jobsRunBy(Formats.parquetSchema(s, path)) == 0)
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val ltz = Formats.parquetSchema(s, path)
    assert(ltz == s.read.parquet(path).schema)
    assert(ltz("o_orderdate").dataType == org.apache.spark.sql.types.TimestampType)
    assert(seeded("o_orderdate").dataType == org.apache.spark.sql.types.TimestampNTZType,
      "the shared session keeps its own entry")
  }

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
