package graft

import graft.cdc.Router
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Multi-table routing contracts the DuckDB oracle can't see: the feed
  * is parsed exactly once however many tables it carries, all tables
  * materialize in one shuffle, and one stream fans out to per-table
  * sink directories (the reference's table.name.format semantics). */
class RouterSpec extends SparkSpec {

  private def listDirs(root: String): Set[String] =
    graft.sources.Formats.listDir(java.nio.file.Paths.get(root))
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("tbl=")).toSet

  test("the multiplexed feed is parsed exactly once (no per-table re-parse)") {
    val df = Router.cdcRoute.run(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    val n = "from_json".r.findAllIn(plan).size
    assert(n == 1, s"expected ONE from_json in the routed plan, found $n:\n$plan")
    // and all tables come out of ONE aggregation exchange
    val physical = df.queryExecution.executedPlan.toString
    val exchanges = "hashpartitioning".r.findAllIn(physical).size
    assert(exchanges <= 1, s"routing must not add per-table shuffles:\n$physical")
  }

  test("routed tables are independent entities: one key, per-table state") {
    val snap = Router.cdcRoute.run(spark, sfDir).cache()
    try {
      assert(snap.select("tbl").distinct().collect().map(_.getString(0)).toSet
        == Set("ORDERS", "CUSTOMERS"))
      val perKey = snap.groupBy("key")
        .agg(countDistinct("tbl").as("n_tbl"), countDistinct("last_scn").as("n_scn"))
        .filter(col("n_tbl") === 2)
      assert(perKey.count() > 0, "keys must exist in both tables")
      assert(perKey.filter(col("n_scn") === 2).count() > 0,
        "the same key must be able to carry DIFFERENT latest versions per table")
    } finally snap.unpersist()
  }

  test("writeRouted lays each table into its own directory; per-table reads prune to it") {
    val root = tempDir("graft_route") + "/lake"
    val snap = Router.materializeRouted(
      Router.parseRouted(Router.routedFeed(spark, sfDir), col("json")))
    Router.writeRouted(snap, root)
    assert(listDirs(root) == Set("tbl=ORDERS", "tbl=CUSTOMERS"))

    val orders = spark.read.parquet(root).filter(col("tbl") === "ORDERS")
    assert(orders.count() == snap.filter(col("tbl") === "ORDERS").count())
    val scanned = orders.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("tbl=ORDERS")),
      s"per-table consumer leaked outside its directory: ${scanned.mkString(", ")}")
  }

  test("parallel per-table fan-out produces byte-identical lake contents") {
    // same parsed batch, applied serially (parallelism=1) and on a
    // 4-thread pool — the lakes must agree table by table, proving the
    // per-table merges really are independent (incl. no shared-conf race
    // in the dynamic-overwrite write path)
    val batch = Router.parseRouted(Router.routedFeed(spark, sfDir), col("json"))
      .select(col("tbl"), col("key"), col("scn"), col("xid"), col("op"),
        when(col("op") === "d", col("before.id")).otherwise(col("after.id")).as("id"),
        when(col("op") === "d", col("before.cents")).otherwise(col("after.cents")).as("cents"),
        when(col("op") === "d", col("before.type")).otherwise(col("after.type")).as("typ"))
    val serialRoot = tempDir("graft_route_ser")
    val parRoot = tempDir("graft_route_par")
    Router.applyRoutedBatch(batch, serialRoot, parallelism = 1)
    Router.applyRoutedBatch(batch, parRoot, parallelism = 4)

    def tables(root: String): Set[String] =
      graft.sources.Formats.listDir(java.nio.file.Paths.get(root))
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(tables(serialRoot) == tables(parRoot) && tables(parRoot).nonEmpty)
    tables(parRoot).foreach { t =>
      val a = spark.read.parquet(s"$serialRoot/$t")
        .collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"$parRoot/$t")
        .collect().map(_.toSeq).toSet
      assert(a == b, s"table $t diverged between serial and parallel fan-out")
      // and the parallel path still recorded bucket metadata per table
      assert(graft.sinks.ParquetUpsert.bucketCount(spark, s"$parRoot/$t").nonEmpty)
    }
  }

  test("ONE stream fans out to N per-table sink directories") {
    val routed = Router.parseRouted(
      graft.cdc.Cdc.feedFrom(Streams.eventsStream(spark, sfDir), Router.routing),
      col("json"))
    val root = tempDir("graft_route_stream") + "/sink"
    val ckpt = tempDir("graft_route_ckpt")
    val q = routed.writeStream.format("parquet")
      .option("path", root).option("checkpointLocation", ckpt)
      .partitionBy("tbl").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    assert(listDirs(root) == Set("tbl=ORDERS", "tbl=CUSTOMERS"))
    val back = spark.read.parquet(root)
    // nothing lost, nothing misrouted: the directory IS the envelope
    assert(back.count() ==
      graft.sources.Tables(spark, sfDir).events.count())
    val misrouted = back.filter(
      (col("scn") % 3 === 0 && col("tbl") =!= "CUSTOMERS") ||
      (col("scn") % 3 =!= 0 && col("tbl") =!= "ORDERS")).count()
    assert(misrouted == 0)
  }
}
