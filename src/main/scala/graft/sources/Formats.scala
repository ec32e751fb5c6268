package graft.sources

import graft.Q
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface of the engine (SURVEY.md §G): schema'd readers
  * for parquet/csv/json/orc and writers with the layouts that matter at
  * 100 TB — hive-style partitioning (partition pruning at read) and
  * bucketing (shuffle-free joins on the bucket key).
  *
  * Every reader reads with an explicit schema: schema inference is an
  * extra pass over the data at scale, and a production feed's schema is
  * a contract, not a guess. The text/orc readers take it from the
  * caller; [[readParquet]] infers it from the files once per
  * application and then reads with that memoized schema.
  */
object Formats {

  private def reader(spark: SparkSession, schema: StructType): DataFrameReader =
    spark.read.schema(schema)

  def readCsv(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    reader(spark, schema).option("header", "true").csv(path)

  def readJson(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    reader(spark, schema).json(path)

  def readOrc(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    reader(spark, schema).orc(path)

  /** The session confs that steer parquet schema inference: the
    * footer-to-Spark type mapping, and which footers are merged. */
  private val ParquetInferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private val parquetSchemas = scala.collection.concurrent.TrieMap
    .empty[(String, String, Seq[Option[String]]), StructType]

  /** The inferred schema of the parquet files at `path`, memoized per
    * (application, path, [[ParquetInferenceConfs]] values). Inference
    * runs a Spark job (footers are read in parallel on the executors),
    * and registry rows build their inputs on every call, so inferring
    * each time put one job in front of almost every row. Only for
    * inputs whose files never change while the application runs: the
    * registry's per-SF tables and the [[stageOnce]] dirs. Paths graft
    * rewrites as it runs (lake sinks, indexes) read without the memo.
    * A session reading under other inference confs (e.g. nanosAsLong,
    * which turns `ts` into a long) gets its own entry, never a stale
    * type. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType =
    parquetSchemas.getOrElseUpdate(
      (spark.sparkContext.applicationId, path, ParquetInferenceConfs.map(spark.conf.getOption)),
      spark.read.parquet(path).schema)

  /** The one reader for parquet inputs that never change while the
    * application runs: reads with the [[parquetSchema]] memo. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    reader(spark, parquetSchema(spark, path)).parquet(path)

  /** hive-style partitioned parquet: one directory per partition value;
    * a filter on the partition column prunes whole directories at plan
    * time (PartitionFilters in the scan, not data skipping). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** bucketed + sorted table: co-locates rows by hash(bucket key) at
    * WRITE time, so a join or aggregation on that key needs no shuffle
    * at READ time. Bucket count should match the downstream
    * parallelism (a divisor/multiple of shuffle.partitions). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, bucketCol: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  // ---- registry rows: text-format round-trip fidelity --------------

  /** Files.list/walk return streams backed by an OPEN directory handle
    * that terminal ops do NOT close — materialize + close here so call
    * sites can't leak one fd per listing. */
  private[graft] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[graft] def walkDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[graft] def deleteRecursivelyOnExit(root: java.nio.file.Path): Unit =
    sys.addShutdownHook {
      import java.nio.file._
      if (Files.exists(root)) {
        walkDir(root).sortBy(_.toString)(Ordering[String].reverse)
          .foreach(p => Files.deleteIfExists(p))
      }
    }

  /** Fresh temp directory registered for JVM-exit cleanup — for
    * per-invocation scratch targets (lake/index/agg dirs of the
    * streamed registry rows), so repeated Verify/Bench runs in one
    * JVM don't accumulate abandoned copies past exit. */
  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    deleteRecursivelyOnExit(p)
    p.toString
  }

  /** A value built once, on first use; concurrent first users wait. */
  private final class Once(build: => Any) { lazy val value: Any = build }

  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Once]()

  /** Stage once per (application, `name`, source `dir`): `write` builds
    * into a fresh [[scratchDir]] (deleted recursively at JVM exit) and
    * its result is reused by every later call. Constructing a row's
    * DataFrame repeatedly (bench iterations, plan audits) must not
    * re-stage its input each time — the asymmetry a production lake
    * has: stage once, query every day. A failed `write` is retried by
    * the next call. */
  private[graft] def stageOnce[T](s: SparkSession, name: String, dir: String)
                                (write: String => T): T =
    staged.computeIfAbsent((s.sparkContext.applicationId, name, dir),
      _ => new Once(write(scratchDir(s"graft_$name")))).value.asInstanceOf[T]

  /** orders → <format> files → schema'd read-back → aggregate; the
    * aggregate must equal the same aggregate over the original parquet
    * (the DuckDB oracle), proving the writer/reader pair loses nothing
    * — including timestamps, which text formats are notorious for
    * mangling across engines/timezones. */
  private def roundtrip(s: SparkSession, dir: String, format: String): DataFrame = {
    val src = Tables(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderdate"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val path = stageOnce(s, s"fmt_$format", dir) { root =>
      val p = root + "/orders"
      src.write.mode("overwrite").option("header", "true").format(format).save(p)
      p
    }
    val back = format match {
      case "csv" => readCsv(s, path, src.schema)
      case "orc" => readOrc(s, path, src.schema)
      case _ => readJson(s, path, src.schema)
    }
    back.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast
        // is the identity instant-wise
        unix_micros(min("o_orderdate").cast("timestamp")).as("min_date_us"),
        unix_micros(max("o_orderdate").cast("timestamp")).as("max_date_us"))
      .orderBy("o_orderstatus")
  }

  private val roundtripOracle =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  epoch_us(CAST(min(o_orderdate) AS TIMESTAMP)) AS min_date_us,
      |  epoch_us(CAST(max(o_orderdate) AS TIMESTAMP)) AS max_date_us
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  val fmtCsvRoundtrip: Q = Q(
    "fmt_csv_roundtrip",
    (s, dir) => roundtrip(s, dir, "csv"),
    Some(roundtripOracle))

  val fmtJsonRoundtrip: Q = Q(
    "fmt_json_roundtrip",
    (s, dir) => roundtrip(s, dir, "json"),
    Some(roundtripOracle))

  val fmtOrcRoundtrip: Q = Q(
    "fmt_orc_roundtrip",
    (s, dir) => roundtrip(s, dir, "orc"),
    Some(roundtripOracle))

  // ---- registry row: bucketed layout = the co-located join ---------

  /** One bucketed staging of (lineitem, orders) per (session, source
    * dir): EXTERNAL tables over scratch dirs (data gone at JVM exit,
    * catalog entries die with the in-memory catalog), 32 buckets on the
    * join key, sorted within buckets. Staged once so bench iterations
    * time the bucketed READ path, not a rewrite per iteration (bucket
    * once, join every day). */
  private def bucketTables(s: SparkSession, dir: String): (String, String) =
    stageOnce(s, "bkt", dir) { root =>
      // collision-resistant table-name tag: two distinct source dirs
      // with colliding String.hashCode would otherwise OVERWRITE each
      // other's staged tables (mode overwrite) while the per-dir cache
      // kept serving the stale names — silently wrong joins
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
      val (liT, ordT) = (s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag")
      val t = Tables(s, dir)
      t.lineitem.select(col("l_orderkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
        .write.mode("overwrite").option("path", s"$root/li")
        .bucketBy(32, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(liT)
      t.orders.select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$root/ord")
        .bucketBy(32, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(ordT)
      (liT, ordT)
    }

  /** The join every warehouse runs daily, on the layout that makes it
    * cheap at 100 TB: both sides bucketed on the join key at WRITE
    * time, so the fact-fact join plans with ZERO Exchange on either
    * side (FormatsSpec pins the shuffle-free plan; this row pins the
    * ANSWER against a plain-join oracle). At 1000 executors this is the
    * difference between re-shuffling 100 TB per run and reading
    * co-located buckets. */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (liT, ordT) = bucketTables(s, dir)
    s.table(liT).join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum("qty").as("sum_qty"),
        sum("price_cents").as("sum_price_cents"),
        min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  // ---- registry row: hive partitioning = the pruned scan -----------

  /** One partitioned staging of orders per (session, source dir):
    * hive-layout parquet, one directory per o_orderstatus. Staged once
    * like the bucketed tables — iterations time the pruned READ. */
  private def partitionedOrders(s: SparkSession, dir: String): String =
    stageOnce(s, "part", dir) { root =>
      val path = root + "/orders"
      writePartitioned(
        Tables(s, dir).orders.select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus")),
        path, "o_orderstatus")
      path
    }

  /** Partition pruning as a verified capability, not just an API: the
    * status filter must resolve to directory pruning at PLAN time
    * (PartitionFilters on the scan — FormatsSpec pins the plan), so at
    * 100 TB a one-status query reads one directory tree, never touching
    * the other partitions' files. The answer is pinned against the
    * unpartitioned oracle. */
  private def prunedScan(s: SparkSession, dir: String): DataFrame =
    readParquet(s, partitionedOrders(s, dir))
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")

  val fmtParquetPartitioned: Q = Q(
    "fmt_parquet_partitioned",
    (s, dir) => prunedScan(s, dir),
    Some("""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM orders WHERE o_orderstatus = 'F'
           |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  val fmtParquetBucketed: Q = Q(
    "fmt_parquet_bucketed",
    (s, dir) => bucketedJoin(s, dir),
    Some("""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin))

  val all: Seq[Q] = Seq(fmtCsvRoundtrip, fmtJsonRoundtrip, fmtOrcRoundtrip,
    fmtParquetBucketed, fmtParquetPartitioned)
}
