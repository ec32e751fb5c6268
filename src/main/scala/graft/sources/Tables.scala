package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables (see
  * TESTDATA.md). Each table's schema is inferred once per application
  * ([[Formats.readParquet]]) and every later load reads with it, so
  * building a row's inputs runs no job. One place to hang
  * partitioning/bucketing hints; everything downstream takes these
  * DataFrames, so a production deployment swaps this for its own
  * catalog without touching operators.
  */
final case class Tables(spark: SparkSession, dir: String) {
  graft.functions.Native.install(spark)

  private def load(name: String): DataFrame =
    Formats.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def supplier: DataFrame   = load("supplier")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")
  /** events.ts arrives in whatever physical layout the driver
    * generated this round; normalize to TIMESTAMP (see
    * [[Tables.normalizeTs]]). */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(load("events"))
  }
  def documents: DataFrame  = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** Memoized row count of the embeddings table — the one scalar that
    * sizes every corpus-scaled knob ([[graft.operators.Dedup.embBits]],
    * [[graft.operators.Ann.kmeansK]], the anchor-sample modulus).
    * Several registry rows need it in the same run; the memo turns
    * those repeated metadata scans into one. */
  def embeddingsCount: Long = Tables.cachedCount(spark, s"$dir/embeddings.parquet")

  /** Memoized row count of the documents table — sizes the
    * corpus-scaled near-dup family count in mm_phash_pairs the same
    * way [[embeddingsCount]] sizes the embedding-bucket knobs. */
  def documentsCount: Long = Tables.cachedCount(spark, s"$dir/documents.parquet")
}

object Tables {

  /** Per-(application, path) row-count memo. Keyed by applicationId so
    * entries die with the application, never a cross-app leak; the
    * registry's inputs are immutable per-SF directories, so a count is
    * stable for the application's lifetime (a catalog-backed
    * deployment would invalidate on write instead). */
  private val countMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  private[sources] def cachedCount(spark: SparkSession, path: String): Long =
    countMemo.getOrElseUpdate((spark.sparkContext.applicationId, path),
      Formats.readParquet(spark, path).count())
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Normalize an events frame's `ts` to TIMESTAMP across the physical
    * layouts the driver has generated:
    *  - int64 TIMESTAMP(NANOS) (read as long via nanosAsLong, Spark 4
    *    rejects the nanos type): truncate to micros — the same
    *    truncation DuckDB applies casting TIMESTAMP_NS -> TIMESTAMP;
    *  - parquet timestamp[us] without UTC adjustment (Spark reads
    *    TIMESTAMP_NTZ): cast — the session runs in UTC, so the wall
    *    clock IS the instant and DuckDB's naive TIMESTAMP agrees;
    *  - already TIMESTAMP: as-is.
    * Keeping every historical branch means one binary reads either
    * vintage of the lake — schema drift in a feed must never require
    * a code fork. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Read a lake table, or return an empty frame with `schema` ONLY
    * when the table does not exist yet — path missing, or a directory
    * holding nothing but hidden metadata (`_`/`.`-prefixed), which is
    * what a writer crash between its metadata write and first data
    * write leaves behind (documented-harmless in ParquetUpsert). Any
    * other failure — corrupt footer, truncated file, IO/permission
    * error — propagates: the callers' contract is provable
    * equivalence to a from-scratch run, and silently treating a
    * damaged index as empty is data corruption, not recovery. */
  def readOrEmpty(sp: SparkSession, path: String,
                  schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val exists = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!exists)
      sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // explicit schema: the caller already knows it, and schema
    // inference re-reads parquet footers with a driver-side job on
    // EVERY call — the incremental-dedup index is read 3+ times per
    // micro-batch, so inference alone added jobs per batch (guide §1:
    // don't compute things you throw away). Partition columns (kbkt /
    // ibkt) take their declared int type, same as inference produced.
    else sp.read.schema(schema).parquet(path)
  }
}
