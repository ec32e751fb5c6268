package graft

import graft.sinks.ParquetUpsert
import graft.streaming.ChangeRow
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The bucketed parquet upsert sink: merge correctness across batches
  * AND the physical contract that a micro-batch leaves buckets it does
  * not touch byte-for-byte alone (the 100 TB property — per-batch cost
  * is O(touched buckets), not O(table)). */
class ParquetUpsertSpec extends SparkSpec {

  private def ins(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "c", Some(key), Some(cents), Some("t"))
  private def upd(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "u", Some(key), Some(cents), Some("t"))
  private def del(key: Long, scn: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "d", None, None, None)

  private def toBatch(rows: Seq[ChangeRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  private def newTarget(): String =
    tempDir("graft_pq_upsert") + "/tbl"

  /** (file name -> last-modified) for every data file, keyed by bucket dir. */
  private def fileState(target: String): Map[String, Map[String, Long]] = {
    val root = Paths.get(target)
    graft.sources.Formats.listDir(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
      .map { dir =>
        dir.getFileName.toString ->
          graft.sources.Formats.listDir(dir)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis)
            .toMap
      }.toMap
  }

  private def bucketOf(key: Long, numBuckets: Int = 16): Int =
    spark.sql(s"SELECT pmod(hash(CAST($key AS BIGINT)), $numBuckets)")
      .collect()(0).getInt(0)

  private def snapshot(target: String): Seq[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(target).filter(col("op") =!= "d")
      .select("key", "cents", "scn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
  }

  test("upsert/delete/tombstone semantics across micro-batches") {
    val target = newTarget()
    ParquetUpsert.applyBatch(toBatch(Seq(ins(1, 10, 100), ins(2, 11, 200))), target)
    assert(snapshot(target) == Seq((1L, 100L, 10L), (2L, 200L, 11L)))

    ParquetUpsert.applyBatch(toBatch(Seq(upd(1, 20, 150), del(2, 12))), target)
    assert(snapshot(target) == Seq((1L, 150L, 20L)))

    // a LATE older insert for the deleted key must NOT resurrect it —
    // the tombstone (scn 12) outranks it inside the bucket merge
    ParquetUpsert.applyBatch(toBatch(Seq(ins(2, 5, 999))), target)
    assert(snapshot(target) == Seq((1L, 150L, 20L)))

    // but a genuinely newer insert does resurrect it
    ParquetUpsert.applyBatch(toBatch(Seq(ins(2, 30, 222))), target)
    assert(snapshot(target) == Seq((1L, 150L, 20L), (2L, 222L, 30L)))
  }

  test("a batch rewrites only the buckets its keys hash into") {
    val target = newTarget()
    // seed: keys 1..40 spread across the 16 buckets
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target)
    val before = fileState(target)
    assert(before.size > 1, "seed batch should populate multiple buckets")

    // second batch touches exactly one key -> exactly one bucket
    ParquetUpsert.applyBatch(toBatch(Seq(upd(1, 100, 111))), target)
    val after = fileState(target)
    val hot = s"bucket=${bucketOf(1L)}"

    assert(after(hot) != before(hot), "touched bucket must be rewritten")
    before.keys.filter(_ != hot).foreach { b =>
      assert(after(b) == before(b),
        s"untouched bucket $b was rewritten (files/mtimes changed)")
    }
    // and the merge result is still right
    assert(snapshot(target).contains((1L, 111L, 100L)))
  }

  test("replayed micro-batch is idempotent (foreachBatch recovery re-delivers batches)") {
    val target = newTarget()
    val b1 = Seq(ins(1, 10, 100), ins(2, 11, 200), del(3, 12))
    ParquetUpsert.applyBatch(toBatch(b1), target)
    ParquetUpsert.applyBatch(toBatch(Seq(upd(1, 20, 150))), target)
    val settled = snapshot(target)
    // checkpoint recovery replays the last committed batch
    ParquetUpsert.applyBatch(toBatch(Seq(upd(1, 20, 150))), target)
    assert(snapshot(target) == settled)
    // and even a replay of an OLDER batch cannot regress state
    ParquetUpsert.applyBatch(toBatch(b1), target)
    assert(snapshot(target) == settled)
  }

  test("compaction drops aged tombstones bucket-by-bucket, leaves live buckets alone") {
    import org.apache.spark.sql.functions.col
    val target = newTarget()
    // keys 1..30 live; keys 31..33 inserted then deleted (tombstones)
    ParquetUpsert.applyBatch(
      toBatch((1L to 33L).map(k => ins(k, k, k * 10))), target)
    ParquetUpsert.applyBatch(
      toBatch(Seq(del(31, 100), del(32, 101), del(33, 102))), target)
    val before = fileState(target)
    assert(spark.read.parquet(target).filter(col("op") === "d").count() == 3)

    ParquetUpsert.compact(spark, target, upToScn = 102)

    // tombstones gone, live rows intact
    assert(spark.read.parquet(target).filter(col("op") === "d").count() == 0)
    assert(snapshot(target).map(_._1).toSet == (1L to 30L).toSet)
    // buckets that held no aged tombstone are physically untouched
    val tombBuckets = Seq(31L, 32L, 33L).map(k => s"bucket=${bucketOf(k)}").toSet
    val after = fileState(target)
    before.keys.filterNot(tombBuckets).foreach { b =>
      assert(after(b) == before(b), s"bucket $b without tombstones was rewritten")
    }
    // a later redelivered stale insert for a compacted key re-inserts
    // (the fence is gone by contract — upToScn means everyone is past it)
    ParquetUpsert.applyBatch(toBatch(Seq(ins(31, 50, 999))), target)
    assert(snapshot(target).contains((31L, 999L, 50L)))
  }

  test("pointLookup (pull query) prunes to the key's single bucket and hides tombstones") {
    import org.apache.spark.sql.functions.input_file_name
    val target = newTarget()
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target)
    ParquetUpsert.applyBatch(toBatch(Seq(del(7, 100))), target)

    // live key: exactly its row, served from exactly one bucket dir
    val live = ParquetUpsert.pointLookup(spark, target, 5L)
    assert(live.select("key", "cents").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 50L)))
    val scanned = ParquetUpsert.pointLookup(spark, target, 5L)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val expectDir = s"bucket=${bucketOf(5L)}"
    assert(scanned.nonEmpty && scanned.forall(_.contains(expectDir)),
      s"pull query leaked outside $expectDir: ${scanned.mkString(", ")}")

    // tombstoned key: no row
    assert(ParquetUpsert.pointLookup(spark, target, 7L).collect().isEmpty)
  }

  test("pointLookupMany serves a key batch from one scan over only the keys' bucket dirs") {
    import org.apache.spark.sql.functions.input_file_name
    val target = newTarget()
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target)
    ParquetUpsert.applyBatch(toBatch(Seq(del(7, 100))), target)

    val keys = Seq(5L, 7L, 12L, 29L, 999L) // live, tombstoned, live, live, absent
    val got = ParquetUpsert.pointLookupMany(spark, target, keys)

    // answers == the union of single-key lookups (tombstoned + absent
    // keys contribute no row on either side)
    val single = keys.map(ParquetUpsert.pointLookup(spark, target, _))
      .reduce(_.unionByName(_))
      .select("key", "cents").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got.select("key", "cents").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq.sorted == single)
    assert(single.map(_._1) == Seq(5L, 12L, 29L))

    // scanned-file set: every file read sits under one of the KEYS'
    // bucket directories — the batch never opens an untouched bucket
    val allowedDirs = keys.map(k => s"bucket=${bucketOf(k)}").toSet
    val scanned = ParquetUpsert.pointLookupMany(spark, target, keys)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(f => allowedDirs.exists(f.contains)),
      s"batched pull leaked outside ${allowedDirs.mkString(",")}: ${scanned.mkString(", ")}")

    // and it is ONE scan with a multi-value partition filter, not a
    // union of per-key scans
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size == 1, plan)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket") && pf.contains("IN ("),
      s"expected a bucket IN (...) partition filter, got: $pf")
  }

  test("bucket count is a table property: readers and later writers derive it, not guess it") {
    import org.apache.spark.sql.functions.input_file_name
    val target = newTarget()
    // table created with a NON-default bucket count
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target, numBuckets = 8)
    assert(ParquetUpsert.bucketCount(spark, target) == Some(8))

    // a later writer passing a DIFFERENT count must follow the table's
    // layout (8), not fragment it into a second hashing scheme
    ParquetUpsert.applyBatch(toBatch(Seq(upd(5, 100, 555))), target, numBuckets = 16)
    val dirs = graft.sources.Formats.listDir(Paths.get(target))
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSeq
    assert(dirs.forall(_.stripPrefix("bucket=").toInt < 8),
      s"writer ignored the table's bucket count: $dirs")

    // pointLookup needs no caller-supplied count: it reads the table's,
    // prunes to the right bucket under B=8, and finds the row
    val got = ParquetUpsert.pointLookup(spark, target, 5L)
    assert(got.select("key", "cents").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 555L)))
    val scanned = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    val expectDir = s"bucket=${bucketOf(5L, numBuckets = 8)}"
    assert(scanned.nonEmpty && scanned.forall(_.contains(expectDir)),
      s"pull query hashed with the wrong bucket count: ${scanned.mkString(", ")}")
  }

  test("rebucket re-hashes the table; lookups prune against the NEW layout") {
    import org.apache.spark.sql.functions.{col, expr, input_file_name}
    val target = newTarget()
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target, numBuckets = 8)
    ParquetUpsert.applyBatch(toBatch(Seq(del(7, 100))), target)

    ParquetUpsert.rebucket(spark, target, 32)
    assert(ParquetUpsert.bucketCount(spark, target) == Some(32))

    // no stale data from the old layout: every surviving row sits in the
    // directory the NEW hashing assigns it (a leftover old-layout dir
    // would violate this for some row)
    val misplaced = spark.read.parquet(target)
      .filter(col("bucket") =!= expr("pmod(hash(key), 32)")).count()
    assert(misplaced == 0, "rows left in old-layout bucket directories")
    // content survived intact: 39 live rows + 1 tombstone
    assert(snapshot(target).map(_._1).toSet == ((1L to 40L).toSet - 7L))
    assert(spark.read.parquet(target).filter(col("op") === "d").count() == 1)

    // pointLookup derives the new count and prunes to ONE new-layout dir
    val got = ParquetUpsert.pointLookup(spark, target, 5L)
    assert(got.select("key", "cents").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 50L)))
    val scanned = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    val expectDir = s"bucket=${bucketOf(5L, numBuckets = 32)}"
    assert(scanned.nonEmpty && scanned.forall(_.contains(expectDir)),
      s"lookup did not prune against the rebucketed layout: ${scanned.mkString(", ")}")
    // and later writers follow the new layout
    ParquetUpsert.applyBatch(toBatch(Seq(upd(5, 200, 555))), target)
    assert(ParquetUpsert.pointLookup(spark, target, 5L)
      .select("cents").collect().map(_.getLong(0)).toSeq == Seq(555L))
  }

  test("a corrupt bucket data file fails the merge loudly; a metadata-only dir bootstraps") {
    // two sides of the same contract. (1) a DAMAGED lake table must
    // propagate: merging against a silently-empty "existing" would
    // truncate every untouched key in the touched buckets on the next
    // dynamic overwrite. (2) the documented-harmless crash window —
    // metadata written, no data yet — must still bootstrap as a new
    // table, not fail forever.
    val target = newTarget()
    ParquetUpsert.applyBatch(toBatch(Seq(ins(1, 10, 100))), target)
    val dataFiles = graft.sources.Formats.walkDir(Paths.get(target))
      .filter(_.toString.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(p => Files.write(p, "not a parquet file".getBytes("UTF-8")))
    intercept[Exception] {
      ParquetUpsert.applyBatch(toBatch(Seq(upd(1, 20, 200))), target)
    }
    // (2) metadata-only dir = the crash-between-writes leftover
    val fresh = newTarget()
    Files.createDirectories(Paths.get(fresh))
    Files.write(Paths.get(fresh, "_graft_buckets"), "8".getBytes("UTF-8"))
    ParquetUpsert.applyBatch(toBatch(Seq(ins(2, 30, 300))), fresh)
    assert(snapshot(fresh) == Seq((2L, 300L, 30L)))
  }

  test("corrupt (empty) bucket metadata fails loudly, never falls back to a guess") {
    val target = newTarget()
    ParquetUpsert.applyBatch(toBatch(Seq(ins(1, 10, 100))), target)
    // truncate the metadata file, simulating a partial write
    Files.write(Paths.get(target, "_graft_buckets"), Array.emptyByteArray)
    val e = intercept[RuntimeException] {
      ParquetUpsert.bucketCount(spark, target)
    }
    assert(e.getMessage.contains("_graft_buckets"))
  }

  test("metadata is written before the first data write (crash leaves no orphan data)") {
    // contract check: on a brand-new table the metadata file must exist
    // by the time any data directory does. We can't crash mid-call, but
    // we CAN verify the observable invariant applyBatch guarantees —
    // metadata present immediately after the first batch, with the
    // seeded count — plus the atomic-rename leftover never lingering.
    val target = newTarget()
    ParquetUpsert.applyBatch(toBatch(Seq(ins(1, 10, 100))), target, numBuckets = 4)
    assert(ParquetUpsert.bucketCount(spark, target) == Some(4))
    assert(!Files.exists(Paths.get(target, "._graft_buckets.tmp")),
      "temp metadata file must not survive the rename")
  }

  test("the existing-state read is partition-pruned to the touched buckets") {
    import org.apache.spark.sql.execution.ExplainMode
    import org.apache.spark.sql.functions.{col, input_file_name}
    val target = newTarget()
    ParquetUpsert.applyBatch(
      toBatch((1L to 40L).map(k => ins(k, k, k * 10))), target)
    // the read ParquetUpsert builds for a batch touching bucket 3 only
    val read = spark.read.parquet(target)
      .filter(col("bucket").isin(Int.box(3)))
    val p = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"), "bucket filter must prune partitions\n" + p)
    // physically: only bucket=3's files are scanned
    val scanned = read.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("bucket=3")),
      s"scan leaked outside bucket=3: ${scanned.mkString(", ")}")
  }
}
