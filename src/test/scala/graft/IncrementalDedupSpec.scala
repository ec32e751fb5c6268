package graft

import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental dedup contracts the from-scratch oracle can't see:
  * arrival-order independence (including a smaller-id near-dup
  * arriving LATE and retroactively rejecting an already-indexed doc),
  * batch-split independence, and the index's physical layout
  * (bucket-partitioned, append-only). */
class IncrementalDedupSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog before breakfast today"
  private val other =
    "completely different words about structured streaming state stores here"

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def rejectedIds(root: String): Set[Long] =
    try spark.read.parquet(s"$root/rejected")
      .collect().map(_.getLong(0)).toSet
    catch { case _: Throwable => Set.empty }

  test("a smaller-id near-dup arriving late retroactively rejects the indexed doc") {
    val root = tempDir("graft_inc_spec1")
    // batch 1: docs 10 and 11 are identical (11 rejected against 10);
    // doc 20 unrelated
    IncrementalDedup.applyBatch(
      docsDf(10L -> base, 11L -> base, 20L -> other), root)
    assert(rejectedIds(root) == Set(11L))
    // batch 2: doc 5 — the SAME text with a SMALLER id arrives late.
    // The pair (5,10) forms now, and the larger id (10, long since
    // accepted and indexed) must be rejected retroactively, exactly as
    // a from-scratch run over {5,10,11,20} would decide.
    IncrementalDedup.applyBatch(docsDf(5L -> base), root)
    assert(rejectedIds(root) == Set(10L, 11L))
    val survivors = IncrementalDedup
      .accepted(spark, docsDf(5L -> base, 10L -> base, 11L -> base, 20L -> other), root)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(5L, 20L))
  }

  test("rejection log is independent of the batch split") {
    val all = Seq(10L -> base, 11L -> base, 5L -> base, 20L -> other,
      30L -> (base + " extra trailing words appended here"),
      31L -> (base + " extra trailing words appended here"))
    val oneShot = tempDir("graft_inc_spec2a")
    IncrementalDedup.applyBatch(docsDf(all: _*), oneShot)
    val threeWay = tempDir("graft_inc_spec2b")
    // adversarial split: near-dup partners land in different batches,
    // arrival order disagrees with id order
    IncrementalDedup.applyBatch(docsDf(all(0), all(4)), threeWay)
    IncrementalDedup.applyBatch(docsDf(all(1), all(3)), threeWay)
    IncrementalDedup.applyBatch(docsDf(all(2), all(5)), threeWay)
    assert(rejectedIds(oneShot) == rejectedIds(threeWay))
    assert(rejectedIds(oneShot).nonEmpty)
  }

  test("index layout: band index is ibkt-partitioned and append-only across batches") {
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft_inc_spec3")
    IncrementalDedup.applyBatch(docsDf(1L -> base), root)
    val dirs = graft.sources.Formats.listDir(
        java.nio.file.Paths.get(s"$root/bands"))
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("ibkt=")),
      s"band index must be directory-partitioned by ibkt: $dirs")
    // a second batch only APPENDS: no pre-existing data file is touched
    val before = graft.sources.Formats.walkDir(
        java.nio.file.Paths.get(s"$root/bands"))
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    IncrementalDedup.applyBatch(docsDf(2L -> other), root)
    before.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == t,
        s"append-only index rewrote $p")
    }
  }

  test("the registry row's incremental result equals the from-scratch predicate") {
    // tiny-SF end-to-end: run the registry row, then recompute
    // acceptance from scratch in one batch on a fresh index
    val viaStream = SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val root = tempDir("graft_inc_spec4")
    val docs = graft.sources.Tables(spark, sfDir).documents.select("doc_id", "text")
    IncrementalDedup.applyBatch(docs, root)
    val oneShot = IncrementalDedup.accepted(spark, docs, root)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(viaStream == oneShot)
    assert(viaStream.nonEmpty)
  }

  test("a corrupt index fails loud instead of silently accepting everything") {
    // contract: only path-not-found bootstraps to an empty index; a
    // damaged parquet (truncated footer, bad magic) must propagate —
    // treating it as empty would dedup the batch against nothing.
    // The follow-up batch delivers a NEW text (a band-join EVENT —
    // since the rep-level rewrite, a non-event batch legitimately
    // never opens the band index), so the damaged files are read.
    val root = tempDir("graft_inc_spec5")
    IncrementalDedup.applyBatch(docsDf(1L -> base), root)
    // clobber every band-index data file with non-parquet bytes
    graft.sources.Formats.walkDir(java.nio.file.Paths.get(s"$root/bands"))
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.write(p, "not a parquet file".getBytes("UTF-8")))
    intercept[Exception] {
      IncrementalDedup.applyBatch(docsDf(2L -> other), root)
    }
  }

  test("precomputed signatures are behaviorally identical to the self-computed path") {
    // the contract the curation topology's decon gate relies on
    // (round 13: one 64-lane minhash pass per micro-batch): handing
    // applyBatch sigOf(batch) precomputed must leave the SAME
    // rejection log and the SAME indexed signatures as letting it
    // compute them itself, across a multi-batch arrival history
    val batches = Seq(
      docsDf(10L -> base, 20L -> other),
      docsDf(11L -> base, 5L -> base),
      docsDf(30L -> (base + " extra trailing words appended here"),
        21L -> other))
    val selfRoot = tempDir("graft_inc_self")
    val preRoot = tempDir("graft_inc_pre")
    batches.foreach { b =>
      IncrementalDedup.applyBatch(b, selfRoot)
      IncrementalDedup.applyBatch(b, preRoot,
        precomputedSig = Some(IncrementalDedup.sigOf(b)))
    }
    assert(rejectedIds(preRoot) == rejectedIds(selfRoot))
    assert(rejectedIds(preRoot).nonEmpty, "the history must exercise rejections")
    def sigs(root: String) = spark.read.parquet(s"$root/fams")
      .where("sig IS NOT NULL")
      .selectExpr("fpa", "fpb", s"${graft.functions.Portable.sigDigest("sig")} AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sigs(preRoot) == sigs(selfRoot))
  }

  test("the index is rep-level: one band/sig row set per DISTINCT text, not per doc") {
    // 4 copies of one text + 1 other text, split across two batches:
    // the band index must hold 8 rows per distinct text (the 8x8 LSH
    // bands; 2 texts -> 16) and the fams index one row per distinct
    // text (no min ever improved here) — the structural contract that
    // keeps the band join's input and the index's size proportional
    // to DISTINCT texts at any copy factor
    val root = tempDir("graft_inc_spec_rep")
    IncrementalDedup.applyBatch(
      docsDf(10L -> base, 11L -> base, 20L -> other), root)
    IncrementalDedup.applyBatch(docsDf(12L -> base, 13L -> base), root)
    assert(spark.read.parquet(s"$root/bands").count() == 16L)
    assert(spark.read.parquet(s"$root/fams").count() == 2L)
    assert(rejectedIds(root) == Set(11L, 12L, 13L))
    // a late smaller id is a min-IMPROVEMENT event: one more (null-sig)
    // fams row, NO new band rows (the text is already indexed)
    IncrementalDedup.applyBatch(docsDf(5L -> base), root)
    assert(spark.read.parquet(s"$root/bands").count() == 16L)
    assert(spark.read.parquet(s"$root/fams").count() == 3L)
    assert(spark.read.parquet(s"$root/fams").where("sig IS NULL").count() == 1L)
    assert(rejectedIds(root) == Set(10L, 11L, 12L, 13L))
  }
}
