package graft

import graft.operators.Cms
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The count-min sketch contracts the twin registry rows
  * (q_approx_topk, q_stream_approx_topk) stand on. */
class CmsSpec extends SparkSpec {

  private def sketch(df: DataFrame): DataFrame =
    df.select(explode(expr(Cms.buckets("user_id"))).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("n"))

  test("CMS is mergeable by construction: half-stream sketches cell-wise summed equal the full sketch") {
    // THE property that makes CMS the distributed/streaming sketch:
    // cell counts are sums, so executors (or micro-batches) build
    // partial sketches over disjoint slices and the merge is an
    // integer add per cell. Previously implied by the additive groupBy
    // in both rows; pinned here on real data under an arbitrary
    // disjoint cover (event_id parity).
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_id")
    val full = sketch(ev).withColumnRenamed("n", "n_full")
    val merged = sketch(ev.filter(col("event_id") % 2 === 0))
      .unionByName(sketch(ev.filter(col("event_id") % 2 =!= 0)))
      .groupBy("r", "b").agg(sum("n").as("n_merged"))
    val mismatches = full.join(merged, Seq("r", "b"), "full_outer")
      .filter(col("n_full").isNull || col("n_merged").isNull
        || col("n_full") =!= col("n_merged"))
    assert(mismatches.count() == 0,
      "sum of half-sketches must equal the full sketch, cell for cell")
    assert(full.count() > 0)
  }

  test("batch and stream rows share one geometry by construction") {
    // both rows build their sketch and verdict through Cms.cells /
    // Cms.verdict — drift between the twins is impossible; this pins
    // the constants are the documented ones and the deterministic
    // bound keeps its margin
    assert(Cms.D == 4 && Cms.W == 65536)
    assert(Cms.EpsMul >= 2L,
      "the pinned within_eps bound must keep margin over the expected overcount")
    val frag = Cms.buckets("some_key")
    assert(frag.contains(s"sequence(0, ${Cms.D - 1})") && frag.contains(Cms.W.toString)
      && frag.contains("xxhash64(some_key, i)"))
  }
}
