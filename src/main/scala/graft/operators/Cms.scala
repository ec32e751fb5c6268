package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch, shared by the batch (q_approx_topk,
  * Relational.scala) and streaming (q_stream_approx_topk,
  * streaming/Streams.scala) rows — ONE definition of (d, w, cell
  * hashing, error bound), of the cell counts and of the verdict, so
  * the twin rows can never drift apart: the whole point of the
  * streaming row is that it maintains THE SAME sketch incrementally,
  * and that claim is only checkable if both rows share the sketch by
  * construction. The rows differ only in how [[cells]] runs: as a
  * batch aggregate, or as a streaming one collapsed to its final
  * counts.
  *
  * The sketch is mergeable by construction — cell counts are sums, so
  * two sketches over disjoint event sets cell-wise summed equal the
  * sketch over the union (the property that makes CMS the
  * distributed/streaming sketch: executors build partial sketches,
  * the merge is an integer add). CmsSpec pins it on real data.
  */
private[graft] object Cms {

  /** Hash rows (depth d): a key's estimate is the MIN over its d
    * cells; collision probability decays as (collision rate)^d. */
  val D = 4

  /** Buckets per row (width w): one-sided overcount ~ N/w expected
    * per colliding cell. d·w cells total (≤262k, ~5 MB finished). */
  val W = 65536

  /** Spark SQL fragment: the d (row, bucket) cells `keyCol` maps to —
    * row i buckets by xxhash64(key, seed = i). */
  def buckets(keyCol: String): String =
    s"transform(sequence(0, ${D - 1}), i -> named_struct(" +
      s"'r', i, 'b', pmod(xxhash64($keyCol, i), $W)))"

  /** The deterministic one-sided bound the verdict rows pin:
    * `est_n <= exact_n + EpsMul * N / W`. CMS's PROBABILISTIC
    * guarantee is est ≤ exact + εN with ε = e/w at confidence
    * 1 − 2^−d; the rows emit a deterministic true/false over the
    * actual data, so the multiplier carries margin (4, not the ~2.7
    * expectation-scale) against a new SF or data-generator change
    * flipping the constant-true oracle column false WITH NO CODE
    * DEFECT. If the correctness gate ever fails on `within_eps`,
    * verify the bound on the new data before suspecting a regression
    * — the obligation is per-SF, not per-commit. */
  val EpsMul = 4L

  /** The sketch over `df`: one `(r, b, cell_n)` row per touched cell.
    * Partial aggregation folds the d cells each row explodes into onto
    * ≤ d·w rows per partition, so the shuffle is bounded by the
    * sketch, not by the input. */
  def cells(df: DataFrame, keyCol: String): DataFrame =
    df.select(explode(expr(buckets(keyCol))).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cell_n"))

  /** The deterministic verdict the rows emit instead of the
    * hash-seeded sketch: `df`'s exact top-10 `keyCol` values with
    * `est_ge_exact` (CMS one-sided error — structurally always true)
    * and `within_eps` (`est_n <= exact_n + EpsMul * N / W`), each
    * key's estimate being the MIN over its d cells of `cells`. The
    * finished sketch (≤262k cells, ~5 MB) broadcasts to the estimate
    * join. */
  def verdict(df: DataFrame, keyCol: String, cells: DataFrame): DataFrame = {
    val totals = df.agg(count(lit(1)).as("total_n"))
    val top = df.groupBy(keyCol).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col(keyCol)).limit(10)
    top.select(col(keyCol), col("exact_n"), explode(expr(buckets(keyCol))).as("c"))
      .select(col(keyCol), col("exact_n"), col("c.r").as("r"), col("c.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy(keyCol, "exact_n")
      .agg(min("cell_n").as("est_n"))
      .crossJoin(broadcast(totals))
      .select(col(keyCol), col("exact_n"),
        (col("est_n") >= col("exact_n")).as("est_ge_exact"),
        (col("est_n") <= col("exact_n") + lit(EpsMul) * col("total_n") / lit(W.toLong))
          .as("within_eps"))
      .orderBy(col("exact_n").desc, col(keyCol))
  }

  /** DuckDB oracle of [[verdict]] over `table`: the exact top-10 keys,
    * both booleans the constant true. */
  def verdictSql(table: String, key: String): String =
    s"""SELECT $key, count(*) AS exact_n,
       |  true AS est_ge_exact, true AS within_eps
       |FROM $table GROUP BY $key
       |ORDER BY exact_n DESC, $key LIMIT 10""".stripMargin
}
