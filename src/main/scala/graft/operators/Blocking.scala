package graft.operators

import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate blocking: the one owner of the blocking-then-verify
  * contract every near-dup pair row runs (the set-similarity-join
  * operator shape):
  *
  *  1. exact-dedup first — copy [[families]] keyed on content, so the
  *     quadratic candidate join runs on one representative per family;
  *  2. bounded block keys — a hot block is dropped ([[dropHot]]) or
  *     sampled down to [[MaxEmbBucket]] members ([[sample]]);
  *  3. the rep-pair [[selfJoin]] on the block key, verified by the
  *     caller's exact score;
  *  4. expansion back to member pairs, [[expand]] (unordered pairs in
  *     one member table) or [[expandDirected]] (left × right tables).
  *
  * Every piece has a Spark form and a DuckDB-fragment form (`*Sql`);
  * the oracles are built from the fragments only, never from the Spark
  * builders. Columns: a family frame carries `gid` (the min member id,
  * the representative) and `gn` (the family size); rep pairs carry
  * `ga < gb`, directed rep pairs `cg` (left role) and `bg`. */
object Blocking {

  /** max LSH bucket size (member-weighted) before the bucket is
    * considered degenerate and dropped from pair enumeration. */
  val MaxBucket = 1000

  /** max docs sharing one shingle before that shingle's block is
    * dropped from pair enumeration. A block of m docs yields m^2/2
    * candidate pairs, so ONE degenerate shingle (a boilerplate header
    * repeated across a web corpus) makes the whole join quadratic;
    * past this size the shingle is so common it carries no dedup
    * signal — the LSH MaxBucket argument, applied to the shingle-block
    * join. Copy families over this size are also kept out of member
    * expansion ([[Dedup.groupMembers]]). */
  val MaxShingleBlock = 1000

  /** Per-bucket member cap for the sampled blocking self-joins — at
    * 30x data an uncapped bucket's candidate set hit ~10^8 pairs and
    * OOM'd. Bounding KEEPS a deterministic sample of MaxEmbBucket
    * members (dropping whole hot buckets would empty the operator when
    * every bucket is hot). Priority is a portable LCG over the id —
    * id-uniform, so the kept members are an unbiased sample and the
    * measured recall (dedup_blocking_recall) honestly reflects the
    * capped pipeline.
    *
    * The cap is a GUARD, not the workload ceiling: the blocking
    * keyspaces scale with the corpus ([[Dedup.embBits]] /
    * [[Ann.kmeansK]] keep expected occupancy constant at ~64/~128
    * members), so the cap only truncates adversarial skew (e.g. one
    * vector value repeated N times). */
  val MaxEmbBucket = 512

  /** Portable deterministic sample priority: same arithmetic in Spark
    * and DuckDB, mod-first so BIGINT multiplication cannot overflow
    * DuckDB's checked 64-bit range for any id. */
  private def embPriority(id: String): String =
    s"(($id % 2147483648) * 1103515245 + 12345) % 2147483648"

  // ---- Spark forms ------------------------------------------------------

  /** Copy families: every row of `df` tagged with `gid` (min `id` over
    * `key`) and `gn` (family size), `payload` nulled off the
    * representative, checkpointed. Output (id, payload, gid, gn).
    *
    * The key is a fingerprint of the content, never the content itself
    * (a 16-byte shuffle key instead of whole documents or vectors).
    * Only representatives are read back with payload, so nulling the
    * copies' payload shrinks the pinned storage from O(corpus) to
    * O(ids + distinct contents). The checkpoint runs the window once:
    * members and representatives are both consumed downstream. */
  def families(df: DataFrame, id: String, key: Seq[Column], payload: String): DataFrame = {
    val w = Window.partitionBy(key: _*)
    df.select(col(id), col(payload), min(id).over(w).as("gid"),
        count(lit(1)).over(w).as("gn"))
      .withColumn(payload, when(col(id) === col("gid"), col(payload)))
      .localCheckpoint(true)
  }

  /** 64-lane MinHash signatures of a text frame's rows with >= 3 words
    * (shorter texts have no 3-gram shingles): `keep` plus `sig`. The
    * shingle hashes are materialized as a column BEFORE the signature
    * fold: inlined into the per-permutation lambda they would be
    * re-evaluated once per permutation (64x). */
  def minhashSigs(df: DataFrame, keep: Column*): DataFrame = df
    .withColumn("words", expr(words("text")))
    .filter(expr("size(words) >= 3"))
    .withColumn("hashes", expr(shingleHashes("words")))
    .select(keep :+ expr(minhashSig("hashes")).as("sig"): _*)

  /** Drop-hot cap: keep the rows of blocks whose size — the row count,
    * or the sum of `weight` (family sizes, so a rep-level census drops
    * exactly the blocks a member-level one would) — is in [2, max]. The
    * lower bound is free pruning (a singleton block never pairs). The
    * window partitions on the block key, so it rides the self-join's
    * own exchange: zero extra shuffles. */
  def dropHot(df: DataFrame, key: String, max: Int,
      weight: Option[String] = None): DataFrame = df
    .withColumn("bn", weight.fold(count(lit(1)))(w => sum(w))
      .over(Window.partitionBy(key)))
    .filter(col("bn").between(2, max))
    .drop("bn")

  /** Sample cap: keep the first [[MaxEmbBucket]] rows per block, by LCG
    * priority of `id` then `id`. Partitioned on the block key, it runs
    * as a WindowGroupLimit on the self-join's own exchange. */
  def sample(df: DataFrame, id: String, keys: String*): DataFrame = df
    .withColumn("rn", row_number().over(
      Window.partitionBy(keys.map(col): _*)
        .orderBy(expr(embPriority(id)), col(id))))
    .filter(col("rn") <= MaxEmbBucket).drop("rn")

  /** The rep-pair self-join: rows `a`, `b` sharing every block key,
    * `a.id < b.id`. */
  def selfJoin(df: DataFrame, id: String, keys: String*): DataFrame =
    df.as("a").join(df.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))

  /** Rep pairs (ga, gb, score) in both roles: (cg, bg, score). One
    * explode pass over the pairs, no union-of-branches re-evaluation. */
  def bothWays(rp: DataFrame, score: String): DataFrame =
    rp.select(explode(array(
        struct(col("ga").as("cg"), col("gb").as("bg"), col(score)),
        struct(col("gb").as("cg"), col("ga").as("bg"), col(score)))).as("p"))
      .select(col("p.cg").as("cg"), col("p.bg").as("bg"),
        col(s"p.$score").as(score))

  /** Symmetric member expansion: the unordered member pairs (out._1 <
    * out._2) of rep pairs `rp` (ga, gb, scores) over the family frame
    * `members` (id, gid). Cross-family pairs inherit the rep pair's
    * scores (a pure function of the content, identical across copies);
    * intra-family pairs take the constant score of identical content
    * and exist iff the family's gid is in `gate` (its first column):
    * the families whose representative the blocking kept. */
  def expand(rp: DataFrame, members: DataFrame, gate: DataFrame, id: String,
      out: (String, String), scores: (String, Column)*): DataFrame = {
    val m = members.select(col(id), col("gid"))
    val cross = rp
      .join(m.as("x"), col("ga") === col("x.gid"))
      .join(m.as("y"), col("gb") === col("y.gid"))
      .select(least(col(s"x.$id"), col(s"y.$id")).as(out._1) +:
        greatest(col(s"x.$id"), col(s"y.$id")).as(out._2) +:
        scores.map(s => col(s._1)): _*)
    val intra = m.as("x")
      .join(m.as("y"), col("x.gid") === col("y.gid") && col(s"x.$id") < col(s"y.$id"))
      .join(gate, col("x.gid") === col(gate.columns.head), "left_semi")
      .select(col(s"x.$id").as(out._1) +: col(s"y.$id").as(out._2) +:
        scores.map { case (n, c) => c.as(n) }: _*)
    cross.unionByName(intra)
  }

  /** Directed member expansion: (left member, right member, score) for
    * directed rep pairs `pairs` (cg, bg, score) over the member tables
    * `left` and `right` (id, gid). Same-family pairs exist iff the
    * family's gid is in `gate` (first column), scored by `intra`, which
    * may read the gate's columns. */
  def expandDirected(pairs: DataFrame, left: DataFrame, right: DataFrame,
      gate: DataFrame, id: String, out: (String, String), score: String,
      intra: Column): DataFrame = {
    val cross = pairs
      .join(left.as("x"), col("cg") === col("x.gid"))
      .join(right.as("y"), col("bg") === col("y.gid"))
      .select(col(s"x.$id").as(out._1), col(s"y.$id").as(out._2), col(score))
    val same = left.as("x")
      .join(right.as("y"), col("x.gid") === col("y.gid"))
      .join(gate, col("x.gid") === col(gate.columns.head))
      .select(col(s"x.$id").as(out._1), col(s"y.$id").as(out._2), intra.as(score))
    cross.unionByName(same)
  }

  // ---- DuckDB fragments -------------------------------------------------

  /** [[families]] over `from`, partitioned by the content `key` itself
    * (a fingerprint collision in Spark would surface as a mismatch). */
  def familiesSql(from: String, id: String, key: String, payload: String): String =
    s"""SELECT $id, $payload, min($id) OVER (PARTITION BY $key) AS gid,
       |  count(*) OVER (PARTITION BY $key) AS gn
       |FROM $from""".stripMargin

  /** [[minhashSigs]] over `from`, a frame with a `words` column. */
  def minhashSigSql(from: String, id: String): String =
    s"""SELECT $id, ${duckMinhashSig("hashes")} AS sig FROM (
       |  SELECT $id, ${duckShingleHashes(duckShingles3("words"))} AS hashes
       |  FROM $from WHERE len(words) >= 3)""".stripMargin

  /** [[dropHot]] (row-count census) over `from`. */
  def dropHotSql(from: String, key: String, max: Int): String =
    s"SELECT * FROM $from QUALIFY count(*) OVER (PARTITION BY $key) BETWEEN 2 AND $max"

  /** [[sample]] over `from`. */
  def sampleSql(from: String, id: String, keys: String*): String =
    s"""SELECT * FROM $from
       |QUALIFY row_number() OVER (PARTITION BY ${keys.mkString(", ")}
       |  ORDER BY ${embPriority(id)}, $id) <= $MaxEmbBucket""".stripMargin

  /** [[selfJoin]]: a FROM clause over `from` aliased `a` and `b`. */
  def selfJoinSql(from: String, id: String, keys: String*): String =
    s"$from a JOIN $from b ON " +
      keys.map(k => s"a.$k = b.$k AND ").mkString + s"a.$id < b.$id"

  /** [[bothWays]] over `rp`. */
  def bothWaysSql(rp: String, score: String): String =
    s"SELECT ga AS cg, gb AS bg, $score FROM $rp UNION ALL SELECT gb, ga, $score FROM $rp"

  /** [[expand]]: `gate` is a query returning the gated gids; each
    * score is (column of `rp`, intra-family SQL constant). */
  def expandSql(rp: String, members: String, gate: String, id: String,
      out: (String, String), scores: (String, String)*): String = {
    val (a, b) = out
    val cross = scores.map(s => s", r.${s._1}").mkString
    val intra = scores.map(s => s", ${s._2}").mkString
    s"""SELECT least(x.$id, y.$id) AS $a, greatest(x.$id, y.$id) AS $b$cross
       |FROM $rp r JOIN $members x ON x.gid = r.ga JOIN $members y ON y.gid = r.gb
       |UNION ALL
       |SELECT x.$id, y.$id$intra
       |FROM $members x JOIN $members y ON x.gid = y.gid AND x.$id < y.$id
       |WHERE x.gid IN ($gate)""".stripMargin
  }

  /** [[expandDirected]]: `gate` is a table aliased `s`, joined on its
    * `gateKey`; `intra` may read `s`. */
  def expandDirectedSql(pairs: String, left: String, right: String,
      gate: String, gateKey: String, id: String, out: (String, String),
      score: String, intra: String): String =
    s"""SELECT x.$id AS ${out._1}, y.$id AS ${out._2}, d.$score AS $score
       |FROM $pairs d JOIN $left x ON d.cg = x.gid JOIN $right y ON d.bg = y.gid
       |UNION ALL
       |SELECT x.$id, y.$id, $intra
       |FROM $left x JOIN $right y ON x.gid = y.gid
       |JOIN $gate s ON x.gid = s.$gateKey""".stripMargin
}
