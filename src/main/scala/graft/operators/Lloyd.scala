package graft.operators

import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantizer training: the one owner of the arithmetic every ANN cell,
  * PQ/residual codebook and k-means row rests on.
  *
  *  1. [[nearest]] — each point's best-scoring codeword over a scored
  *     (point, codeword) pair stream, exact ties to the SMALLER
  *     codeword id;
  *  2. [[centroids]] — each codeword's integer mean: per-dim BIGINT
  *     sums, floor-of-double-div means ([[dimMeans]]), reassembled in
  *     dim order;
  *  3. [[iterate]] — the Lloyd loop over both k-means levels: seed,
  *     R × [assign, update], final reassign.
  *
  * Every step is ORDER-INDEPENDENT, which is what makes a clustering
  * loop oracle-comparable at all: coordinates are int8 codes, sums are
  * integers (no float accumulation to diverge with partition order),
  * means are explicitly floor(double-div) (BIGINT `div` truncation
  * differs between engines on negatives), and scores are shared-fold
  * doubles. Every piece has a Spark form and a DuckDB-fragment form
  * (`*Sql`); the oracles are built from the fragments only, never from
  * the Spark builders. */
object Lloyd {

  /** The keyed argmax of `score` (a SQL expression over `pairs`) per
    * `keys`: the winning `id` as `as`, plus the winning score as
    * `score` (Catalyst prunes it when nothing reads it). Argmin is a
    * negated score (`-d`).
    *
    * The codegen `graft_argmax` runs as a partial-aggregated
    * HashAggregate: the exchange moves one row per key, no window and
    * no sort. Callers keep the pair stream SLIM — ids and the score
    * only — and re-attach payloads by key afterwards: aggregating
    * first(qd) dragged the ~550-byte array through every one of the
    * N×k pair rows, measured 57× slower per pair at N=200k/k=1563
    * (ASSIGN_TIMING.json). */
  def nearest(pairs: DataFrame, keys: Seq[String], id: String, score: String,
      as: String): DataFrame =
    pairs.groupBy(keys.map(col): _*)
      .agg(expr(s"graft_argmax($id, $score)").as(as), max(expr(score)).as("score"))

  /** [[nearest]], and its top-`n` form: the `cols` of the `from` rows
    * ranking in the first `n` by `order` per `keys`, ties to the
    * smaller `id`. */
  def nearestSql(cols: String, from: String, keys: String, order: String,
      id: String, n: String = "1"): String =
    s"""SELECT $cols FROM $from
       |QUALIFY row_number() OVER (PARTITION BY $keys ORDER BY $order, $id) <= $n""".stripMargin

  /** Per-`keys` integer means of the integer-valued column `x`:
    * (keys, sm BIGINT sum, n members, cm = floor(sm / n) BIGINT). */
  def dimMeans(df: DataFrame, keys: Seq[String], x: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(x).cast("long")).as("sm"), count(lit(1)).as("n"))
      .withColumn("cm", floor(col("sm").cast("double") / col("n")))

  /** [[dimMeans]] over BIGINT `x` of `from`; `cm` is DOUBLE. */
  def dimMeansSql(from: String, keys: Seq[String], x: String): String =
    s"""SELECT ${keys.mkString(", ")}, floor(CAST(sum($x) AS DOUBLE) / count(*)) AS cm,
       |  count(*) AS n
       |FROM $from GROUP BY ${keys.mkString(", ")}""".stripMargin

  /** The per-`keys` integer-mean centroid of the integer-valued
    * array<double> `vec`: (keys, `as` array<double> in dim order, n
    * members). */
  def centroids(members: DataFrame, keys: Seq[String], vec: String,
      as: String): DataFrame =
    dimMeans(members.select(keys.map(col) :+ posexplode(col(vec)): _*), keys :+ "pos", "col")
      .withColumn("cm", col("cm").cast("double"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), x -> x.cm)").as(as),
        max("n").as("n"))

  /** One row per (row of `from`, dim): (keys, pos 1-based, x BIGINT). */
  def dimsSql(from: String, keys: Seq[String], vec: String): String =
    s"""SELECT ${keys.mkString(", ")}, t.pos, CAST($vec[t.pos] AS BIGINT) AS x
       |FROM $from, unnest(range(1, len($vec) + 1)) AS t(pos)""".stripMargin

  /** [[centroids]] over `from`. */
  def centroidsSql(from: String, keys: Seq[String], vec: String, as: String): String =
    s"""SELECT ${keys.mkString(", ")}, list(cm ORDER BY pos) AS $as, max(n) AS n
       |FROM (${dimMeansSql(s"(${dimsSql(from, keys, vec)})", keys :+ "pos", "x")})
       |GROUP BY ${keys.mkString(", ")}""".stripMargin

  // ---- the k-means loop -------------------------------------------------

  /** Column names of one k-means level. Points are (vec_id, [key], qd,
    * qn2) int8 code vectors; centroids (key?, id, vec, n2); an
    * assignment (vec_id, key?, id). A level with a `key` is LOCAL:
    * each point meets only its own key's centroids. `score` names the
    * pair stream's cosine; `cte` prefixes the oracle's CTE names. */
  final case class Level(key: Option[String], id: String, vec: String, n2: String,
      score: String, cte: String)

  /** The scored (point, centroid) pair stream. Without a key the
    * centroids are a k-row set, broadcast under a crossJoin; with one
    * they are corpus-sized/128 — far past broadcast — so the join is a
    * SHUFFLE equi-join on the key, and each cell meets only its own
    * centroids (a hot cell is AQE-skew-splittable). */
  def pairs(points: DataFrame, cents: DataFrame, l: Level): DataFrame = {
    val joined = l.key match {
      case Some(k) => points.join(cents, k)
      case None => points.crossJoin(broadcast(cents))
    }
    joined.select((col("vec_id") +: l.key.toSeq.map(col)) ++ Seq(col(l.id),
      expr(s"${dot("qd", l.vec)} / sqrt(qn2 * ${l.n2})").as(l.score)): _*)
  }

  /** Argmax-cosine assignment: (vec_id, key?, id, score). */
  def assign(points: DataFrame, cents: DataFrame, l: Level): DataFrame =
    nearest(pairs(points, cents, l), "vec_id" +: l.key.toSeq, l.id, l.score, l.id)

  /** The integer-mean update of an assignment, localCheckpoint-ed:
    * (key?, id, vec, n_before = members, n2). qd is re-attached by a
    * vec_id join, riding the argmax's own hash partitioning; the
    * update shuffles (cluster, dim) partial sums — k × dims groups
    * regardless of corpus size. A centroid that wins no member has no
    * row: it drops out. */
  def update(points: DataFrame, assignment: DataFrame, l: Level): DataFrame = {
    val ids = l.key.toSeq :+ l.id
    centroids(assignment.join(points.select("vec_id", "qd"), "vec_id"), ids, "qd", l.vec)
      .select(ids.map(col) ++ Seq(col(l.vec), col("n").as("n_before"),
        expr(s"greatest(${dot(l.vec, l.vec)}, 1e-12)").as(l.n2)): _*)
      .localCheckpoint()
  }

  /** R Lloyd rounds over `points`: seeds are the points matching
    * `seed`, numbered by `seedId`; then R × [assign, update]; then a
    * final reassign. Returns (last centroids, final assignment
    * (vec_id, key?, id), inertia per round).
    *
    * Inertia is sum(1 − winning cosine), captured on each round's
    * assignment BEFORE its update. With it on, each assignment is
    * localCheckpoint-ed (the inertia action and the update both read
    * it); off, the assignment stays lineage inside the update's job,
    * so a round costs one action. The centroids are checkpointed every
    * round: they are consumed several ways, and the loop would
    * otherwise replay all prior rounds per action. The final
    * assignment is NOT checkpointed, so consumers see its argmax
    * HashAggregate in their own plans. */
  def iterate(points: DataFrame, seed: Column, seedId: Column, l: Level,
      rounds: Int, inertia: Boolean): (DataFrame, DataFrame, Seq[Double]) = {
    require(rounds >= 1, "a Lloyd loop needs at least one round")
    var cents = points.filter(seed).select(l.key.toSeq.map(col) ++ Seq(
      seedId.as(l.id), col("qd").as(l.vec), col("qn2").as(l.n2)): _*)
    val inertias = Seq.newBuilder[Double]
    (1 to rounds).foreach { _ =>
      var a = assign(points, cents, l)
      if (inertia) {
        a = a.localCheckpoint()
        inertias += a.agg(sum(lit(1.0) - col("score"))).head().getDouble(0)
      }
      cents = update(points, a, l)
    }
    (cents, assign(points, cents, l).drop("score"), inertias.result())
  }

  /** [[iterate]] at R = 1 (the registry configuration) as CTEs over
    * the points CTE `points`: seeds `${cte}c0`, assignment `${cte}a0`
    * (vec_id, key?, id, qd), update `${cte}c1` (key?, id, vec,
    * n_before, n2) and the final reassignment `${cte}a1`. */
  def iterateSql(l: Level, points: String, seed: String, seedId: String): String = {
    val (c, a) = (s"${l.cte}c", s"${l.cte}a")
    val key = l.key.toSeq
    val ids = key :+ l.id
    def assignSql(t: Int) = {
      val join = l.key.fold(s"CROSS JOIN $c$t p")(k => s"JOIN $c$t p ON x.$k = p.$k")
      s"""$a$t AS (
         |${nearestSql((("x.vec_id" +: key.map("x." + _)) ++ Seq(s"p.${l.id}", "x.qd")).mkString(", "),
            s"$points x $join", "x.vec_id",
            s"${duckDot("x.qd", s"p.${l.vec}")} / sqrt(x.qn2 * p.${l.n2}) DESC", s"p.${l.id}")}
         |)""".stripMargin
    }
    s"""${c}0 AS (
       |  SELECT ${(key :+ s"$seedId AS ${l.id}").mkString(", ")}, qd AS ${l.vec}, qn2 AS ${l.n2}
       |  FROM $points WHERE $seed
       |), ${assignSql(0)}, ${c}1 AS (
       |  SELECT ${ids.mkString(", ")}, ${l.vec}, n AS n_before,
       |    greatest(${duckDot(l.vec, l.vec)}, 1e-12) AS ${l.n2}
       |  FROM (${centroidsSql(s"${a}0", ids, "qd", l.vec)})
       |), ${assignSql(1)}""".stripMargin
  }
}
