package graft.operators

import graft.functions.Portable._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.annotation.tailrec

/** The BPE tokenizer (Sennrich et al., ACL 2016) over the documents'
  * normalized words: the one owner of the pieces the four `bpe_*` rows
  * in [[TextOps]] are built from.
  *
  *  1. [[wordStream]] — normalized words of ≥ 2 characters (a shorter
  *     word has no pair), optionally keyed by `doc_id`;
  *  2. [[symbols]] — a word as its character symbol stream;
  *  3. [[merge]] — one learned merge applied to a symbol stream;
  *  4. [[train]] — the merge-table training loop;
  *  5. [[encode]] — a merge table folded over every document's words,
  *     then per-document token statistics.
  *
  * A symbol stream is a SEPARATOR-ENCODED string: U+001F (a char the
  * whitespace-split word stream never contains) between and around
  * symbols, `sep·c1·sep·c2·…·sep`. Merging the pair (a, b) is then one
  * literal `replace(sep·a·sep·b·sep → sep·ab·sep)`: leftmost
  * non-overlapping, the same in Spark's UTF8String.replace and DuckDB's
  * replace, and boundary-safe by construction (the flanking separators
  * align only to whole symbols). A replaced occurrence consumes its
  * TRAILING separator, which is the next occurrence's LEADING one, so
  * the occurrence right after a merge never matches in the same pass,
  * whether it repeats the same symbols ([a,a,a,a,a] → [aa,a,aa], not
  * canonical greedy's [aa,aa,a]) or is an adjacent distinct repeat
  * ([e,r,e,r] → [er,e,r], not [er,er]). DedupTextSpec's scalar replay
  * models the consumed separator explicitly; the procedure here IS the
  * contract.
  *
  * Every piece has a Spark form and a DuckDB-fragment form (`*Sql`);
  * the oracles are built from the fragments only. */
object Bpe {

  /** Training rounds: a trained table holds at most this many merges
    * (fewer when a corpus runs out of pairs first). */
  val Rounds = 8
  val Sep = "\u001f"
  private val S = "chr(31)"

  /** (`doc_id` when `keyed`, `w`): one row per normalized word of
    * ≥ 2 characters. */
  def wordStream(s: SparkSession, dir: String, keyed: Boolean): DataFrame =
    Tables(s, dir).documents
      .select((if (keyed) Seq(col("doc_id")) else Nil) :+
        explode(expr(normWords("text"))).as("w"): _*)
      .filter(length(col("w")) >= 2)

  def wordStreamSql(keyed: Boolean): String = {
    val k = if (keyed) "doc_id, " else ""
    s"""SELECT ${k}w FROM (
       |  SELECT ${k}unnest(${duckNormWords("text")}) AS w FROM documents
       |) WHERE length(w) >= 2""".stripMargin
  }

  /** The word `w` as its character symbol stream. */
  def symbols(w: Column): Column =
    concat(lit(Sep), regexp_replace(w, "(.)", "$1" + Sep))

  def symbolsSql(w: String): String =
    s"$S || regexp_replace($w, '(.)', '\\1' || $S, 'g')"

  /** The symbols of the stream `e`, as an array. */
  private def split(e: String): String = s"filter(split($e, $S), x -> x <> '')"
  private def splitSql(e: String): String = s"list_filter(string_split($e, $S), x -> x <> '')"

  /** The stream `e` with the sep-joined symbol pair `pair` merged. */
  def merge(e: Column, pair: String): Column =
    replace(e, lit(Sep + pair + Sep), lit(Sep + pair.replace(Sep, "") + Sep))

  def mergeSql(e: String, pair: String): String =
    s"replace($e, $S || $pair || $S, $S || replace($pair, $S, '') || $S)"

  /** [[merge]] folded over the DuckDB list `pairs` (sep-joined, rank
    * order), starting at the stream `e`. */
  def foldSql(e: String, pairs: String): String =
    s"list_reduce(list_prepend($e, $pairs), (acc, p) -> ${mergeSql("acc", "p")})"

  /** The training loop: up to [[Rounds]] rounds, each counting every
    * adjacent-symbol pair of the current streams, learning the top pair
    * by (count desc, sep-joined pair asc) and merging it before the
    * next round; it stops at the first round with no pair left.
    * Returns (rank, sep-joined pair, count at learn time) in learn
    * order.
    *
    * It trains over DISTINCT words with their multiplicities, not over
    * every occurrence. A merge is a function of the word alone, so
    * every occurrence of a word evolves identically through every
    * round: a round's per-occurrence pair count is exactly the sum over
    * distinct words of (pairs in the word) × multiplicity, and the
    * learned table is the same. The vocabulary is built in one corpus
    * pass (a partial-aggregated count) and persisted, so each round is
    * a job over the vocabulary — a key domain bounded by the current
    * symbol vocabulary squared for the pair count, then a top-1
    * TakeOrdered — not a corpus re-scan through r−1 stacked replaces.
    * The one collect per round is the 1-row learned merge: the training
    * output, not data. */
  def train(s: SparkSession, dir: String): Seq[(Long, String, Long)] = {
    val vocab = wordStream(s, dir, keyed = false)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(symbols(col("w")).as("e"), col("cnt"))
      .persist()
    @tailrec def round(enc: DataFrame, r: Int,
        learned: Vector[(Long, String, Long)]): Vector[(Long, String, Long)] =
      if (r > Rounds) learned
      else enc
        .select(expr(split("e")).as("syms"), col("cnt"))
        .select(col("cnt"), explode(expr(
          s"""CASE WHEN size(syms) < 2 THEN array()
             |ELSE transform(sequence(1, size(syms) - 1),
             |  i -> concat(element_at(syms, i), $S, element_at(syms, i + 1)))
             |END""".stripMargin)).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect().headOption match {
          case None => learned
          case Some(top) =>
            val pair = top.getString(0)
            round(enc.select(merge(col("e"), pair).as("e"), col("cnt")), r + 1,
              learned :+ ((r.toLong, pair, top.getLong(1))))
        }
    try round(vocab, 1, Vector.empty) finally { vocab.unpersist(); () }
  }

  /** The [[train]] chain as CTEs over every word occurrence (no
    * multiplicities): `m<r>` holds round r's learned (rank, pair, cnt).
    * A round with no pair leaves its `m<r>` empty, which NULLs every
    * later stream, so the later rounds learn nothing either. */
  val trainSql: String = {
    val rounds = (1 to Rounds).map { r =>
      val prev = s"w${r - 1}"
      // MATERIALIZED: each w_r is referenced by both p_{r+1} and
      // w_{r+1}; letting the optimizer inline the chain re-derives
      // round r from scratch 2^(R-r) times (measured minutes vs 1 s)
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || $S || syms[i + 1])) AS pair
         |    FROM (SELECT ${splitSql("e")} AS syms FROM $prev)
         |  ) GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT CAST($r AS BIGINT) AS rank, pair, cnt
         |        FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (SELECT ${mergeSql("e", s"(SELECT pair FROM m$r)")} AS e
         |  FROM $prev)""".stripMargin
    }
    s"""wrd AS MATERIALIZED (
       |  ${wordStreamSql(keyed = false)}
       |), w0 AS MATERIALIZED (
       |  SELECT ${symbolsSql("w")} AS e FROM wrd
       |),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** The (rank, pair, cnt) rows [[trainSql]] learned. */
  val learnedSql: String = (1 to Rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")

  /** [[learnedSql]]'s pairs as one DuckDB list, in rank order. */
  val learnedPairsSql: String =
    s"(SELECT coalesce(list(pair ORDER BY rank), CAST([] AS VARCHAR[])) FROM ($learnedSql))"

  private val Stats = Seq("n_words", "n_tokens", "n_chars")

  /** Every document's words encoded with `pairs` (sep-joined, rank
    * order): per document n_words, n_tokens and n_chars (n_tokens /
    * n_chars is the compression the merges buy), 0s for a document
    * with no word of ≥ 2 characters.
    *
    * The pairs are string literals, so the encode is R stacked
    * codegen'd `replace`s fused into the scan (the merge table is plan
    * metadata, like a broadcast of R rows), then one partial-aggregated
    * groupBy(doc_id) and a doc-side left join. Nothing shuffles more
    * than the per-doc count rows. */
  def encode(s: SparkSession, dir: String, pairs: Seq[String]): DataFrame = {
    val per = wordStream(s, dir, keyed = true)
      .select(col("doc_id"), pairs.foldLeft(symbols(col("w")))(merge).as("e"))
      .select(col("doc_id"),
        expr(s"size(${split("e")})").cast("long").as("toks"),
        expr(s"length(replace(e, $S, ''))").cast("long").as("chars"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
    Tables(s, dir).documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id") +: Stats.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("doc_id")
  }

  /** The [[encode]] statement: `pairs` is a DuckDB list expression,
    * which may read the CTEs `ctes` put in front. */
  def encodeSql(pairs: String, ctes: Seq[String] = Nil): String = {
    val enc = s"""enc AS (
                 |  SELECT doc_id, ${foldSql(symbolsSql("w"), pairs)} AS e
                 |  FROM (${wordStreamSql(keyed = true)})
                 |)""".stripMargin
    s"""WITH ${(ctes :+ enc).mkString(",\n")}
       |SELECT d.doc_id, ${Stats.map(c => s"coalesce(t.$c, 0) AS $c").mkString(", ")}
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(len(${splitSql("e")})) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(replace(e, $S, ''))) AS BIGINT) AS n_chars
       |  FROM enc GROUP BY 1) t ON d.doc_id = t.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}
