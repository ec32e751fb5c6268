package graft.operators

import graft.Q
import graft.functions.Portable._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the per-document scoring
  * pass of a training-data pipeline. Every operator here is a pure
  * column expression (whole-stage-codegen, no UDFs), so at 100 TB these
  * all fuse into the parquet scan stage: zero shuffles except the
  * final corpus-level aggregation in text_ngram_freq.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents

  /** BPE-ish token regex: letter runs, digit runs, single punctuation.
    * Space-only char class (not \s) so the Java and RE2 dialects agree. */
  private val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** token counting: whitespace tokens + regex (BPE-ish) tokens. */
  val textTokens: Q = Q(
    "text_tokens",
    (s, dir) => docs(s, dir).select(
      col("doc_id"),
      expr(s"size(${words("text")})").as("ws_tokens"),
      expr(s"regexp_count(text, '$TokenRe')").as("re_tokens")),
    Some(s"""SELECT doc_id,
            |  len(${duckWords("text")}) AS ws_tokens,
            |  len(regexp_extract_all(text, '$TokenRe')) AS re_tokens
            |FROM documents""".stripMargin))

  /** tiny stopword lexicons; scoring = multiset hit count per language. */
  private val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "que", "dans", "vous"),
    "es" -> Seq("el", "los", "de", "y", "es", "una", "por", "con", "del", "se"))

  private def lexArr(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")
  private def duckLexArr(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** stopword-lexicon language ID: hits per language over the word
    * multiset, argmax with a fixed precedence for ties. The lexicons
    * are literal arrays — on a cluster a broadcast variable — so this
    * is again a map-only scoring pass. */
  val textLangid: Q = Q(
    "text_langid",
    (s, dir) => {
      val scored = Lexicons.foldLeft(
        docs(s, dir).withColumn("words", expr(normWords("text")))) {
        case (df, (lang, lex)) =>
          df.withColumn(s"s_$lang",
            expr(s"size(filter(words, x -> array_contains(${lexArr(lex)}, x)))"))
      }
      scored.select(
        col("doc_id"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
        expr("""CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
               |     WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
               |     WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               |     WHEN s_es > 0 THEN 'es'
               |     ELSE 'und' END""".stripMargin).as("pred_lang"))
    },
    Some {
      val scores = Lexicons.map { case (lang, lex) =>
        s"len(list_filter(words, x -> list_contains(${duckLexArr(lex)}, x))) AS s_$lang"
      }.mkString(",\n  ")
      s"""WITH w AS (
         |  SELECT doc_id, ${duckNormWords("text")} AS words FROM documents
         |), sc AS (
         |  SELECT doc_id, $scores FROM w
         |)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
         |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |       WHEN s_es > 0 THEN 'es'
         |       ELSE 'und' END AS pred_lang
         |FROM sc""".stripMargin
    })

  /** quality scoring: length, punctuation ratio, stopword ratio, word
    * diversity, combined into one score. Pure per-row arithmetic. */
  val textQuality: Q = Q(
    "text_quality",
    (s, dir) => docs(s, dir)
      .withColumn("words", expr(words("text")))
      .withColumn("n_words", expr("size(words)"))
      .withColumn("punct_ratio",
        expr(s"regexp_count(text, '[^A-Za-z0-9 ]') / CAST(greatest(length(text), 1) AS DOUBLE)"))
      .withColumn("stop_ratio",
        expr(s"size(filter(words, x -> array_contains(${lexArr(Lexicons.head._2)}, x))) / CAST(greatest(n_words, 1) AS DOUBLE)"))
      .withColumn("diversity",
        expr("size(array_distinct(words)) / CAST(greatest(n_words, 1) AS DOUBLE)"))
      .select(
        col("doc_id"), col("n_words"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("diversity"), 6).as("diversity"),
        round(expr("0.4*stop_ratio + 0.3*diversity + 0.3*least(n_words/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))"), 6)
          .as("quality")),
    Some(s"""WITH w AS (
            |  SELECT doc_id, text, ${duckWords("text")} AS words FROM documents
            |), m AS (
            |  SELECT doc_id, len(words) AS n_words,
            |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0 / greatest(length(text), 1) AS punct_ratio,
            |    len(list_filter(words, x -> list_contains(${duckLexArr(Lexicons.head._2)}, x))) * 1.0 / greatest(len(words), 1) AS stop_ratio,
            |    len(list_distinct(words)) * 1.0 / greatest(len(words), 1) AS diversity
            |  FROM w
            |)
            |SELECT doc_id, n_words,
            |  round(punct_ratio, 6) AS punct_ratio,
            |  round(stop_ratio, 6) AS stop_ratio,
            |  round(diversity, 6) AS diversity,
            |  round(0.4*stop_ratio + 0.3*diversity + 0.3*least(n_words/100.0, 1.0), 6) AS quality
            |FROM m""".stripMargin))

  /** rolling polynomial 60-bit fingerprint of the normalized text —
    * the content-address used by dedup_exact_norm. */
  val textFingerprint: Q = Q(
    "text_fingerprint",
    (s, dir) => docs(s, dir).select(
      col("doc_id"),
      expr(fp60(normText("text"))).as("fp")),
    Some(s"""SELECT doc_id, ${duckFp60(duckNormText("text"))} AS fp
            |FROM documents""".stripMargin))

  /** corpus-level word-3-gram frequency, top 100. The explode is the
    * only data amplification (x n_words); partial aggregation combines
    * map-side, the final top-k is a TakeOrdered (no global sort). */
  val textNgramFreq: Q = Q(
    "text_ngram_freq",
    (s, dir) => docs(s, dir)
      .withColumn("words", expr(words("text")))
      .filter(expr("size(words) >= 3"))
      .select(explode(expr(shingles3("words"))).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(100),
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), g AS (
            |  SELECT unnest(${duckShingles3("words")}) AS gram FROM w WHERE len(words) >= 3
            |)
            |SELECT gram, count(*) AS cnt FROM g GROUP BY gram
            |ORDER BY cnt DESC, gram LIMIT 100""".stripMargin))

  /** PII detection + redaction — the scrub pass a training corpus runs
    * before anything else ships. The synthetic corpus carries no PII,
    * so the query plants a deterministic email + phone per document
    * (pure doc_id arithmetic, identical in the oracle) and then runs
    * the real operator: pattern counts + regexp_replace redaction.
    * Patterns avoid backslash escapes entirely ([.] instead of \.) so
    * the Java and RE2 regex dialects cannot diverge. Map-only — at
    * 100 TB this fuses into the scan with zero shuffles. */
  private val EmailRe = "[A-Za-z0-9_%+-]+@[A-Za-z0-9-]+[.][A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-555-[0-9]{4}"

  val textPiiRedact: Q = Q(
    "text_pii_redact",
    (s, dir) => docs(s, dir)
      .withColumn("aug", expr(
        "concat(text, ' contact user', doc_id, '@mail', doc_id % 7, " +
          "'.com or call ', 100 + doc_id % 900, '-555-', " +
          "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"))
      .select(
        col("doc_id"),
        expr(s"regexp_count(aug, '$EmailRe')").as("n_emails"),
        expr(s"regexp_count(aug, '$PhoneRe')").as("n_phones"),
        expr(fp60(s"regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>'), '$PhoneRe', '<PHONE>')"))
          .as("red_fp"))
      .orderBy("doc_id"),
    Some(s"""WITH a AS (
            |  SELECT doc_id,
            |    text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
            |    '.com or call ' || (100 + doc_id % 900) || '-555-' ||
            |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
            |  FROM documents
            |)
            |SELECT doc_id,
            |  len(regexp_extract_all(aug, '$EmailRe')) AS n_emails,
            |  len(regexp_extract_all(aug, '$PhoneRe')) AS n_phones,
            |  ${duckFp60(s"regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')")} AS red_fp
            |FROM a ORDER BY doc_id""".stripMargin))

  /** Repetition signals (Gopher-style quality filters): per document,
    * the fraction of word-2-grams that are duplicates and the share of
    * the single most frequent 2-gram — high values flag boilerplate /
    * TEMPLATE text that dedup misses. Integer percentages only (no
    * float boundary). Shape: explode grams -> (doc, gram) counts ->
    * per-doc rollup; both aggregations partial-aggregate map-side, and
    * the (doc_id, gram) key is near-unique so the first shuffle carries
    * ~one row per gram occurrence — linear at 100 TB. */
  val textRepetition: Q = Q(
    "text_repetition",
    (s, dir) => docs(s, dir)
      .withColumn("ws", expr(words("text")))
      .filter(expr("size(ws) >= 2"))
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2)))"))
        .as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"), count(lit(1)).as("n_distinct"),
        max("cnt").as("max_cnt"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("max_cnt"),
        expr("max_cnt * 100 div n_grams").as("top_gram_pct"),
        expr("(n_grams - n_distinct) * 100 div n_grams").as("dup_gram_pct"))
      .orderBy("doc_id"),
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents
            |), g AS (
            |  SELECT doc_id,
            |    unnest([array_to_string(list_slice(ws, i, i + 1), ' ')
            |            FOR i IN range(1, greatest(len(ws), 1))]) AS gram
            |  FROM w WHERE len(ws) >= 2
            |), c AS (
            |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
            |), r AS (
            |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
            |    count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS max_cnt
            |  FROM c GROUP BY 1
            |)
            |SELECT doc_id, n_grams, n_distinct, max_cnt,
            |  max_cnt * 100 // n_grams AS top_gram_pct,
            |  (n_grams - n_distinct) * 100 // n_grams AS dup_gram_pct
            |FROM r ORDER BY doc_id""".stripMargin))

  /** Cross-document repeated-segment removal — the C4/RefinedWeb
    * boilerplate-stripping step: any 8-word segment that occurs in
    * >= 2 DISTINCT documents is boilerplate (navigation chrome, legal
    * footers, templated spans) and is dropped from every document that
    * carries it; the rest of each document survives in order.
    *
    * Output per doc: segment counts before/after plus an ORDER-
    * SENSITIVE digest of the kept segment hashes (the same fold shape
    * as sigDigest) — so the oracle pins not just how many segments
    * survive but exactly WHICH, in WHAT order, without shipping
    * reassembled text through the hash compare.
    *
    * Scale: segmentation and hashing are map-side column expressions;
    * the boilerplate set is one (hash → distinct-doc count) aggregate
    * — 8-byte keys, partial-aggregated. The anti-join side is NOT
    * broadcast: at web-corpus scale the qualifying-hash set is
    * billions of rows (duplicated boilerplate is WHY these pipelines
    * exist), so a broadcast would run to tens of GB and kill the job —
    * and the static planner's size ESTIMATE of an aggregate's output
    * cannot be trusted to catch that (it happily picks broadcast from
    * a guess). The merge hint pins a sort-merge anti-join partitioned
    * on `h` — the agg output is already exchange-partitioned on `h`,
    * so its side shuffles zero extra bytes, and SMJ spills instead of
    * OOMing if a partition runs hot; AQE remains free to demote it to
    * a broadcast at runtime from the MEASURED size when the set is
    * genuinely small. Per-doc reassembly groups on doc_id. Bounded
    * exchanges end to end, nothing quadratic. */
  val textLineDedup: Q = Q(
    "text_line_dedup",
    (s, dir) => {
      val segs = docs(s, dir)
        .withColumn("ws", expr(words("text")))
        .filter(expr("size(ws) >= 1"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, CAST(ceil(size(ws) / 8.0) AS INT) - 1), " +
            "i -> concat_ws(' ', slice(ws, i * 8 + 1, 8)))")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          expr(fp60(normText("col"))).as("h"))
      val boilerplate = segs.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("h")
      val kept = segs.join(boilerplate.hint("merge"), Seq("h"), "left_anti")
      segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
        .join(kept.groupBy("doc_id").agg(count(lit(1)).as("k"),
          expr("aggregate(transform(array_sort(collect_list(struct(pos, h))), " +
            "x -> x.h), CAST(0 AS BIGINT), " +
            "(acc, v) -> (acc * 1000003 + v) % 2147483647)").as("d")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("k"), lit(0L)).as("n_kept"),
          coalesce(col("d"), lit(0L)).as("kept_digest"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents
            |  WHERE len(${duckWords("text")}) >= 1
            |), segs AS (
            |  SELECT doc_id, t.x AS pos,
            |    ${duckFp60(duckNormText(
                  "array_to_string(list_slice(ws, t.x * 8 + 1, t.x * 8 + 8), ' ')"))} AS h
            |  FROM w, unnest([i
            |    FOR i IN range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))]) AS t(x)
            |), boilerplate AS (
            |  SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) >= 2
            |), kept AS (
            |  SELECT * FROM segs WHERE h NOT IN (SELECT h FROM boilerplate)
            |), agg AS (
            |  SELECT doc_id, count(*) AS k,
            |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
            |      (acc, v) -> (acc * 1000003 + v) % 2147483647) AS d
            |  FROM kept GROUP BY doc_id
            |)
            |SELECT s.doc_id, count(*) AS n_segs,
            |  coalesce(max(agg.k), 0) AS n_kept,
            |  coalesce(max(agg.d), 0) AS kept_digest
            |FROM segs s LEFT JOIN agg ON s.doc_id = agg.doc_id
            |GROUP BY s.doc_id
            |ORDER BY s.doc_id""".stripMargin))

  /** Top adjacent-symbol pairs — the counting core of a BPE tokenizer-
    * training round (learn-merges step 0 at the character level): every
    * in-word adjacent character pair over [[Bpe.wordStream]], globally
    * counted, top [[BpeTopPairs]] by (count desc, pair asc). The
    * highest-ranked pair IS the first merge [[Bpe.train]] learns;
    * re-running after applying it is the same plan over the rewritten
    * symbol stream, so one row pins the whole loop's shape.
    *
    * Scale: the pair explode is map-side (rows = total characters, no
    * join), the count partial-aggregates onto a key domain BOUNDED by
    * the alphabet squared (constant in corpus size — a few hundred
    * distinct keys here), and the final global ranking window sees
    * only that bounded domain, so the single-partition sort is O(|Σ|²)
    * regardless of corpus size. This is word-count with a constant key
    * space — the friendliest 100 TB shape there is. */
  private val BpeTopPairs = 32

  val bpePairCounts: Q = Q(
    "bpe_pair_counts",
    (s, dir) => Bpe.wordStream(s, dir, keyed = false)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))))
      .filter(col("rank") <= BpeTopPairs)
      .select(col("rank"), col("pair"), col("cnt")),
    Some(s"""WITH w AS (
            |  ${Bpe.wordStreamSql(keyed = false)}
            |), p AS (
            |  SELECT substring(w, CAST(t.i AS INT), 2) AS pair
            |  FROM w, unnest(range(1, length(w))) AS t(i)
            |), c AS (
            |  SELECT pair, count(*) AS cnt FROM p GROUP BY 1
            |)
            |SELECT rank, pair, cnt FROM (
            |  SELECT pair, cnt,
            |    row_number() OVER (ORDER BY cnt DESC, pair) AS rank
            |  FROM c
            |) WHERE rank <= $BpeTopPairs""".stripMargin))

  /** BPE merge-table TRAINING — the loop [[bpePairCounts]] opens
    * ([[Bpe.train]]): emits the learned merge table (rank, merge_pair,
    * count-at-learn-time), the artifact a tokenizer trainer ships. A
    * driver loop of at most [[Bpe.Rounds]] word-count-shaped jobs; the
    * driver holds only the merge table. */
  val bpeTrainMerges: Q = Q(
    "bpe_train_merges",
    (s, dir) => {
      import s.implicits._
      Bpe.train(s, dir)
        .map { case (r, p, c) => (r, p.replace(Bpe.Sep, " "), c) }
        .toDF("rank", "merge_pair", "cnt").orderBy("rank")
    },
    Some(s"""WITH ${Bpe.trainSql}
            |SELECT rank, replace(pair, chr(31), ' ') AS merge_pair, cnt
            |FROM (${Bpe.learnedSql})
            |ORDER BY rank""".stripMargin))

  /** BPE ENCODING — the serve half of the tokenizer loop
    * [[bpeTrainMerges]] trains: [[Bpe.train]], then [[Bpe.encode]] with
    * the learned merges. Tokenization is what a training-data pipeline
    * runs over the WHOLE corpus on every recipe change, so its scale
    * shape matters more than training's: the encode is map-only up to
    * the per-doc aggregation, embarrassingly parallel at 100 TB. The
    * oracle re-learns the merges with the same training chain as
    * bpe_train_merges' and folds them over every document's words. */
  val bpeEncode: Q = Q(
    "bpe_encode",
    (s, dir) => Bpe.encode(s, dir, Bpe.train(s, dir).map(_._2)),
    Some(Bpe.encodeSql(Bpe.learnedPairsSql, Seq(Bpe.trainSql))))

  /** The COMMITTED merge table — the [[bpeTrainMerges]] artifact of
    * the sf0.01 training corpus (reproducible: run bpe_train_merges
    * there and read the 8 rows; DedupTextSpec checks it), shipped the
    * way a production tokenizer ships: as a fixed file a serve job
    * loads, never retrains. Symbol pairs in rank order; merge 6
    * consumes merge 1's output symbol ("m"+"er"), so rank order is
    * semantic. */
  private[graft] val BpeStoredMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** BPE encoding with a STORED merge table — the production serve
    * path: bpe_encode proves train+serve compose (it retrains in-run),
    * while THIS row runs what a tokenizer deployment actually runs on
    * every recipe change — [[Bpe.encode]] with the committed table
    * ([[BpeStoredMerges]]). No training jobs at all, so the bench row
    * prices the MARGINAL encode cost that bpe_encode's training passes
    * sit on top of. The oracle inlines the same table as a literal
    * list. */
  val bpeEncodeStored: Q = Q(
    "bpe_encode_stored",
    (s, dir) => Bpe.encode(s, dir, BpeStoredMerges.map { case (a, b) => a + Bpe.Sep + b }),
    Some(Bpe.encodeSql(BpeStoredMerges
      .map { case (a, b) => s"'$a' || chr(31) || '$b'" }.mkString("[", ", ", "]"))))

  /** Bounded LM model sizes: top-V bigrams / top-U unigrams kept by
    * corpus frequency (deterministic tie-break by key). The model a
    * deployment ships is always capped like this — it must broadcast —
    * so the cap is the 100 TB design, not a test shortcut. */
  private val LmTopBigrams = 4096
  private val LmTopUnigrams = 4096
  private val LmScale = 1000000L

  /** LM-frequency quality score — the CCNet/Gopher "perplexity filter"
    * stage of a curation pipeline, re-expressed integer-exact so it
    * oracle-verifies: train a bigram frequency model over the
    * normalized corpus, cap it to the top-[[LmTopBigrams]] bigrams and
    * top-[[LmTopUnigrams]] unigrams (the bounded artifact that gets
    * broadcast), then score every document by the mean scaled
    * conditional-probability of its adjacent word pairs —
    * floor(1e6·c(w1 w2)/c(w1)) for in-model bigrams, unigram backoff
    * floor(1e6·c(w2)/T) when only w2 is known, 0 otherwise. Monotone in
    * the true LM likelihood on the model's support, but all integer
    * floor-divisions — no logs, so Spark and DuckDB agree bit-exactly.
    *
    * Scale shape: training is two word-count aggregations (pairs /
    * words) + TakeOrdered caps — the friendliest 100 TB pattern there
    * is; the capped model (≤8k rows) broadcasts, so serving is a
    * map-only explode + two broadcast lookups + one partial-agg
    * reduce keyed by doc_id. Ref: reference README's ksqlDB scoring
    * layer has no LM stage; this is pipeline-completion beyond §2. */
  val textLmScore: Q = Q(
    "text_lm_score",
    (s, dir) => {
      val ws = docs(s, dir)
        .select(col("doc_id"), expr(normWords("text")).as("ws"))
      val pairs = ws.select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) < 2 THEN array()
          |ELSE transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))
          |END""".stripMargin)).as("p"))
        .select(col("doc_id"), col("p.w1"), col("p.w2"))
      val unis = ws.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val tot = unis.agg(sum(col("c1")).cast("long").as("t"))
      // caps are TakeOrdered (distributed top-k), not a global window
      val topUni = unis.orderBy(col("c1").desc, col("w")).limit(LmTopUnigrams)
      val topBig = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .orderBy(col("c12").desc, col("w1"), col("w2")).limit(LmTopBigrams)
      // denominator resolved at train time: model rows carry c1(w1)
      val model = unis.withColumnRenamed("w", "mw")
        .join(broadcast(topBig), col("mw") === col("w1")).drop("mw")
      val scored = pairs
        .join(broadcast(model), Seq("w1", "w2"), "left")
        .join(broadcast(topUni.select(col("w").as("w2"), col("c1").as("c2"))),
          Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), expr(
          s"""CASE WHEN c12 IS NOT NULL THEN ($LmScale * c12) div c1
             |WHEN c2 IS NOT NULL THEN ($LmScale * c2) div t
             |ELSE 0L END""".stripMargin).as("sc"))
      val agg = scored.groupBy("doc_id").agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(sc) div count(1)").as("lm_score"))
      ws.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("lm_score"), lit(0L)).as("lm_score"))
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, ${duckNormWords("text")} AS ws
            |  FROM documents
            |), uni AS (
            |  SELECT w, count(*) AS c1
            |  FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1
            |), tot AS (
            |  SELECT CAST(sum(c1) AS BIGINT) AS t FROM uni
            |), pairs AS (
            |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
            |  FROM d, unnest(range(1, len(ws))) AS r(i)
            |), big AS (
            |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2
            |), topbig AS (
            |  SELECT w1, w2, c12 FROM big
            |  ORDER BY c12 DESC, w1, w2 LIMIT $LmTopBigrams
            |), topuni AS (
            |  SELECT w, c1 FROM uni ORDER BY c1 DESC, w LIMIT $LmTopUnigrams
            |), model AS (
            |  SELECT b.w1, b.w2, b.c12, u.c1 FROM topbig b
            |  JOIN uni u ON u.w = b.w1
            |), scored AS (
            |  SELECT p.doc_id,
            |    CASE WHEN m.c12 IS NOT NULL THEN ($LmScale * m.c12) // m.c1
            |         WHEN u2.c1 IS NOT NULL THEN ($LmScale * u2.c1) // t
            |         ELSE 0 END AS sc
            |  FROM pairs p
            |  LEFT JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
            |  LEFT JOIN topuni u2 ON u2.w = p.w2
            |  CROSS JOIN tot
            |), agg AS (
            |  SELECT doc_id, count(*) AS n_pairs,
            |    CAST(sum(sc) AS BIGINT) // count(*) AS lm_score
            |  FROM scored GROUP BY 1
            |)
            |SELECT d.doc_id, coalesce(a.n_pairs, 0) AS n_pairs,
            |  coalesce(a.lm_score, 0) AS lm_score
            |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin))

  /** tf-idf keyword extraction — the per-document salient-term pass a
    * curation pipeline uses for topic tagging / clustering features.
    * The score is `tf * N div df` in pure BIGINT arithmetic: at fixed
    * corpus size N this ranks per document exactly like tf/df (and
    * monotonically like tf·idf for the ranks that matter), while
    * avoiding ln(), whose libm rounding is not pinned across engines.
    * Top-3 terms per doc, ties to the lexicographically smaller word.
    *
    * Scale shape: one explode (×n_words) feeding a partial-aggregated
    * tf on (doc_id, word); df is a second aggregation OVER tf (already
    * one row per (doc, word) — no second pass over the corpus); the
    * tf⋈df join shuffles on word (the vocabulary is corpus-scaled —
    * NEVER broadcast); the 1-row totals frame broadcasts; the per-doc
    * top-k is a window on the doc_id partitioning. Four bounded
    * exchanges end to end, each on a key the next stage needs. */
  val textTfidf: Q = Q(
    "text_tfidf",
    (s, dir) => {
      val d = docs(s, dir)
      // the normalized text as its own column: with normWords inlined,
      // the explode absorbs the Project under it and the plan changes
      val tf = d.withColumn("w", expr(normText("text")))
        .select(col("doc_id"), explode(expr(words("w"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val totals = d.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(totals))
        .withColumn("score", expr("tf * n_docs div df"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("word"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("word"), col("tf"),
          col("df"), col("score"))
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, unnest(${duckNormWords("text")}) AS word
            |  FROM documents
            |), tf AS (
            |  SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2
            |), df AS (
            |  SELECT word, count(*) AS df FROM tf GROUP BY 1
            |), tot AS (SELECT count(*) AS n_docs FROM documents),
            |scored AS (
            |  SELECT doc_id, word, tf, df.df, tf * n_docs // df.df AS score
            |  FROM tf JOIN df USING (word) CROSS JOIN tot
            |), r AS (
            |  SELECT *, row_number() OVER
            |    (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
            |  FROM scored)
            |SELECT doc_id, rank, word, tf, df, score FROM r WHERE rank <= 3
            |ORDER BY doc_id, rank""".stripMargin))

  val all: Seq[Q] = Seq(textTokens, textLangid, textQuality, bpeTrainMerges,
    bpeEncode, bpeEncodeStored,
    textFingerprint, textNgramFreq, textPiiRedact, textRepetition,
    textLineDedup, bpePairCounts, textLmScore, textTfidf)
}
