package graft.operators

import graft.Q
import graft.functions.Portable._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table — the operators an
  * LLM-training-data pipeline runs before anything else. Reference
  * pipeline context: the CDC sink dedups by key (README.md upsert
  * config); here we add content-level dedup as first-class operators.
  *
  * Scale design (100 TB): no candidate generator is ever O(n^2) —
  * exact/norm dedup is one hash-partition groupBy on the text (or a
  * 60-bit fingerprint of it, so the shuffle key is 8 bytes, not the
  * document); near-dup candidates come from bounded blocking keys
  * (shingles, MinHash LSH bands, SimHash hamming bands, hyperplane
  * buckets) followed by exact verification within blocks only — the
  * caps, copy families, rep-pair self-join and member expansion are
  * [[Blocking]]'s; each row here supplies its signature, block key,
  * score and threshold. Signatures (MinHash/SimHash) are computed
  * per-document with folds over array columns — codegen'd, zero
  * explode, zero shuffle — so the only shuffles are the block-key joins
  * themselves.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents

  /** ceil(log2(n)) in pure integer arithmetic (mirrors
    * [[graft.functions.Portable.duckCeilLog2]] — no floating log2, so
    * the engines cannot disagree at exact-power boundaries). */
  private[graft] def ceilLog2(n: Long): Int =
    if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)

  /** Corpus-scaled hyperplane bit count: bits = max(6, ceil(log2 N) -
    * 6), i.e. expected bucket occupancy N / 2^bits held at ~64 —
    * constant per-bucket pair work however large the corpus, which is
    * what makes the capped blocking's recall scale-stable instead of
    * decaying toward zero (pre-r9 the keyspace was FIXED at 6 bits, so
    * the 512-member cap kept a vanishing 512*256/N fraction at scale).
    * Deterministic from a corpus count; the oracles interpolate the
    * identical integer formula ([[duckEmbBitsFrom]]). At the
    * verify/bench SFs (N <= 2^12) this floors at 6 — the historical
    * configuration. */
  private[graft] def embBits(n: Long): Int = math.max(6, ceilLog2(n) - 6)

  /** The matching SQL for [[embBits]] over a counted corpus. */
  private[graft] def duckEmbBitsFrom(countExpr: String): String =
    s"greatest(6, ${duckCeilLog2(countExpr)} - 6)"

  /** exact dedup: one representative (min doc_id) per distinct text.
    * The groupBy key at scale should be fp60(text), not the raw text —
    * demonstrated in dedup_exact_norm; here we keep the semantic
    * baseline on the raw text. */
  val dedupExact: Q = Q(
    "dedup_exact",
    (s, dir) => docs(s, dir)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies"),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY text""".stripMargin))

  /** normalized exact dedup: group on a 60-bit fingerprint of the
    * lower/whitespace-squeezed text — an 8-byte shuffle key instead of
    * the full document, which at 100 TB is the difference between
    * shuffling 100 TB and shuffling ~1% of it. */
  val dedupExactNorm: Q = Q(
    "dedup_exact_norm",
    (s, dir) => docs(s, dir)
      .withColumn("fp", expr(fp60(normText("text"))))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies"),
    Some(s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
            |FROM documents GROUP BY ${duckFp60(duckNormText("text"))}""".stripMargin))

  /** Per-document DISTINCT shingle-hash arrays over a (doc_id, text)
    * frame — the pair generators run this on exact-dup-group
    * REPRESENTATIVES only. Deduplication happens row-locally with
    * array_distinct (no shuffle), so downstream consumers get unique
    * (doc_id, sh) pairs from a plain explode and the per-doc shingle
    * count is just size(hs) — the distinct-as-aggregation formulation
    * costs an extra exchange of every (doc, shingle) row. */
  private[operators] def shingleArraysOf(d: DataFrame): DataFrame = d
    .withColumn("words", expr(words("text")))
    .filter(expr("size(words) >= 3"))
    .withColumn("hs", expr(s"array_distinct(${shingleHashes60("words")})"))

  /** Exact-duplicate text groups ([[Blocking.families]] over the text):
    * every doc tagged with `gid` (the min doc_id among byte-identical
    * texts — the group representative) and `gn` (the group size), the
    * copies' text nulled, checkpointed.
    *
    * This is the standard production pipeline order (exact dedup
    * FIRST, near-dup on distinct texts): pair-generation cost is
    * quadratic in block sizes, and byte-identical copies inflate every
    * shingle block by the duplication factor — running the pair join
    * on one representative per text makes generation scale with
    * DISTINCT texts while the copy fan-out moves to the expansion
    * joins, which scale with OUTPUT pairs. At 30x replica data (every
    * text x30) the direct join ran 609 s and OOM'd under ensemble
    * memory pressure; the rep form does the identical-result join on
    * 1/30th the docs.
    *
    * The window key is a 120-bit text fingerprint (two independent
    * 60-bit polynomial hashes), NOT the raw text: this exchange is the
    * widest shuffle in the repo, and 16 bytes per row vs whole
    * documents is the difference between shuffling ids and shuffling
    * the corpus. Collision stance (same as the sig digests): two
    * DISTINCT texts sharing both fingerprints merge groups with
    * per-pair odds ~2^-120 — birthday bound ~4e-19 at 10^9 distinct
    * texts — so grouping is identical to partitioning on the text
    * itself (the oracles keep PARTITION BY text; a disagreement IS the
    * collision detector). */
  private[operators] def textGroups(s: SparkSession, dir: String): DataFrame =
    Blocking.families(docs(s, dir), "doc_id",
      Seq(expr(fp60("text")), expr(fp60b("text"))), "text")

  /** Members eligible for pair expansion: groups over MaxShingleBlock
    * are dropped wholesale — the direct formulation dropped their
    * every shingle block as degenerate (a >1000-copy text saturates
    * all its blocks), so they produced no pairs there either; a
    * mega-dup group's pair list is exact-dedup noise, its docs are
    * handled by the one-representative contract. */
  private[operators] def groupMembers(g: DataFrame): DataFrame =
    g.filter(col("gn") <= Blocking.MaxShingleBlock)

  /** One (doc_id, text) row per group representative. */
  private[operators] def groupReps(g: DataFrame): DataFrame =
    groupMembers(g).filter(col("doc_id") === col("gid"))
      .select(col("doc_id"), col("text"))

  /** Bounded-shingle-block pair stats over representatives:
    * (ga, gb, inter, na, nb) with ga < gb, inter the shared-shingle
    * count, na/nb the per-rep distinct-shingle counts. The hot-shingle
    * cap drops degenerate blocks BEFORE pair enumeration; the
    * denominator counts stay exact over all shingles and ride the
    * exploded rows as constants (one corpus scan, no separate
    * count-attach joins). */
  private[operators] def repPairStats(reps: DataFrame): DataFrame = {
    val sh = Blocking.dropHot(
      shingleArraysOf(reps).select(col("doc_id"), expr("size(hs)").as("n"),
        explode(col("hs")).as("sh")),
      "sh", Blocking.MaxShingleBlock)
    Blocking.selfJoin(sh, "doc_id", "sh")
      .groupBy(col("a.doc_id").as("ga"), col("b.doc_id").as("gb"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
  }

  /** Groups whose representative has >= 3 words (shorter texts have no
    * 3-gram shingles and can never pair — in the direct formulation
    * they simply never reach the join). */
  private def eligibleGids(reps: DataFrame): DataFrame =
    shingleArraysOf(reps).select(col("doc_id").as("egid"))

  /** The rep-grouping CTEs shared by the shingle-pair oracles — mirrors
    * [[textGroups]]/[[groupMembers]]/[[groupReps]]/[[repPairStats]]. */
  private[operators] def duckGroupCtes: String =
    s"""g AS (
       |  ${Blocking.familiesSql("documents", "doc_id", "text", "text")}
       |), m AS (
       |  SELECT doc_id, gid, gn FROM g WHERE gn <= ${Blocking.MaxShingleBlock}
       |), reps AS (
       |  SELECT doc_id, text FROM g WHERE doc_id = gid AND gn <= ${Blocking.MaxShingleBlock}
       |), w AS (
       |  SELECT doc_id, ${duckWords("text")} AS words FROM reps
       |), elig AS (
       |  SELECT doc_id AS egid FROM w WHERE len(words) >= 3
       |), sh AS (
       |  SELECT DISTINCT doc_id, unnest(${duckShingleHashes60(duckShingles3("words"))}) AS sh
       |  FROM w WHERE len(words) >= 3
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), shb AS (
       |  ${Blocking.dropHotSql("sh", "sh", Blocking.MaxShingleBlock)}
       |), rpairs AS (
       |  SELECT a.doc_id AS ga, b.doc_id AS gb, count(*) AS inter
       |  FROM ${Blocking.selfJoinSql("shb", "doc_id", "sh")}
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** Shingle-set near-dup pairs (da < db, `name`) whose `score` over
    * the rep pair stats (inter, na, nb) is >= `minScore`, via [[textGroups]]:
    * the quadratic join runs on representatives, then pairs expand to
    * members — cross-group pairs inherit the rep pair's score
    * (identical texts have identical shingle sets, so the value is
    * bit-identical to the direct computation), intra-group pairs are
    * exactly 1.0. `duckScore` is the same score over (inter, ca.n,
    * cb.n). Rounded to 6 places. */
  private def shinglePairs(row: String, name: String, score: Column,
      duckScore: String, minScore: Double): Q = Q(
    row,
    (s, dir) => {
      val g = textGroups(s, dir)
      val reps = groupReps(g)
      val rp = repPairStats(reps).withColumn(name, score)
        .filter(col(name) >= minScore)
        .select(col("ga"), col("gb"), round(col(name), 6).as(name))
      Blocking.expand(rp, groupMembers(g), eligibleGids(reps), "doc_id",
        ("da", "db"), name -> lit(1.0))
    },
    Some(s"""WITH $duckGroupCtes,
            |rp AS (
            |  SELECT ga, gb, round($duckScore, 6) AS $name
            |  FROM rpairs
            |  JOIN cnt ca ON ga = ca.doc_id
            |  JOIN cnt cb ON gb = cb.doc_id
            |  WHERE $duckScore >= $minScore
            |)
            |${Blocking.expandSql("rp", "m", "SELECT egid FROM elig", "doc_id",
              ("da", "db"), name -> "CAST(1.0 AS DOUBLE)")}""".stripMargin))

  /** word-3-gram Jaccard >= 0.8 duplicate pairs. Candidates are
    * blocked by shared shingle (the self-join key), so cost is
    * sum(block^2) over shingle blocks — bounded because natural-text
    * shingles are rare AND because degenerate blocks (web boilerplate
    * shared by >MaxShingleBlock docs) are dropped before enumeration;
    * never an O(n^2) cross join. The join key is the 60-bit shingle
    * hash, not the shingle string: an 8-byte shuffle key instead of ~25
    * bytes of text, and the oracle blocks on the same hash so any
    * collision affects both sides equally. */
  val dedupNgramJaccard: Q = shinglePairs("dedup_ngram_jaccard", "jaccard",
    col("inter") / (col("na") + col("nb") - col("inter")),
    "inter*1.0 / (ca.n + cb.n - inter)", 0.8)

  /** Asymmetric n-gram CONTAINMENT (inter / min(|A|,|B|) >= 0.9) — the
    * quote/subset detector Jaccard structurally misses: a short doc
    * fully embedded in a long one has tiny Jaccard (union is the long
    * doc) but containment ~1. Near-dedup pipelines run BOTH measures;
    * this row is the Jaccard row with the other denominator (same
    * blocks, same caps, same member expansion), so it costs the same
    * bounded plan. */
  val dedupContainment: Q = shinglePairs("dedup_containment", "containment",
    col("inter") / least(col("na"), col("nb")),
    "inter*1.0 / least(ca.n, cb.n)", 0.9)

  /** span window length for [[dedupSpans]]: 8 words ≈ the shortest
    * span worth cutting (Lee et al. use 50 BPE tokens; 8 words on the
    * synthetic corpus keeps sf0.01 oracle work tractable while
    * exercising the identical plan shape). */
  private[operators] val SpanW = 8

  /** Exact duplicated-span census — the exact-substring counterpart of
    * the MinHash rows ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022: near-dup via MinHash AND exact
    * repeated substrings via suffix arrays). A w=8-word window whose
    * fp60 fingerprint occurs more than once ANYWHERE in the corpus
    * (another document, or again in the same one) is duplicated text
    * mass; the output is each document's window count, duplicated-
    * window count, and duplicated fraction — the quantity an
    * exact-substring cut pass would remove.
    *
    * Scale design — strictly aggregate-class (§5 rule), NO pair
    * enumeration at any stage: the window stream is one 8-byte fp60
    * per word position (map-side native hash fused into the scan, no
    * window strings materialized); then (doc_id, wh) partial-count,
    * a census groupBy(wh), and a join back on wh where the census
    * side arrives already hash-partitioned by the join key; the
    * per-doc rollup is the final 8-byte-key shuffle. Every stage is
    * linear in corpus words. A boilerplate span repeated 10^9 times
    * across a web corpus is ONE census row with total=10^9 — the
    * degenerate case that makes pair-based designs quadratic is this
    * design's cheapest row. */
  val dedupSpans: Q = Q(
    "dedup_spans",
    (s, dir) => {
      val wh = docs(s, dir)
        .withColumn("words", expr(words("text")))
        .filter(expr(s"size(words) >= $SpanW"))
        .select(col("doc_id"),
          explode(expr(windowHashes60("words", SpanW))).as("wh"))
      val perDoc = wh.groupBy("doc_id", "wh").agg(count(lit(1)).as("cnt"))
      val census = perDoc.groupBy("wh").agg(sum("cnt").as("total"))
      perDoc.join(census, "wh")
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_windows"),
          sum(when(col("total") > 1, col("cnt")).otherwise(lit(0L)))
            .as("dup_windows"))
        .select(col("doc_id"), col("n_windows"), col("dup_windows"),
          round(col("dup_windows").cast("double") / col("n_windows"), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), x AS (
            |  SELECT doc_id,
            |    unnest(${duckShingleHashes60(duckWindows("words", SpanW))}) AS wh
            |  FROM w WHERE len(words) >= $SpanW
            |), dw AS (
            |  SELECT doc_id, wh, count(*) AS cnt FROM x GROUP BY doc_id, wh
            |), tot AS (
            |  SELECT wh, sum(cnt) AS total FROM dw GROUP BY wh
            |)
            |SELECT dw.doc_id AS doc_id,
            |  CAST(sum(cnt) AS BIGINT) AS n_windows,
            |  CAST(sum(CASE WHEN total > 1 THEN cnt ELSE 0 END) AS BIGINT)
            |    AS dup_windows,
            |  round(CAST(sum(CASE WHEN total > 1 THEN cnt ELSE 0 END) AS DOUBLE)
            |    / sum(cnt), 6) AS dup_frac
            |FROM dw JOIN tot USING (wh)
            |GROUP BY dw.doc_id
            |ORDER BY doc_id""".stripMargin))

  /** The CUT half of the Lee-et-al. exact-substring operator
    * ([[dedupSpans]] is the census; this row REMOVES the duplicated
    * mass): every word covered by any w=8 window whose fp60 occurs
    * more than once in the corpus is excised; the output is each
    * document's word count, cut-word count, and an ORDER-SENSITIVE
    * digest (md5) of the kept text — the artifact a training-data
    * pipeline ships downstream.
    *
    * Scale design — aggregate/join-class end to end, NO pair
    * enumeration and NO per-doc quadratic HOF: the duplicated-
    * fingerprint set is the census' >1 slice (like text_line_dedup's
    * boilerplate set it is output of a full-corpus aggregate, so it is
    * NEVER statically broadcast — billions of rows at web scale; AQE
    * may demote the join from measured sizes); duplicated window
    * positions expand ×w to covered word indices (bounded fan-out);
    * the kept stream is one LEFT ANTI join of the exploded words
    * against the covered set on (doc_id, idx) — every stage linear in
    * corpus words, shuffles keyed by 8-byte hashes or (doc, idx)
    * composites. The per-doc reassembly sorts ONLY within a document
    * (collect + array_sort under the doc_id aggregate). */
  val dedupSpansCut: Q = Q(
    "dedup_spans_cut",
    (s, dir) => {
      val d = docs(s, dir).withColumn("words", expr(words("text")))
      val wh = d.filter(expr(s"size(words) >= $SpanW"))
        .select(col("doc_id"),
          posexplode(expr(windowHashes60("words", SpanW))))
        .select(col("doc_id"), (col("pos") + lit(1)).cast("long").as("pos"),
          col("col").as("wh"))
      val dup = wh.groupBy("wh").agg(count(lit(1)).as("total"))
        .filter(col("total") > 1).select("wh")
      val dpos = wh.join(dup, "wh").select(col("doc_id"), col("pos"))
      val cov = dpos.select(col("doc_id"),
          explode(expr(s"sequence(pos, pos + ${SpanW - 1})")).as("idx"))
        .distinct()
      val wx = d.select(col("doc_id"), posexplode(col("words")))
        .select(col("doc_id"), (col("pos") + lit(1)).cast("long").as("idx"),
          col("col").as("word"))
      val kept = wx.join(cov, Seq("doc_id", "idx"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_words"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(idx, word))), x -> x.word)"))
            .as("kept_text"))
      d.select(col("doc_id"), size(col("words")).cast("long").as("n_words"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          (col("n_words") - coalesce(col("kept_words"), lit(0L)))
            .as("cut_words"),
          md5(coalesce(col("kept_text"), lit(""))).as("kept_digest"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), xp AS (
            |  SELECT doc_id, t.x['pos'] AS pos, t.x['wh'] AS wh
            |  FROM (SELECT doc_id,
            |          ${duckShingleHashes60(duckWindows("words", SpanW))} AS whs
            |        FROM w WHERE len(words) >= $SpanW),
            |    unnest([{'pos': i, 'wh': whs[i]}
            |      FOR i IN range(1, len(whs) + 1)]) AS t(x)
            |), dup AS (
            |  SELECT wh FROM xp GROUP BY wh HAVING count(*) > 1
            |), dpos AS (
            |  SELECT doc_id, pos FROM xp JOIN dup USING (wh)
            |), cov AS (
            |  SELECT DISTINCT doc_id, u.i AS idx
            |  FROM dpos, unnest(range(pos, pos + $SpanW)) AS u(i)
            |), wx AS (
            |  SELECT doc_id, t.x['i'] AS idx, t.x['w'] AS word
            |  FROM w, unnest([{'i': i, 'w': words[i]}
            |    FOR i IN range(1, len(words) + 1)]) AS t(x)
            |), kept AS (
            |  SELECT doc_id, count(*) AS kept_words,
            |    string_agg(word, ' ' ORDER BY idx) AS kept_text
            |  FROM wx ANTI JOIN cov USING (doc_id, idx)
            |  GROUP BY doc_id
            |)
            |SELECT w.doc_id, len(words) AS n_words,
            |  len(words) - coalesce(kept_words, 0) AS cut_words,
            |  md5(coalesce(kept_text, '')) AS kept_digest
            |FROM w LEFT JOIN kept USING (doc_id)
            |ORDER BY w.doc_id""".stripMargin))

  /** 64-permutation MinHash signatures, one row per doc. Computed as a
    * single fold per document (no 64x explode); at scale this is a
    * map-only stage fused into the scan. The 64-lane signature is
    * surfaced as two independent scalar digests (plus min/max lanes) —
    * the driver's comparator can't sort array cells, and two digests
    * under different multipliers pin all 64 lanes with collision
    * probability ~2^-62. `sig` is materialized as a column BEFORE the
    * digest folds so the HOF lambdas don't re-evaluate the signature
    * per element. */
  val dedupMinhash: Q = Q(
    "dedup_minhash",
    (s, dir) => Blocking.minhashSigs(docs(s, dir), col("doc_id"))
      .select(col("doc_id"),
        expr(sigDigest("sig")).as("sig_digest"),
        expr(sigDigest("sig", 1000033L, P1)).as("sig_digest2"),
        expr("array_min(sig)").as("sig_min"),
        expr("array_max(sig)").as("sig_max")),
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), sig AS (
            |  ${Blocking.minhashSigSql("w", "doc_id")}
            |)
            |SELECT doc_id, ${duckSigDigest("sig")} AS sig_digest,
            |  ${duckSigDigest("sig", 1000033L, P1)} AS sig_digest2,
            |  CAST(list_min(sig) AS BIGINT) AS sig_min,
            |  CAST(list_max(sig) AS BIGINT) AS sig_max
            |FROM sig""".stripMargin))

  /** MinHash LSH: 16 bands x 4 rows -> candidate pairs sharing any
    * band bucket, with the signature-estimated Jaccard.
    *
    * Runs REP-LEVEL (exact-dedup-first): byte-identical texts have
    * identical signatures, hence identical band keys, so enumerating a
    * copy family member-by-member through the band self-join is pure
    * waste — at 300-copy replica scale it was the repo's #1 cost (a
    * 300-member family is 44,850 pairs through the join) and once
    * spilled a 71 GB scratch disk. Instead: group by text
    * ([[textGroups]]), run the band machinery over ONE representative
    * per family, and recover member pairs by group expansion at output
    * — generation cost scales with DISTINCT texts, the copy fan-out
    * lives in output-sized joins.
    *
    * The output is BIT-IDENTICAL to the direct doc-level form at any
    * corpus (the oracle below is still the direct form): the hot-bucket
    * census weights each rep by its family size (`sum(gn)` = exactly
    * the doc count the direct census saw), so hot-bucket drops agree;
    * cross-family pairs inherit the rep pair's estimate (signatures
    * are a pure function of the text); intra-family pairs are est 1.0
    * (64/64 lanes — exact in binary), emitted iff the family has >= 1
    * surviving bucket, which under the weighted census is exactly
    * when the direct form emitted them. */
  val dedupMinhashLsh: Q = Q(
    "dedup_minhash_lsh",
    (s, dir) => {
      val g = textGroups(s, dir)
      // ALL reps, no MaxShingleBlock drop: the weighted census is the
      // authority on hot families (a family over MaxBucket saturates
      // every bucket it touches, exactly as its members did directly)
      val sig = Blocking.minhashSigs(g.filter(col("doc_id") === col("gid")),
        col("doc_id").as("sgid"), col("gn"))
      val bounded = Blocking.dropHot(
        sig.select(col("sgid"), col("gn"), explode(expr(minhashBands("sig"))).as("bk")),
        "bk", Blocking.MaxBucket, weight = Some("gn"))
      val repPairs = Blocking.selfJoin(bounded, "sgid", "bk")
        .select(col("a.sgid").as("ga"), col("b.sgid").as("gb"))
        .distinct()
        .join(sig.as("sa"), col("ga") === col("sa.sgid"))
        .join(sig.as("sb"), col("gb") === col("sb.sgid"))
        .select(col("ga"), col("gb"),
          round(expr(minhashEstJaccard("sa.sig", "sb.sig")), 6).as("est_jaccard"))
      // families with >= 2 members and >= 1 surviving bucket: every
      // member pair is a pair the direct join emitted
      val intraGids = bounded.filter(col("gn") >= 2).select(col("sgid")).distinct()
      Blocking.expand(repPairs, g, intraGids, "doc_id", ("da", "db"),
        "est_jaccard" -> lit(1.0))
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), sig AS (
            |  ${Blocking.minhashSigSql("w", "doc_id")}
            |), bands AS (
            |  SELECT doc_id, sig, unnest(${duckMinhashBands("sig")}) AS bk FROM sig
            |), bounded AS (
            |  ${Blocking.dropHotSql("bands", "bk", Blocking.MaxBucket)}
            |)
            |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
            |  round(${duckMinhashEstJaccard("a.sig", "b.sig")}, 6) AS est_jaccard
            |FROM ${Blocking.selfJoinSql("bounded", "doc_id", "bk")}""".stripMargin))

  /** 60-bit SimHash fingerprints + hamming<=8 near-dup pairs from
    * 15-bit hamming band buckets (a pair within hamming 3 of the 60
    * bits must agree exactly on at least one of the 4 bands; we block
    * on that and verify the exact hamming distance inside blocks).
    * Votes are cast by 3-gram shingle hashes, not single words: on a
    * corpus with a shared vocabulary, word-level fingerprints collapse
    * onto a few values and every band bucket goes hot; shingle-level
    * features keep non-dup fingerprints uniform so bucket sizes stay
    * ~n/2^15 per band. That ratio is still linear in n — the band
    * keyspace is FIXED (4 bands x 2^15 values), so past ~32M docs the
    * AVERAGE bucket exceeds any drop-cap and dropping hot buckets
    * would empty the operator. The buckets are SAMPLED instead
    * ([[Blocking.sample]], rep-level: the cap counts DISTINCT
    * fingerprints): candidates are <= 4 * 2^15 * cap^2 / 2 rep pairs
    * at any corpus size and recall degrades gracefully rather than the
    * plan exploding; at oracle SFs every bucket is under the cap
    * (no-op).
    *
    * REP-LEVEL by FINGERPRINT VALUE: identical texts have identical
    * fps, so a copy family enters the band machinery as ONE
    * representative — and so do distinct texts that happen to share an
    * fp (hamming 0 to each other, so expansion is exact for them too).
    * Member pairs come back by group expansion: intra = all same-fp
    * pairs at hamming 0 (emitted iff the rep is retained in >= 1
    * bucket), cross = the rep pair's hamming, fp-constant. Unlike
    * mm_phash_pairs (byte-distinct variants, no collapse — measured
    * and reverted), replica copies here are byte-identical, so the
    * collapse is real: at 300-copy scale the band self-join input
    * shrinks 300x. */
  val dedupSimhash: Q = Q(
    "dedup_simhash",
    (s, dir) => {
      val fp = docs(s, dir)
        .withColumn("words", expr(words("text")))
        .filter(expr("size(words) >= 3"))
        .withColumn("hashes", expr(shingleHashes60("words")))
        .select(col("doc_id"), expr(simhash60("hashes")).as("fp"))
      val fam = Blocking.families(fp, "doc_id", Seq(col("fp")), "fp")
      val bands = Blocking.sample(
        fam.filter(col("doc_id") === col("gid")).select(col("gid"), col("fp"),
          explode(expr(simhashBands("fp"))).as("bk")),
        "gid", "bk")
      val cand = Blocking.selfJoin(bands, "gid", "bk")
        .select(col("a.gid").as("ga"), col("b.gid").as("gb"),
          expr("bit_count(a.fp ^ b.fp)").as("hamming"))
        .filter(col("hamming") <= 8)
        .distinct()
      Blocking.expand(cand, fam, bands.select(col("gid").as("igid")).distinct(),
        "doc_id", ("da", "db"), "hamming" -> lit(0).cast("integer"))
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, ${duckWords("text")} AS words FROM documents
            |), hs AS (
            |  SELECT doc_id, ${duckShingleHashes60(duckShingles3("words"))} AS hashes
            |  FROM w WHERE len(words) >= 3
            |), fp AS (
            |  SELECT doc_id, ${duckSimhash60("hashes")} AS fp FROM hs
            |), fam AS (
            |  ${Blocking.familiesSql("fp", "doc_id", "fp", "fp")}
            |), bands0 AS (
            |  SELECT gid, fp, unnest(${duckSimhashBands("fp")}) AS bk
            |  FROM fam WHERE doc_id = gid
            |), bands AS (
            |  ${Blocking.sampleSql("bands0", "gid", "bk")}
            |), cand AS (
            |  SELECT DISTINCT a.gid AS ga, b.gid AS gb,
            |    bit_count(xor(a.fp, b.fp)) AS hamming
            |  FROM ${Blocking.selfJoinSql("bands", "gid", "bk")}
            |  WHERE bit_count(xor(a.fp, b.fp)) <= 8
            |)
            |${Blocking.expandSql("cand", "fam", "SELECT gid FROM bands", "doc_id",
              ("da", "db"), "hamming" -> "CAST(0 AS INTEGER)")}""".stripMargin))

  /** embedding near-dup: random-hyperplane LSH buckets (4 tables x
    * corpus-scaled bits — [[embBits]] holds expected occupancy at ~64
    * so pair work is LINEAR in N and the cap never truncates an
    * unbounded fraction) generate candidates; exact left-fold cosine
    * >= 0.4 verifies inside buckets. Both the bucket keys and the
    * cosine are bit-identical across engines (the oracle computes the
    * same bit count from the same count(*)), so the oracle reproduces
    * the exact candidate set. The count() driving the bit width is one
    * scalar of driver metadata, same as dedup_blocking_recall's. */
  val dedupEmbedding: Q = Q(
    "dedup_embedding",
    (s, dir) => embeddingFoundPairs(s, dir, None),
    embeddingOracleSql)

  /** The hyperplane near-dup machinery behind [[dedupEmbedding]],
    * parameterized for eval: `anchorMod = Some(S)` restricts the
    * member expansion to pairs whose MIN member id ≡ 0 (mod S) —
    * dedup_blocking_recall's anchor predicate — applied BEFORE the
    * expansion joins (the shipped row's `least()` output hides the
    * member ids from Catalyst, so a post-hoc filter pays full
    * member-pair materialization; round-15's measured 23 → 47 s sf10
    * regression). With `None` this IS the shipped row, bit for bit.
    * Everything up to the rep-pair cosines is identical either way —
    * the anchor path changes only which member pairs are enumerated,
    * never which rep pairs are found, so the recall it measures is
    * exactly the shipped pipeline's. */
  private[graft] def embeddingFoundPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      anchorMod: Option[Long]): DataFrame = {
      // REP-LEVEL by VECTOR VALUE: byte-identical vectors (a crawl's
      // replica copies, and exactly what replica scaling produces) have
      // identical hyperplane keys and pairwise cosine 1.0, so a copy
      // family enters the bucket machinery as ONE representative and
      // member pairs come back by group expansion — intra pairs at cos
      // 1.0 (iff the rep is retained in >= 1 bucket), cross pairs
      // inheriting the rep pair's exact cosine (a pure function of the
      // two vectors). The family key in Spark is a 128-bit pair (the
      // fp60/fp60b collision stance — 16-byte shuffle key, never the
      // vector): xxhash64 of the array plus SALTED xxhash64 of the
      // REVERSED array — two different input byte streams, an
      // independent family rather than a seed tweak of the same stream;
      // the salt keeps the streams distinct even for reversal-symmetric
      // vectors, where reverse(v) == v would otherwise collapse the
      // 128-bit key to a single 64-bit hash. The oracle partitions by
      // the vector itself, so a collision would surface as a hash
      // mismatch at tested SFs. The per-bucket cap counts DISTINCT
      // vectors; the bucket join moves (id, bk) only; cosines are
      // computed once per rep pair.
      val tbl = Tables(s, dir)
      val bits = embBits(tbl.embeddingsCount)
      val fam = Blocking.families(tbl.embeddings, "vec_id",
        Seq(xxhash64(col("embedding")), xxhash64(reverse(col("embedding")), lit(1L))),
        "embedding")
      val m = fam.select(col("vec_id"), col("gid"))
      val reps = fam.filter(col("vec_id") === col("gid"))
        .select(col("gid"), expr(toDouble("embedding")).as("v"))
        .withColumn("n2", expr(dot("v", "v")))
      val bounded = Blocking.sample(
        reps.select(col("gid"), explode(expr(hyperplaneKeysN("v", bits.toString))).as("bk")),
        "gid", "bk")
      val repPairs = Blocking.selfJoin(bounded, "gid", "bk")
        .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
        .distinct()
        .join(reps.select(col("gid").as("ga"), col("v").as("av"), col("n2").as("an2")), "ga")
        .join(reps.select(col("gid").as("gb"), col("v").as("bv"), col("n2").as("bn2")), "gb")
        .withColumn("cos", expr(s"${dot("av", "bv")} / sqrt(an2 * bn2)"))
        .filter(col("cos") >= 0.4)
        .select(col("ga"), col("gb"), round(col("cos"), 6).as("cos_sim"))
      val intraGids = bounded.select(col("gid").as("igid")).distinct()
      anchorMod match {
        case None =>
          Blocking.expand(repPairs, m, intraGids, "vec_id", ("va", "vb"),
            "cos_sim" -> lit(1.0))
        case Some(sMod) =>
          // Eval-only anchored expansion: a pair survives the recall
          // harness's `va % S == 0` iff its MIN member is an anchor, so
          // enumerate only (anchor member) × (member) with anchor <
          // member — the directed expansion with anchors on the left.
          // The anchor member table is ~AnchorCap rows corpus-wide (ids
          // are uniform mod S), so the expansion is bounded by anchors
          // × family size instead of the full member-pair product. The
          // rep pairs and the retained-gid list are materialized first
          // (localCheckpoint — the IVF-PQ recall harnesses' discipline):
          // the pairs are consumed in BOTH orientations (the min can
          // live on either side of a cross pair), and the checkpoints
          // run the band machinery once and keep it out of the
          // expansion plan.
          Blocking.expandDirected(
            Blocking.bothWays(repPairs.localCheckpoint(true), "cos_sim"),
            m.filter(col("vec_id") % sMod === 0L), m,
            intraGids.localCheckpoint(true), "vec_id", ("va", "vb"),
            "cos_sim", lit(1.0))
            .filter(col("va") < col("vb"))
      }
  }

  // lazy: referenced by dedupEmbedding's eager Q construction above
  private lazy val embeddingOracleSql: Option[String] =
    Some(s"""WITH p AS (
            |  SELECT ${duckEmbBitsFrom("count(*)")} AS bits FROM embeddings
            |), e AS (
            |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            |), fam AS (
            |  ${Blocking.familiesSql("e", "vec_id", "v", "v")}
            |), keys AS (
            |  SELECT gid, v, unnest(${duckHyperplaneKeysN("v", "p.bits")}) AS bk
            |  FROM fam CROSS JOIN p WHERE vec_id = gid
            |), bounded AS (
            |  ${Blocking.sampleSql("keys", "gid", "bk")}
            |), rp AS (
            |  SELECT ga, gb, round(cos, 6) AS cos_sim FROM (
            |    SELECT DISTINCT a.gid AS ga, b.gid AS gb,
            |      ${duckCosine("a.v", "b.v")} AS cos
            |    FROM ${Blocking.selfJoinSql("bounded", "gid", "bk")}
            |  ) WHERE cos >= 0.4
            |)
            |${Blocking.expandSql("rp", "fam", "SELECT gid FROM bounded", "vec_id",
              ("va", "vb"), "cos_sim" -> "CAST(1.0 AS DOUBLE)")}""".stripMargin)

  /** Iterative min-label connected components over an edge list
    * (columns a, b). Each round does TWO label moves:
    *
    *  1. propagate — every vertex takes the min of its own and its
    *     neighbors' labels (the Pregel step; alone it needs
    *     O(cluster diameter) rounds, which stalls on chain-shaped
    *     clusters);
    *  2. shortcut — every vertex then jumps to its label's label
    *     (classic Shiloach–Vishkin pointer doubling).
    *
    * The shortcut roughly doubles how far the component min has
    * traveled per round, so convergence is O(log diameter) — on a
    * 256-vertex path: 9 rounds instead of 255 (CurationSpec pins
    * this worst case). The invariant label(u) <= u (labels start as
    * the vertex id and only min-decrease) makes the jump safe, and a
    * combined-step fixpoint implies a propagate fixpoint, so the
    * stop condition is unchanged. All data-sized work is joins and
    * aggregates keyed on id/label; the only driver-side value per
    * round is the scalar changed-count, and localCheckpoint truncates
    * the iterative lineage (established dedup_clusters pattern). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint the edge list BEFORE the symmetric union: both union
    // branches consume it, and an expensive edge generator (the
    // ngram-pair join for dedup_clusters) must run once, not once per
    // branch — physical exchange reuse only dedups up to the last
    // exchange, re-running everything above it
    val e = edges.select(col("a"), col("b")).localCheckpoint(true)
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    e.unpersist(false)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val msgs = sym.join(labels, sym("a") === labels("id"))
        .select(sym("b").as("id"), labels("label"))
      val prop = labels.union(msgs)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true) // consumed twice below (both jump sides)
      // the jump side is prop itself; checkpointing the aliased
      // projection gives it independent attribute ids, so the
      // self-join can't trip Catalyst's self-join/union rewrites
      val jump = prop.select(col("id").as("pid"), col("label").as("plabel"))
        .localCheckpoint(true)
      val next = prop
        .join(jump, col("label") === col("pid"), "left")
        .select(col("id"),
          coalesce(col("plabel"), col("label")).as("label"))
        .localCheckpoint(true)
      // localCheckpoint(true) is eager, so prop/jump are baked into
      // `next` already — release their storage blocks NOW: three
      // checkpoints per round left to GC starve execution memory for
      // every row that runs after this one in a whole-registry pass
      // (the established lingering-block pitfall at 10x data)
      prop.unpersist(false)
      jump.unpersist(false)
      val changed = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") =!= col("o.label")).count()
      labels.unpersist(false) // superseded; `changed` is materialized
      labels = next
      done = changed == 0
      i += 1
    }
    sym.unpersist(false)
    labels
  }

  /** Duplicate CLUSTERS, not just pairs: connected components over the
    * exact-Jaccard duplicate-pair graph, labeling every involved doc
    * with the min doc_id of its transitive cluster — what a training
    * pipeline actually keeps/drops (one representative per cluster).
    * The oracle replays the same closure with a recursive CTE. */
  val dedupClusters: Q = Q(
    "dedup_clusters",
    (s, dir) => {
      // cluster labels distribute over exact-dup groups: the full
      // pair graph is the rep graph with each rep blown up into a
      // clique of its members, and cliques are connected — so the
      // full-graph component of a member IS its rep's component, and
      // the component min over docs IS the min over gids (gid = min
      // of its group). CC therefore runs on the REP graph (distinct
      // texts — the sf-independent small graph) and labels join back:
      // members of an edged rep take the rep's CC label; members of a
      // group with >= 2 eligible copies but no rep edge form their own
      // cluster labeled gid; everything else is in no pair and absent.
      val g = textGroups(s, dir)
      val m = groupMembers(g).select(col("doc_id"), col("gid"), col("gn"))
      val reps = groupReps(g)
      val edges = repPairStats(reps)
        .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= 0.8)
        .select(col("ga").as("a"), col("gb").as("b"))
      val labels = connectedComponents(edges)
        .select(col("id").as("lgid"), col("label"))
      val elig = eligibleGids(reps).withColumn("has3", lit(true))
      m.join(labels, col("gid") === col("lgid"), "left")
        .join(elig, col("gid") === col("egid"), "left")
        .filter(col("label").isNotNull ||
          (col("gn") >= 2 && col("has3").isNotNull))
        .select(col("doc_id"),
          coalesce(col("label"), col("gid")).as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $duckGroupCtes,
            |dup AS (
            |  SELECT ga, gb FROM rpairs
            |  JOIN cnt ca ON ga = ca.doc_id JOIN cnt cb ON gb = cb.doc_id
            |  WHERE inter*1.0 / (ca.n + cb.n - inter) >= 0.8
            |), edges AS (
            |  SELECT ga AS a, gb AS b FROM dup UNION SELECT gb AS a, ga AS b FROM dup
            |), reach(a, b) AS (
            |  SELECT a, b FROM (SELECT a, b FROM edges UNION SELECT a, a AS b FROM edges)
            |  UNION
            |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            |), replab AS (
            |  SELECT a AS lgid, min(b) AS label FROM reach GROUP BY a
            |)
            |SELECT m.doc_id AS doc_id, coalesce(r.label, m.gid) AS cluster_id
            |FROM m LEFT JOIN replab r ON m.gid = r.lgid
            |LEFT JOIN elig e ON m.gid = e.egid
            |WHERE r.label IS NOT NULL OR (m.gn >= 2 AND e.egid IS NOT NULL)
            |ORDER BY doc_id""".stripMargin))

  /** MinHash estimator quality audit: for every true near-dup pair
    * (word-3-gram Jaccard >= 0.8), how far is the signature's
    * lane-agreement estimate from the exact Jaccard? The eval harness
    * that justifies trusting MinHash/LSH at scale — all arithmetic is
    * integer (agreeing lanes out of 64, floor-div percents), so no
    * float boundary exists. Candidates come from the same bounded
    * shingle-block join as dedup_ngram_jaccard; signatures are
    * re-attached to the (few) pairs only. */
  val dedupMinhashQuality: Q = Q(
    "dedup_minhash_quality",
    (s, dir) => {
      // rep form (see shinglePairs): identical texts have identical
      // shingle sets AND identical signatures, so every member pair's
      // (true_pct, est_pct, err_pct) equals its rep pair's — and an
      // intra-group pair is (100, 100, 0) by definition. Signatures
      // are computed on DISTINCT texts only, which is also how a
      // production pipeline materializes them.
      val g = textGroups(s, dir)
      val reps = groupReps(g)
      val pairs = repPairStats(reps)
        .withColumn("true_pct", expr("inter * 100 div (na + nb - inter)"))
        .filter(col("true_pct") >= 80)
        .select("ga", "gb", "true_pct")
      val sig = Blocking.minhashSigs(reps, col("doc_id"))
      val repRows = pairs
        .join(sig.select(col("doc_id"), col("sig").as("siga")), col("ga") === col("doc_id"))
        .drop("doc_id")
        .join(sig.select(col("doc_id"), col("sig").as("sigb")), col("gb") === col("doc_id"))
        .withColumn("agree_lanes", expr(
          "aggregate(zip_with(siga, sigb, (x, y) -> CASE WHEN x = y THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("ga"), col("gb"), col("true_pct"),
          expr("agree_lanes * 100 div 64").as("est_pct"),
          expr("abs(agree_lanes * 100 div 64 - true_pct)").as("err_pct"))
      Blocking.expand(repRows, groupMembers(g), eligibleGids(reps), "doc_id",
        ("da", "db"), "true_pct" -> lit(100L), "est_pct" -> lit(100L),
        "err_pct" -> lit(0L))
        .orderBy("da", "db")
    },
    Some(s"""WITH $duckGroupCtes,
            |tp AS (
            |  SELECT ga, gb, inter * 100 // (ca.n + cb.n - inter) AS true_pct
            |  FROM rpairs
            |  JOIN cnt ca ON ga = ca.doc_id
            |  JOIN cnt cb ON gb = cb.doc_id
            |  WHERE inter * 100 // (ca.n + cb.n - inter) >= 80
            |), sig AS (
            |  ${Blocking.minhashSigSql("w", "doc_id")}
            |), est AS (
            |  SELECT ga, gb, true_pct,
            |    CAST(list_sum(list_transform(range(1, 65),
            |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS agree_lanes
            |  FROM tp
            |  JOIN sig sa ON ga = sa.doc_id
            |  JOIN sig sb ON gb = sb.doc_id
            |), reprows AS (
            |  SELECT ga, gb, true_pct,
            |    agree_lanes * 100 // 64 AS est_pct,
            |    abs(agree_lanes * 100 // 64 - true_pct) AS err_pct
            |  FROM est
            |)
            |${Blocking.expandSql("reprows", "m", "SELECT egid FROM elig", "doc_id",
              ("da", "db"), "true_pct" -> "CAST(100 AS BIGINT)",
              "est_pct" -> "CAST(100 AS BIGINT)", "err_pct" -> "CAST(0 AS BIGINT)")}
            |ORDER BY da, db""".stripMargin))

  val all: Seq[Q] = Seq(dedupExact, dedupExactNorm, dedupNgramJaccard,
    dedupContainment, dedupSpans, dedupSpansCut, dedupMinhash,
    dedupMinhashLsh, dedupSimhash, dedupEmbedding, dedupClusters,
    dedupMinhashQuality)
}
