package graft

import graft.operators.{Blocking, Bpe, Dedup, TextOps}
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the dedup + text suites at sf0.001 (the DuckDB
  * hash-compare in tools/check.py is the full oracle; these specs pin
  * the semantic invariants that survive data regeneration). */
class DedupTextSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("dedup_exact keeps one representative per distinct text") {
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val d = Dedup.dedupExact.run(spark, dir)
    assert(d.agg(org.apache.spark.sql.functions.sum("n_copies")).head.getLong(0) == n)
  }

  test("ngram jaccard pairs are ordered, thresholded, and symmetric-free") {
    val rows = Dedup.dedupNgramJaccard.run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("minhash digests are scalar and est-jaccard tracks true jaccard on lsh pairs") {
    val sig = Dedup.dedupMinhash.run(spark, dir).head
    // scalar digests (not arrays — the driver's comparator can't hash
    // array cells), with both digests inside their moduli and the lane
    // extrema inside the permutation modulus
    assert(sig.getLong(1) >= 0 && sig.getLong(1) < 2147483647L)
    assert(sig.getLong(2) >= 0 && sig.getLong(2) < graft.functions.Portable.P1)
    assert(sig.getLong(3) <= sig.getLong(4))
    val lsh = Dedup.dedupMinhashLsh.run(spark, dir).collect()
    assert(lsh.nonEmpty)
    lsh.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // true near-dup pairs (jaccard ~0.99 in the synthetic corpus) must surface
    assert(lsh.count(_.getDouble(2) > 0.9) > 0)
  }

  test("simhash near-dup pairs are within the hamming threshold") {
    val rows = Dedup.dedupSimhash.run(spark, dir).limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(2) <= 8))
  }

  test("embedding near-dup pairs pass the exact cosine threshold") {
    val rows = Dedup.dedupEmbedding.run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0))
  }

  // The pair rows run rep-level (exact-dedup-first via Blocking: one
  // representative per copy family through the blocking join, members
  // restored by expansion), and the simhash/embedding oracles moved to
  // the same rep-level algorithm — a weaker independence guarantee than
  // a doc-level oracle. The driver's test corpora hold 500 distinct
  // texts, so no oracle run ever builds a family of more than one
  // member. This spec restores the strength: on a corpus of copy
  // families of 1, 2 and 5 byte-identical members (texts and vectors),
  // with every cap a no-op, each row must equal its ORIGINAL direct
  // doc-level definition, computed here independently (per-DOC block
  // keys, plain self-joins, no family machinery).

  /** sf0.001's documents and embeddings replicated into copy families
    * of 1, 2 and 5 members (by id mod 3), ids id * 8 + copy — so
    * families straddle the contamination split (doc_id % 20). */
  private lazy val famDir: String = {
    import org.apache.spark.sql.functions._
    val out = tempDir("copy_families")
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))
      spark.read.parquet(s"$dir/$t.parquet")
        .withColumn("copy", explode(expr(
          s"sequence(0, CASE $id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 4 END)")))
        .withColumn(id, col(id) * 8 + col("copy")).drop("copy")
        .write.parquet(s"$out/$t.parquet")
    out
  }

  /** Each pair row's ORIGINAL direct doc-level definition over
    * [[famDir]], after the asserts that every cap is a no-op there. */
  private lazy val direct: Map[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.functions.{Portable => P}
    graft.functions.Native.install(spark)
    def maxBlock(df: DataFrame, key: String): Long =
      df.groupBy(key).count().agg(max("count")).head.getLong(0)
    val docs = spark.read.parquet(s"$famDir/documents.parquet")
      .withColumn("words", expr(P.words("text")))
      .filter(expr("size(words) >= 3"))
    // shingle sets, their sizes and shared-shingle counts per doc pair
    val sh = docs.select(col("doc_id"),
      explode(expr(s"array_distinct(${P.shingleHashes60("words")})")).as("sh"))
    assert(maxBlock(sh, "sh") <= Blocking.MaxShingleBlock,
      "a shingle block exceeds its cap — the equivalence premise fails")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(n.select(col("doc_id").as("db"), col("n").as("nb")), "db")
    def scored(score: Column, atLeast: Double): DataFrame = inter
      .filter(score >= atLeast).select(col("da"), col("db"), round(score, 6))
    // MinHash signatures and LSH bands
    val sig = docs.select(col("doc_id"),
      expr(P.minhashSig(P.shingleHashes("words"))).as("sig"))
    val mhBands = sig.select(col("doc_id"), col("sig"),
      explode(expr(P.minhashBands("sig"))).as("bk"))
    assert(maxBlock(mhBands, "bk") <= Blocking.MaxBucket,
      "a MinHash bucket exceeds its cap — the equivalence premise fails")
    def bandPairs(cond: Column, atLeast: Double): DataFrame = mhBands.as("a")
      .join(mhBands.as("b"), col("a.bk") === col("b.bk") && cond)
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        expr(P.minhashEstJaccard("a.sig", "b.sig")).as("est"))
      .distinct()
      .filter(col("est") >= atLeast)
      .select(col("x"), col("y"), round(col("est"), 6))
    // SimHash fingerprints and bands
    val shBands = docs.select(col("doc_id"),
        expr(P.simhash60(P.shingleHashes60("words"))).as("fp"))
      .select(col("doc_id"), col("fp"), explode(expr(P.simhashBands("fp"))).as("bk"))
    assert(maxBlock(shBands, "bk") <= Blocking.MaxEmbBucket,
      "a SimHash bucket exceeds the cap — the equivalence premise fails")
    // hyperplane keys
    val tbl = graft.sources.Tables(spark, famDir)
    val keys = tbl.embeddings
      .select(col("vec_id"), expr(P.toDouble("embedding")).as("v"))
      .withColumn("n2", expr(P.dot("v", "v")))
      .select(col("vec_id"), col("v"), col("n2"),
        explode(expr(P.hyperplaneKeysN("v", Dedup.embBits(tbl.embeddingsCount).toString)))
          .as("bk"))
    assert(maxBlock(keys, "bk") <= Blocking.MaxEmbBucket,
      "a hyperplane bucket exceeds the cap — the equivalence premise fails")
    val (corpus, bench) = (col("a.doc_id") % 20 =!= 0, col("b.doc_id") % 20 === 0)

    Map(
      "dedup_ngram_jaccard" ->
        scored(col("inter") / (col("na") + col("nb") - col("inter")), 0.8),
      "dedup_containment" ->
        scored(col("inter") / least(col("na"), col("nb")), 0.9),
      "dedup_minhash_lsh" -> bandPairs(col("a.doc_id") < col("b.doc_id"), 0.0),
      "dedup_minhash_quality" -> inter
        .withColumn("true_pct", expr("inter * 100 div (na + nb - inter)"))
        .filter(col("true_pct") >= 80)
        .join(sig.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
        .join(sig.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
        .withColumn("agree", expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), e -> e))"))
        .select(col("da"), col("db"), col("true_pct"),
          expr("agree * 100 div 64"), expr("abs(agree * 100 div 64 - true_pct)")),
      "dedup_simhash" -> shBands.as("a")
        .join(shBands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"), expr("bit_count(a.fp ^ b.fp)").as("h"))
        .filter(col("h") <= 8)
        .distinct(),
      "dedup_embedding" -> keys.as("a")
        .join(keys.as("b"), col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"),
          expr(s"${P.dot("a.v", "b.v")} / sqrt(a.n2 * b.n2)").as("cos"))
        .distinct()
        .filter(col("cos") >= 0.4)
        .select(col("a.vec_id"), col("b.vec_id"), round(col("cos"), 6)),
      "text_contamination" -> sh.as("a")
        .join(sh.as("b"), col("a.sh") === col("b.sh") && corpus && bench)
        .groupBy(col("a.doc_id"), col("b.doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5),
      "contam_fuzzy" -> bandPairs(corpus && bench, 0.5))
  }

  for (row <- Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_minhash_lsh",
      "dedup_minhash_quality", "dedup_simhash", "dedup_embedding",
      "text_contamination", "contam_fuzzy"))
    test(s"$row rep-level ≡ direct doc-level at a cap-free SF") {
      val want = direct(row)
      val got = SparkEntry.queries(row)(spark, famDir)
      assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
        s"$row: rep-level output differs from the direct doc-level definition")
      // the corpus must exercise the expansion: a pair inside a family
      val sameFamily = got.filter(org.apache.spark.sql.functions.expr(
        s"${got.columns(0)} div 8 = ${got.columns(1)} div 8"))
      assert(sameFamily.count() > 0, s"$row: no intra-family pair — the test is vacuous")
    }

  test("anchored expansion (S>1) ≡ full expansion filtered on anchors") {
    // The recall harness runs embeddingFoundPairs(Some(S)) with S>1 at
    // sf10+, but the oracle SFs have <= AnchorCap vectors so S=1 there
    // and the anchored branch reduces to the full expansion. Pin the
    // S>1 regime directly: the anchored pair set must be EXACTLY the
    // full expansion's pairs whose min member is an anchor — the
    // invariant the published recall numbers rest on. Multiset
    // equality (sorted collect, not Set): a duplicated pair would
    // inflate the harness's left-join count even if the set matched.
    import org.apache.spark.sql.functions._
    graft.functions.Native.install(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val full = rows(Dedup.embeddingFoundPairs(spark, dir, None)
      .filter(col("va") % 2 === 0))
    val anchored = rows(Dedup.embeddingFoundPairs(spark, dir, Some(2L)))
    assert(anchored == full,
      "anchored (S=2) expansion differs from the full expansion " +
        "filtered on va % 2 == 0")
    assert(anchored.nonEmpty, "equivalence is vacuous — no anchored pairs")
  }

  test("text metrics are well-formed") {
    val q = TextOps.textQuality.run(spark, dir).collect()
    q.foreach { r =>
      val (punct, stop, div) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(punct >= 0 && punct <= 1 && stop >= 0 && stop <= 1 && div >= 0 && div <= 1)
    }
    val langs = TextOps.textLangid.run(spark, dir)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "und")))
  }

  test("text_line_dedup: boilerplate set broadcasts into a left-anti join; counts cohere") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = TextOps.textLineDedup.run(spark, dir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, d) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k >= 0 && k <= n, s"kept must be within [0, n_segs]: $r")
      assert(k > 0 || d == 0L, s"empty keep-set must digest to 0: $r")
    }
    // boilerplate exists in the corpus, and removal is not total
    assert(rows.exists(r => r.getLong(2) < r.getLong(1)))
    assert(rows.exists(r => r.getLong(2) > 0))
  }

  test("containment dominates jaccard on shared pairs and is a valid score") {
    val cont = Dedup.dedupContainment.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.nonEmpty)
    cont.foreach { case ((da, db), c) =>
      assert(da < db)
      assert(c >= 0.9 - 1e-9 && c <= 1.0 + 1e-9)
    }
    // inter/min >= inter/union always, so any pair both measures emit
    // must score at least its jaccard under containment
    val jac = Dedup.dedupNgramJaccard.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    jac.foreach { case (pair, j) =>
      cont.get(pair).foreach(c => assert(c >= j - 1e-9, s"$pair: $c < $j"))
    }
  }

  test("bpe_pair_counts matches an independent driver-side recompute") {
    // whole-corpus recompute in plain Scala at spec SF — the same
    // normalize/split/pair semantics, written the obvious sequential
    // way, so a divergence in either engine's plan is caught here
    // before the oracle round
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach { t =>
      val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
      norm.split(" ").filter(w => w.nonEmpty && w.length >= 2).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
    }
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(32)
      .zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
    val got = TextOps.bpePairCounts.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected, s"got:\n${got.take(5)}\nexpected:\n${expected.take(5)}")
  }

  test("dedup_spans matches an independent driver-side recompute") {
    // whole-corpus recompute in plain Scala: 8-word windows joined by a
    // single space, fp60-hashed, census'd across the corpus; a window
    // is duplicated iff its fingerprint occurs >1 time anywhere
    // (another doc OR again in the same doc)
    import graft.functions.Portable.{P1, P2, TWO30}
    def fp60(s: String): Long = {
      var h1 = 0L; var h2 = 0L; var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        h1 = (h1 * 31 + cp) % P1
        h2 = (h2 * 37 + cp) % P2
        j += Character.charCount(cp)
      }
      h1 * TWO30 + h2
    }
    val winsPerDoc = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(' ').filter(_.nonEmpty)
          .sliding(8).filter(_.length == 8)
          .map(w => fp60(w.mkString(" "))).toVector)
      .filter(_._2.nonEmpty).toMap
    val totals = winsPerDoc.values.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val expected = winsPerDoc.map { case (id, ws) =>
      id -> ((ws.size.toLong, ws.count(w => totals(w) > 1).toLong))
    }
    val got = operators.Dedup.dedupSpans.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // the corpus's replica families must surface as duplicated spans,
    // and dup_frac must be a valid fraction of n_windows
    assert(expected.values.exists(_._2 > 0))
    expected.foreach { case (_, (nw, dw)) => assert(dw <= nw) }
  }

  test("text_lm_score matches an independent driver-side recompute") {
    // same semantics written the obvious sequential way: bigram/unigram
    // counts, top-4096 caps with (-count, key) tie-break, scaled
    // integer conditional-probability with unigram backoff
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def toWords(t: String): Array[String] =
      t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").filter(_.nonEmpty)
    val docWords = rows.map { case (id, t) => id -> toWords(t) }
    val uni = new scala.collection.mutable.HashMap[String, Long]()
    val big = new scala.collection.mutable.HashMap[(String, String), Long]()
    docWords.foreach { case (_, ws) =>
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1L)
      ws.sliding(2).foreach {
        case Array(a, b) => big((a, b)) = big.getOrElse((a, b), 0L) + 1L
        case _ => ()
      }
    }
    val t = uni.values.sum
    val topUni = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(4096).toMap
    val model = big.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(4096)
      .map { case ((a, b), c12) => (a, b) -> (c12, uni(a)) }.toMap
    val expected = docWords.map { case (id, ws) =>
      val pairScores = ws.sliding(2).collect { case Array(a, b) =>
        model.get((a, b)) match {
          case Some((c12, c1)) => 1000000L * c12 / c1
          case None => topUni.get(b).map(c2 => 1000000L * c2 / t).getOrElse(0L)
        }
      }.toSeq
      val n = pairScores.size.toLong
      (id, n, if (n == 0) 0L else pairScores.sum / n)
    }.sortBy(_._1).toSeq
    val got = TextOps.textLmScore.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == expected,
      s"got:\n${got.take(5)}\nexpected:\n${expected.take(5)}")
    // scores discriminate: a corpus of distinct docs shouldn't collapse
    // to one value
    assert(got.map(_._3).distinct.size > 1)
  }

  test("text_tfidf: dense top-3 ranks per doc, score arithmetic matches a driver-side recompute") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextOps.textTfidf.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per doc: ranks dense 1..k (k <= 3), scores non-increasing with
    // rank, word strictly increasing within a tied score
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length),
        "ranks must be dense from 1")
      assert(byRank.length <= 3)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getLong(5), b.getLong(5))
          assert(sa > sb || (sa == sb && a.getString(2) < b.getString(2)),
            s"order violated: $a then $b")
        case _ => ()
      }
    }
    // score = tf * N div df, recomputed independently from the corpus
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val tf = docs.select(col("doc_id"), explode(expr(
        graft.functions.Portable.words(graft.functions.Portable.normText("text"))))
        .as("word"))
      .groupBy("doc_id", "word").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val (d, w) = (r.getLong(0), r.getString(2))
      assert(r.getLong(3) == tf((d, w)), s"tf mismatch for ($d, $w)")
      assert(r.getLong(4) == df(w), s"df mismatch for $w")
      assert(r.getLong(5) == r.getLong(3) * n / r.getLong(4), "score arithmetic")
    }
  }

  // The BPE scalar replay: the engines' procedure written the obvious
  // sequential way (same word stream, same consumed-separator merge,
  // same tie-break), shared by the bpe row checks below.

  /** (doc_id, symbols) of every normalized word of >= 2 chars in `dir`. */
  private def replayWords(dir: String): Seq[(Long, Vector[String])] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(expr(
        "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), w -> w <> '')")).as("w"))
      .filter(length(col("w")) >= 2)
      .collect().map(r => r.getLong(0) ->
        r.getString(1).codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp))))
      .toSeq
  }

  /** Every adjacent symbol pair's count over the words `ws`. */
  private def replayCounts(ws: Seq[Vector[String]]): Map[(String, String), Long] =
    ws.flatMap(_.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** The top pair: count desc, then the sep-joined pair string (the
    * engines tie-break on it). */
  private def replayTop(counts: Map[(String, String), Long]): (String, String) =
    counts.keys.minBy { case (a, b) => (-counts((a, b)), a + Bpe.Sep + b) }

  /** `w` with the pair (pa, pb) merged. The engines' rewrite is a
    * SEPARATOR-STRING replace: a match consumes its trailing U+001F,
    * which is the next occurrence's leading U+001F — so after a merge
    * the immediately following pair cannot match, whether it repeats
    * the same symbols ([a,a,a,a,a] -> [aa,a,aa]) or is an adjacent
    * distinct repeat ([e,r,e,r] -> [er,e,r]). The sepOk flag replays
    * exactly that. */
  private def replayMerge(w: Vector[String], pa: String, pb: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var sepOk = true
    while (i < w.length) {
      if (sepOk && i + 1 < w.length && w(i) == pa && w(i + 1) == pb) {
        out += (pa + pb); i += 2; sepOk = false
      } else { out += w(i); i += 1; sepOk = true }
    }
    out.result()
  }

  /** An encode row's per-doc (n_words, n_tokens, n_chars). */
  private def docStats(q: Q, dir: String): Map[Long, (Long, Long, Long)] =
    q.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** `got` has one row per document of `dir`, each equal to the stats
    * of its encoded words in `ws` (0s for a document with none). */
  private def assertDocStats(got: Map[Long, (Long, Long, Long)],
      ws: Seq[(Long, Vector[String])], dir: String): Unit = {
    val expected = ws.groupBy(_._1).map { case (d, xs) =>
      d -> ((xs.size.toLong,
        xs.map(_._2.size.toLong).sum,
        xs.map(_._2.map(_.length).sum.toLong).sum))
    }
    val allDocs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet == allDocs.toSet, "exactly one output row per document")
    allDocs.foreach { d =>
      assert(got(d) == expected.getOrElse(d, (0L, 0L, 0L)), s"doc $d stats mismatch")
    }
  }

  test("bpe_train_merges: full-loop scalar recompute; vocab grows by at most 1 symbol per round") {
    val got = TextOps.bpeTrainMerges.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == (1L to 8L), "one merge per round, ranked 1..R")
    assert(got.forall(_._3 > 0))
    // the max pair frequency is non-increasing across merges: a pair
    // born of round r's merge occurs at most cnt_r times
    assert(got.map(_._3).sliding(2).forall { case Seq(x, y) => y <= x })

    // replicate the whole training loop in plain Scala
    var ws = replayWords(sfDir).map(_._2)
    val expected = Seq.newBuilder[(Long, String, Long)]
    var vocab = ws.flatten.toSet
    for (r <- 1 to 8) {
      val counts = replayCounts(ws)
      // pair domain is bounded by the CURRENT vocab squared, and the
      // vocab grows by at most one merged symbol per round
      assert(counts.size <= vocab.size.toLong * vocab.size,
        s"round $r pair domain ${counts.size} exceeds |vocab|^2")
      val (pa, pb) = replayTop(counts)
      expected += ((r.toLong, s"$pa $pb", counts((pa, pb))))
      vocab = vocab + (pa + pb)
      ws = ws.map(replayMerge(_, pa, pb))
      assert(ws.flatten.toSet.subsetOf(vocab),
        s"round $r produced a symbol outside alphabet+learned merges")
    }
    assert(got == expected.result(),
      "registry row must equal the scalar recompute of the training loop")
  }

  test("bpe_encode: per-doc token stats match a scalar replay of train-then-apply") {
    val got = docStats(TextOps.bpeEncode, sfDir)
    // the same scalar loop as the training spec, with doc_id carried
    var ws = replayWords(sfDir)
    for (_ <- 1 to 8) {
      val (pa, pb) = replayTop(replayCounts(ws.map(_._2)))
      ws = ws.map { case (d, w) => d -> replayMerge(w, pa, pb) }
    }
    assertDocStats(got, ws, sfDir)
    // the learned merges actually compress: corpus-wide tokens < chars
    assert(got.values.map(_._2).sum < got.values.map(_._3).sum,
      "8 merges must leave strictly fewer tokens than characters")
  }

  test("bpe training stops at the first round with no pair; encode applies only the learned merges") {
    // 'ab ab cd' runs out of pairs after 2 merges; 'x' has no word of
    // >= 2 chars, so its document encodes to zeros
    import spark.implicits._
    val tiny = tempDir("bpe-short")
    Seq((1L, "ab ab cd"), (2L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$tiny/documents.parquet")
    val merges = TextOps.bpeTrainMerges.run(spark, tiny).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(merges == Seq((1L, "a b", 2L), (2L, "c d", 1L)))
    assert(docStats(TextOps.bpeEncode, tiny) == Map(1L -> ((3L, 3L, 6L)), 2L -> ((0L, 0L, 0L))))
  }

  test("BpeStoredMerges is the table bpe_train_merges learns at sf0.01") {
    val got = TextOps.bpeTrainMerges.run(spark, "/root/testdata/sf0.01")
      .collect().map(_.getString(1)).toSeq
    assert(got == TextOps.BpeStoredMerges.map { case (a, b) => s"$a $b" })
  }

  test("bpe merge replace: an adjacent distinct repeat merges once (consumed-separator semantics)") {
    // 'erer' with merge (e,r) must tokenize [er, e, r] — the replaced
    // occurrence's trailing U+001F was the next occurrence's leading
    // U+001F — proven against the LIVE engine pieces (Bpe.symbols,
    // Bpe.merge), not just documented. Guards the latent
    // data-dependent divergence a corpus regeneration could expose.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val toks = Seq("erer").toDF("w")
      .select(Bpe.merge(Bpe.symbols(col("w")), "e" + Bpe.Sep + "r").as("e"))
      .selectExpr("filter(split(e, chr(31)), x -> x <> '') AS toks")
      .collect()(0).getSeq[String](0)
    assert(toks == Seq("er", "e", "r"),
      s"engine merged the overlapping second occurrence: $toks")
  }

  test("bpe_encode_stored: per-doc stats equal a scalar replay of the committed table") {
    val got = docStats(TextOps.bpeEncodeStored, sfDir)
    // the committed table applied in rank order, consumed-separator
    // replay (no training rounds anywhere — that is the row's point)
    val ws = TextOps.BpeStoredMerges.foldLeft(replayWords(sfDir)) { case (ws, (pa, pb)) =>
      ws.map { case (d, w) => d -> replayMerge(w, pa, pb) }
    }
    assertDocStats(got, ws, sfDir)
    // the stored vocabulary still compresses this corpus
    assert(got.values.map(_._2).sum < got.values.map(_._3).sum,
      "stored merges must leave strictly fewer tokens than characters")
  }

  test("vec_project: exact integer JL projection, verified against a scalar recompute") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Ann.vecProject.run(spark, sfDir).collect()
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.length == nVecs, "one projected row per vector")
    // recompute the projection for every vector from the int8 codes
    // with plain Scala arithmetic — same LCG signs, same fold
    val codes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(graft_int8_codes(transform(embedding, x -> CAST(x AS DOUBLE))).codes, x -> CAST(x AS BIGINT)) AS c")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    // high bit of two chained LCG rounds — must match JlProject16
    def sign(i: Int): Long = {
      val x1 = (1103515245L * i + 12345L) % 2147483648L
      1L - 2L * (((1103515245L * x1 + 12345L) % 2147483648L) / 1073741824L)
    }
    // the sign matrix must actually mix j and k: the original low-bit
    // LCG derivation collapsed it to rank 1 (sign depended on the
    // parity of k alone — every output coordinate ±the same column
    // sum, no pairwise geometry preserved). Pin full rank via distinct
    // canonical columns and per-column sign balance.
    val cols = (0 until 16).map(k => (0 until 64).map(j => sign(j * 16 + k)))
    val canonical = cols.map(c => if (c.head == 1L) c else c.map(-_)).distinct
    assert(canonical.size == 16, s"sign columns collinear: ${canonical.size} distinct")
    cols.foreach { c =>
      val plus = c.count(_ == 1L)
      assert(plus >= 16 && plus <= 48, s"sign column unbalanced: $plus/64 positive")
    }
    rows.foreach { r =>
      val c = codes(r.getLong(0))
      val y = (0 until 16).map(k =>
        (0 until 64).map(j => c(j) * sign(j * 16 + k)).sum)
      val digest = y.foldLeft(0L)((acc, v) => (acc * 1000003L + (v + 8192L)) % 2147483647L)
      assert(r.getLong(1) == digest, s"digest mismatch for vec ${r.getLong(0)}")
      assert(r.getLong(2) == y.map(math.abs).sum, "l1 mismatch")
      assert(r.getLong(3) == y.head, "first coordinate mismatch")
    }
  }
}
