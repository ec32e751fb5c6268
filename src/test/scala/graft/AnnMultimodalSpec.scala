package graft

import graft.operators.{Ann, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the ANN tiers and the multimodal plumbing
  * (the DuckDB hash compare proves value-identity with the SQL spec;
  * these pin the relationships BETWEEN operators). */
class AnnMultimodalSpec extends AnyFunSuite with SparkSpec {

  test("ann tiers agree: brute force is the ceiling for lsh/ivf") {
    def top1(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.filter(_.getInt(2) == 1)
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val brute = top1(Ann.annBruteforce.run(spark, sfDir).collect())
    val lsh = top1(Ann.annLsh.run(spark, sfDir).collect())
    assert(brute.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // an approximate tier can miss the true top-1 but can never beat it
    lsh.foreach { case (probe, cos) => assert(cos <= brute(probe) + 1e-12) }
    val ivf = Ann.annIvf.run(spark, sfDir).collect()
    ivf.foreach(r => assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12))
  }

  test("ann ranks are dense and within k per probe") {
    val rows = Ann.annBruteforce.run(spark, sfDir).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 10)
      // ranked by descending similarity
      val sorted = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("mm metadata agrees with the documents table") {
    val docs = graft.sources.Tables(spark, sfDir).documents
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ASCII corpus: byte length == char length
    Multimodal.mmBinaryMeta.run(spark, sfDir).collect().foreach { r =>
      assert(r.getInt(1) == docs(r.getLong(0)))
      assert(r.getString(2).length == 64) // sha-256 hex
    }
    // frame count = floor((len-32)/16)+1 for docs long enough
    val frames = Multimodal.mmFrameSample.run(spark, sfDir)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    frames.foreach { case (id, n) =>
      assert(n == (docs(id) - 32) / 16 + 1)
    }
  }

  test("mm feature extraction: REAL PNG encode->decode loop matches the seed arithmetic") {
    val feats = Multimodal.mmFeatureExtract.run(spark, sfDir)
      .filter("doc_id < 5").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, row) =>
      // driver-side recompute straight from the pixel seed — the query
      // value went through ImageIO encode -> PNG bytes -> ImageIO
      // decode, so equality proves the codec loop is pixel-lossless
      var digest = 0L
      var sums = Array(0L, 0L, 0L)
      (0 until 192).foreach { i =>
        val v = Multimodal.pixelValue(id, i.toLong)
        digest = (digest * 31 + v) % graft.functions.Portable.P1
        sums(i % 3) += v
      }
      assert(row.getInt(1) == 8 && row.getInt(2) == 8)
      assert(row.getLong(3) == digest)
      assert((row.getLong(4), row.getLong(5), row.getLong(6)) ==
        (sums(0) / 64, sums(1) / 64, sums(2) / 64))
    }
  }

  test("mm resize: decode + 2x2 box-filter downsample matches the seed arithmetic") {
    val feats = Multimodal.mmResize.run(spark, sfDir)
      .filter("doc_id < 5").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, row) =>
      // independent pooled recompute straight from the pixel seed:
      // out-channel value = floor-mean of the 2x2 source block
      def src(p: Int, c: Int): Long =
        Multimodal.pixelValue(id, 3L * p + c).toLong
      var digest = 0L
      val sums = Array(0L, 0L, 0L)
      (0 until 16).foreach { p =>
        val (ox, oy) = (p % 4, p / 4)
        (0 until 3).foreach { c =>
          val v = (src((oy * 2) * 8 + ox * 2, c) +
            src((oy * 2) * 8 + ox * 2 + 1, c) +
            src((oy * 2 + 1) * 8 + ox * 2, c) +
            src((oy * 2 + 1) * 8 + ox * 2 + 1, c)) / 4
          digest = (digest * 31 + v) % graft.functions.Portable.P1
          sums(c) += v
        }
      }
      assert(row.getInt(1) == 4 && row.getInt(2) == 4)
      assert(row.getLong(3) == digest)
      assert((row.getLong(4), row.getLong(5), row.getLong(6)) ==
        (sums(0) / 16, sums(1) / 16, sums(2) / 16))
    }
    // corrupt payloads fail loud here too
    intercept[IllegalArgumentException] {
      Multimodal.resizeBatch(Seq(7L -> Array[Byte](1, 2, 3)))
    }
  }

  test("mm feature extraction: payloads are genuine PNG streams; corrupt payloads fail loud") {
    val png = Multimodal.encodePng(42L)
    // PNG signature: 89 50 4E 47 0D 0A 1A 0A
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    // a truncated/garbage payload must throw, not yield zeroed features
    intercept[IllegalArgumentException] {
      Multimodal.decodeBatch(Seq(7L -> Array[Byte](1, 2, 3)))
    }
  }

  test("mm phash: brightness variants are byte-distinct yet collapse to one perceptual hash") {
    // payload-class contract the oracle's surrogate count rests on:
    // bytes are a pure function of doc_id % 2048 ...
    assert(Multimodal.encodePngPh(5L).sameElements(
      Multimodal.encodePngPh(5L + 2048L)))
    // ... and distinct brightness variants within a family are
    // byte-DISTINCT (content-addressed dedup keeps them all)
    assert(!Multimodal.encodePngPh(5L).sameElements(
      Multimodal.encodePngPh(5L + 64L)))
    // dHash is invariant under the uniform brightness shift: all 32
    // variants of a family produce ONE hash (through the real codec)
    val fam = (0 until 32).map(o => 5L + 64L * o)
    val ph = Multimodal.phashBatch(fam.map(id => id -> Multimodal.encodePngPh(id)))
    assert(ph.map(_.phash).distinct.size == 1)
    // the 64 families land on 64 distinct hashes (census is non-trivial)
    val fams = Multimodal.phashBatch(
      (0L until 64L).map(f => f -> Multimodal.encodePngPh(f)))
    assert(fams.map(_.phash).distinct.size == 64)
    // and the registry row sees it: every census group absorbs at
    // least as many images as distinct payloads, with some group
    // genuinely collapsing byte-distinct near-duplicates
    val rows = Multimodal.mmPhash.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(3)))
    assert(rows.exists(_.getLong(3) > 1))
  }

  test("mm phash pairs: banded blocking is exactly-recalling at hamming <= 3, verified vs brute force") {
    // family count is corpus-scaled (constant near-dup density)
    val nf = Multimodal.pairFamilies(
      graft.sources.Tables(spark, sfDir).documentsCount)
    // payload contract: a bumped variant lands at small NONZERO
    // hamming from its family base; a bump-free variant at zero
    def ph(id: Long): Long =
      Multimodal.phashBatch(Seq(id -> Multimodal.encodePngPair(id, nf))).head.phash
    // v=1 bumps ONE pixel: hamming to the v=0 base is <= 2 for every
    // family (a bump touches at most two adjacent comparisons), and
    // nonzero for SOME family (a bump may leave both comparisons'
    // outcomes unchanged, so no single family is guaranteed to move)
    val d1 = (0L until 64L).map(f => java.lang.Long.bitCount(ph(f + nf) ^ ph(f)))
    assert(d1.forall(_ <= 2) && d1.exists(_ > 0))
    assert(ph(5L + 3 * nf) == ph(5L))    // v=3: v%3==0, no bumps
    assert(!Multimodal.encodePngPair(5L + 3 * nf, nf).sameElements(
      Multimodal.encodePngPair(5L, nf))) // ...but byte-distinct (brightness)
    // brute-force ground truth over the whole sf0.001 corpus
    val ids = graft.sources.Tables(spark, sfDir).documents
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val hashes = ids.map(id => id -> ph(id)).toMap
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      h = java.lang.Long.bitCount(hashes(ids(i)) ^ hashes(ids(j)))
      if h <= 6
    } yield (ids(i), ids(j), h.toLong)).toSet
    val got = Multimodal.mmPhashPairs.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    // every reported pair is a TRUE hamming<=6 pair...
    assert(got.subsetOf(brute))
    // ...and blocking recall is EXACT for hamming <= 3 (pigeonhole:
    // 3 flipped bits cannot touch all 4 bands)
    val mustHave = brute.filter(_._3 <= 3)
    assert(mustHave.nonEmpty && mustHave.subsetOf(got))
  }

  test("incremental IVF index answers queries identically to the one-shot build") {
    val viaIndex = SparkEntry.queries("ann_incremental")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val oneShot = SparkEntry.queries("ann_ivf")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex.nonEmpty && viaIndex == oneShot,
      "the streamed, persisted index must be search-equivalent to the batch build")
  }

  test("incremental IVF search prunes its scan to the probed cell directories") {
    import org.apache.spark.sql.execution.ExplainMode
    val p = SparkEntry.queries("ann_incremental")(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the literal cell IN (...) must reach the scan as a partition
    // filter — the whole point of a cell-partitioned index
    assert(p.contains("PartitionFilters: [cell"), p)
  }

  test("index compaction: fragmented cells coalesce to one file, results bit-match, second pass no-ops") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
    graft.sources.Formats.deleteRecursivelyOnExit(tmp)
    val root = tmp.toString + "/vectors"
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("cell", pmod(col("vec_id"), lit(4)))
    // two append batches, several write tasks each -> every cell holds
    // more than one data file (the ingest fragmentation pattern)
    e.filter(col("vec_id") % 2 === 0).repartition(4)
      .write.mode("append").partitionBy("cell").parquet(root)
    e.filter(col("vec_id") % 2 === 1).repartition(4)
      .write.mode("append").partitionBy("cell").parquet(root)

    def filesPerCell: Map[String, Int] = {
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(rp)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath).count { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
        }.toMap
    }

    val beforeFiles = filesPerCell
    assert(beforeFiles.values.exists(_ > 1), s"setup not fragmented: $beforeFiles")
    val before = spark.read.parquet(root).orderBy("vec_id")
      .collect().map(_.toSeq).toSeq

    val (rewritten, total) = Ann.compactIndex(spark, root)
    assert(total == beforeFiles.size)
    assert(rewritten == beforeFiles.count(_._2 > 1))
    val afterFiles = filesPerCell
    assert(afterFiles.keySet == beforeFiles.keySet, "compaction must not add or drop cells")
    assert(afterFiles.values.forall(_ == 1), s"cells still fragmented: $afterFiles")
    val after = spark.read.parquet(root).orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction is a physical re-layout: same rows, bit-identical")
    // idempotence: a second pass finds nothing over target and rewrites nothing
    assert(Ann.compactIndex(spark, root) == ((0, beforeFiles.size)))
  }

  test("Lloyd convergence: per-round inertia falls, then never rises, over 3 rounds") {
    // the registry row (cluster_kmeans) is the R=1 configuration of the
    // same loop; every round is the same order-independent integer
    // arithmetic, so running more rounds changes convergence, not
    // determinism. Inertia = sum(1 − winning cosine) captured on each
    // round's assignment BEFORE its centroid update.
    val (_, assign, cents, inertias) = Ann.kmeansIterate(spark, sfDir, rounds = 3)
    assert(inertias.length == 3)
    assert(inertias.head > 0.0)
    assert(inertias(1) < inertias(0),
      s"the first update must strictly improve on the seed: $inertias")
    assert(inertias.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 },
      s"inertia must be non-increasing round over round: $inertias")
    // the loop's outputs stay consistent: every vector assigned, k centroids
    assert(assign.count() ==
      graft.sources.Tables(spark, sfDir).embeddings.count())
    assert(cents.count() == 16)
  }

  test("PQ/ADC: distances are exact integers, and exact for codebook seed neighbors") {
    // Re-derive the int8 code vectors independently of the operator.
    val codes = graft.sources.Tables(spark, sfDir).embeddings
      .selectExpr("vec_id",
        "graft_int8_codes(transform(embedding, x -> CAST(x AS DOUBLE))).codes AS qd")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sqL2(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => val d = x - y; (d * d).toLong }.sum
    val rows = Ann.annPq.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (probe, n, adist) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(adist >= 0)
      // a seed vector's subvectors are IN the codebook, so its encoding
      // is lossless and the ADC distance equals the true code-space L2
      if (n < 16)
        assert(adist == sqL2(codes(probe), codes(n)),
          s"ADC distance to seed $n must be exact for probe $probe")
    }
    // ranks are dense 1..5 per probe, ordered by (adist, n_id)
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      val ordered = rs.sortBy(_.getInt(2)).map(r => (r.getLong(3), r.getLong(1)))
      assert(ordered.zip(ordered.tail).forall { case (a, b) =>
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2) })
    }
  }

  test("IVF-PQ composes its parents: results are cell-candidates, ceilinged by brute force") {
    def top1(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.filter(_.getInt(2) == 1)
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val brute = top1(Ann.annBruteforce.run(spark, sfDir).collect())
    val ivfpq = Ann.annIvfPq.run(spark, sfDir).collect()
    assert(ivfpq.nonEmpty)
    // an approximate tier never beats exact search
    ivfpq.foreach(r => assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12))
    // every result must come from the probe's nprobe=2 cells — i.e. be
    // one of ann_ivf_nprobe's (probe, candidate) pairs (that row scores
    // ALL cell members exactly, so its top-5 is IVF-PQ's ceiling; with
    // the QCand=40 ADC shortlist they coincide at spec SF)
    val nprobe = Ann.annIvfNprobe.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqPairs = ivfpq.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqPairs.subsetOf(nprobe),
      s"IVF-PQ returned pairs outside the probed cells' exact top-5: ${pqPairs -- nprobe}")
  }

  test("recall harness: every recall row's k, hits and recall match the driver") {
    def byProbe(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("probe_id", "n_id").collect()
        .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    assert(Ann.recallLadder.size == 14)
    for ((name, spec) <- Ann.recallLadder) {
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L), name)
      // the harness's own inputs, collected and compared on the driver
      val truth = byProbe(Ann.exactTopK(spark, sfDir, spec))
      val found = byProbe(Ann.search(spark, sfDir, spec))
      rows.foreach { r =>
        val (probe, k, hits, pct) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val exact = truth.getOrElse(probe, Set.empty[Long])
        assert(k == exact.size, s"$name probe $probe")
        // unfiltered truth always fills k; a label filter may starve it
        if (spec.labelFilter) assert(k <= spec.k, name) else assert(k == spec.k, name)
        assert(hits <= k, name)
        assert(hits == (exact & found.getOrElse(probe, Set.empty[Long])).size,
          s"$name probe $probe: hits $hits != driver-side overlap")
        if (k == 0) assert(pct == 100L, name)
        else assert(pct == hits * 100 / k, s"$name: recall must be the integer percentage")
      }
    }
  }

  test("trained IVFADC: full output contract, brute-force ceiling, valid recall row") {
    def top1(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.filter(_.getInt(2) == 1)
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val brute = top1(Ann.annBruteforce.run(spark, sfDir).collect())
    val adc = Ann.annIvfAdc.run(spark, sfDir).collect()
    assert(adc.nonEmpty)
    // per-probe: dense ranks 1..n (n <= 5), cosines non-increasing in
    // rank, and the approximate tier never beats exact search
    adc.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq == (1 to byRank.length))
      val cos = byRank.map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    adc.foreach(r => assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12))
    val rows = Ann.annRecallIvfAdc.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    rows.foreach { r =>
      val (k, hits, pct) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k == 5 && hits <= k && pct == hits * 100 / k)
    }
  }

  test("ivfK: occupancy branch below the 2^18 crossover, 4·√N cap above") {
    // below the crossover the N/128 occupancy bound is the min — the
    // configuration every verified plan runs
    assert(Ann.ivfK(2048) == 16)
    assert(Ann.ivfK(100000) == 782)
    assert(Ann.ivfK(100000) == Ann.kmeansK(100000))
    // at N = 2^18 the branches meet exactly: N/128 = 2048 = 4·√N
    assert(Ann.ivfK(262144) == 2048)
    assert(Ann.ivfK(262144) == Ann.kmeansK(262144))
    // past it the √N cap binds — the N^1.5 asymptotic
    assert(Ann.ivfK(262400) == 2048) // floor(4·√262400) < N/128 = 2051
    assert(Ann.ivfK(1000000) == 4000)
    assert(Ann.ivfK(1000000) < Ann.kmeansK(1000000))
    // the 100 TB regime (100 TB / 256 B ≈ 4e11 vectors): the min must
    // be computed in Long — routing through kmeansK's .toInt wraps
    // negative past 128·2^31 and would yield a garbage cell count
    assert(Ann.ivfK(400000000000L) == 2529822) // floor(4·√4e11)
    assert(Ann.ivfK(400000000000L) > 0)
  }

  test("ivfK: duckIvfK SQL mirror parity on both branches, crossover, 100 TB regime") {
    // duckIvfK is DuckDB dialect; `//` (integer division) is the one
    // construct Spark spells differently — mechanical translation, the
    // arithmetic is engine-identical (BIGINT div, IEEE sqrt, floor)
    for (n <- Seq(16L, 2048L, 100000L, 262143L, 262144L, 262145L,
                  1000000L, 400000000000L)) {
      val sparkSql = Ann.duckIvfK(n.toString).replace("//", " div ")
      val got = spark.sql(s"SELECT $sparkSql AS k").head().getLong(0)
      assert(got == Ann.ivfK(n).toLong, s"mirror diverges at n=$n")
    }
  }

  test("two-level local k-means: ceil(n/128) sub-clusters per cell, reassign stays in-cell") {
    // Drive kmeans2Local with a SYNTHETIC coarse assignment so the
    // occupancy split branch actually executes at spec SF (production
    // cells here are all under 128 members and would take kloc = 1):
    // cell 0 gets ~90% of the corpus (kloc >= 2), cell 1 the rest.
    import org.apache.spark.sql.functions._
    val codes = Ann.kmeansCodes(spark, sfDir)
    val a1 = codes.select(col("vec_id"),
      when(col("vec_id") % 10 === 0, lit(1L)).otherwise(lit(0L)).as("cid"),
      col("qd"))
    val occ = a1.groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kloc = occ.map { case (c, o) => c -> (o + 127) / 128 }
    assert(kloc(0L) >= 2, s"test corpus too small to force a split: $occ")
    assert(kloc(1L) == 1)
    val (lc1, la1) = Ann.kmeans2Local(a1)
    // lc1: exactly the seeded sub-clusters, local ids dense 1..kloc(c)
    val lcByCell = lc1.select("cid", "lcid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    for ((c, k) <- kloc)
      assert(lcByCell(c) == (1L to k), s"cell $c sub-cluster ids")
    // la1: a partition of the corpus — every vector exactly once, in
    // its own coarse cell, with a valid local id; the under-128 cell
    // must NOT split
    val cellOf = a1.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asg = la1.select("vec_id", "cid", "lcid").collect()
    assert(asg.length == cellOf.size)
    assert(asg.map(_.getLong(0)).distinct.length == cellOf.size)
    asg.foreach { r =>
      assert(r.getLong(1) == cellOf(r.getLong(0)), "local stage moved a vector across cells")
      assert(r.getLong(2) >= 1 && r.getLong(2) <= kloc(r.getLong(1)))
    }
    assert(asg.filter(_.getLong(1) == 1L).forall(_.getLong(2) == 1L))
    // the split is real: the big cell's members land in >1 sub-cluster
    assert(asg.filter(_.getLong(1) == 0L).map(_.getLong(2)).distinct.length >= 2)
    // n_before totals the corpus (every vector contributed to exactly
    // one local mean)
    val nb = lc1.agg(sum("n_before")).head().getLong(0)
    assert(nb == cellOf.size)
  }

  test("ann_ivfpq_opq: the OPQ-lite permutation is a bijection dealing variance ranks round-robin") {
    graft.functions.Native.install(spark)
    val perm = Ann.opqPermutation(spark, sfDir)
    assert(perm.sorted == (0 until 64), "must be a permutation of the 64 dims")
    // recompute per-dim integer variance in plain Scala from the same
    // int8 codes and pin the dealing rule: variance rank r sits at
    // position (r mod M)·SubDim + r div M — every subspace receives
    // every M-th rank, so per-subspace energy is balanced
    val codes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("transform(graft_int8_codes(transform(embedding, x -> CAST(x AS DOUBLE))).codes, x -> CAST(x AS BIGINT)) AS c")
      .collect().map(_.getSeq[Long](0).toArray)
    val n = codes.length.toLong
    val ranked = (0 until 64).map { d =>
      val s1 = codes.map(_(d)).sum
      val s2 = codes.map(c => c(d) * c(d)).sum
      d -> (n * s2 - s1 * s1)
    }.sortBy { case (d, v) => (-v, d) }.map(_._1)
    ranked.zipWithIndex.foreach { case (d, r) =>
      assert(perm((r % 4) * 16 + r / 4) == d,
        s"variance rank $r (dim $d) not dealt round-robin")
    }
    // per-subspace variance balance: with round-robin dealing no
    // subspace's total variance may exceed the most energetic one by
    // more than one rank-0 dim's worth vs the poorest — structurally,
    // each subspace's rank multiset is {m, m+M, m+2M, ...}
    val ranksBySubspace = (0 until 64).groupBy(p => p / 16)
      .view.mapValues(_.map(p => ranked.indexOf(perm(p))).sorted.toSeq).toMap
    for (m <- 0 until 4)
      assert(ranksBySubspace(m) == (m until 64 by 4),
        s"subspace $m rank multiset ${ranksBySubspace(m)}")
    // and the permuted row keeps the search contract: 5 ranked
    // neighbors per probe (values are the DuckDB oracle's job)
    val rows = Ann.annIvfPqOpq.run(spark, sfDir).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getLong(0)).distinct.length == 5)
  }

  test("two-level local Lloyd: R rounds converge, and R=1 IS the registry's kmeans2Local") {
    // same synthetic coarse assignment as above so the split branch
    // (kloc >= 2 in cell 0) gives the local rounds something to move
    import org.apache.spark.sql.functions._
    val codes = Ann.kmeansCodes(spark, sfDir)
    val a1 = codes.select(col("vec_id"),
      when(col("vec_id") % 10 === 0, lit(1L)).otherwise(lit(0L)).as("cid"),
      col("qd")).localCheckpoint()
    // convergence: local inertia (sum of 1 − winning within-cell
    // cosine, captured on each round's assignment BEFORE its update —
    // the flat kmeansIterate spec's measure restricted to the local
    // stage) must improve on the seeds, then never rise.
    //
    // Tolerance note (the Cms.EpsMul treatment): Lloyd monotonicity is
    // a THEOREM only for squared-Euclidean with exact means; this
    // update is an integer-floored mean and the objective is 1−cosine,
    // so a tiny round-over-round rise is possible on adversarial data
    // with NO code defect. The checks below therefore carry a small
    // relative tolerance (RelTol). On the committed generators the
    // descent holds strictly — if a data-generator or SF change trips
    // these asserts, that is a per-SF data obligation to re-verify the
    // tolerance, not automatically a regression.
    val RelTol = 1e-3
    val (lc3, la3, inertias) = Ann.kmeans2LocalIterate(a1, rounds = 3, inertia = true)
    assert(inertias.length == 3)
    assert(inertias.head > 0.0)
    assert(inertias(1) <= inertias(0) * (1 + RelTol),
      s"the first local update must not worsen the seeds: $inertias")
    // strict descent currently holds on the committed generator — kept
    // as a separate line so a tolerance-band failure is distinguishable
    // from a no-op iteration (per-SF data obligation, see above)
    assert(inertias(1) < inertias(0),
      s"expected strict first-round descent on this generator: $inertias")
    assert(inertias.sliding(2).forall { case Seq(x, y) => y <= x * (1 + RelTol) },
      s"local inertia must be (tolerance-)non-increasing round over round: $inertias")
    // R > 1 keeps every structural contract the R=1 oracle pins: la3
    // is still a partition of the corpus that never crosses cells
    val n = a1.count()
    assert(la3.count() == n)
    assert(la3.select("vec_id").distinct().count() == n)
    assert(la3.join(a1.select(col("vec_id"), col("cid").as("cc")), "vec_id")
      .filter(col("cid") =!= col("cc")).count() == 0,
      "extra local rounds must never move a vector across coarse cells")
    assert(lc3.count() > 0)
    // and R=1 through the iterate form is EXACTLY the registry path —
    // the two registry rows (cluster_kmeans, dedup_semantic) run
    // kmeans2Local, which delegates at rounds=1 with inertia off; the
    // inertia flag must not change the arithmetic either
    def rows(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    val (lcReg, laReg) = Ann.kmeans2Local(a1)
    val (lcIt, laIt, _) = Ann.kmeans2LocalIterate(a1, rounds = 1, inertia = true)
    assert(rows(lcIt, "cid", "lcid") == rows(lcReg, "cid", "lcid"))
    assert(rows(laIt, "vec_id") == rows(laReg, "vec_id"))
  }

  test("ann_filtered: every neighbor carries its probe's label; ranks dense within 5; brute ceiling holds") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Ann.annFiltered.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the predicate actually filtered: a neighbor NEVER crosses labels
    rows.foreach { r =>
      assert(labels(r.getLong(1)) == labels(r.getLong(0)),
        s"neighbor ${r.getLong(1)} label != probe ${r.getLong(0)}'s")
      assert(r.getLong(1) != r.getLong(0))
    }
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 5)
    }
    // pre-filtered cell search can never beat the UNfiltered exact top-1
    val brute = Ann.annBruteforce.run(spark, sfDir).collect()
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_.getInt(2) == 1).foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12)
    }
  }

  test("ann_recall_filtered: one row per probe, hits <= k <= 5, integer recall arithmetic") {
    val rows = Ann.annRecallFiltered.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L, 4L))
    rows.foreach { r =>
      val (k, hits, pct) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k >= 1 && k <= 5, s"filtered exact side must emit 1..5 rows, got $k")
      assert(hits >= 0 && hits <= k)
      assert(pct == hits * 100 / k, "recall must be the integer percentage")
    }
  }

  test("ann_filtered_pq: neighbors never cross labels; ranks dense within 5; brute ceiling holds") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Ann.annFilteredPq.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the predicate landed on the coded slice: a neighbor NEVER
    // crosses labels even though scoring ran over PQ codes
    rows.foreach { r =>
      assert(labels(r.getLong(1)) == labels(r.getLong(0)),
        s"neighbor ${r.getLong(1)} label != probe ${r.getLong(0)}'s")
      assert(r.getLong(1) != r.getLong(0))
    }
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 5)
    }
    // filtered + compressed search can never beat the UNfiltered exact
    // top-1 (the rerank cosine is a true cosine over a candidate
    // subset)
    val brute = Ann.annBruteforce.run(spark, sfDir).collect()
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_.getInt(2) == 1).foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12)
    }
  }

  test("ann_recall_filtered_pq: one row per probe, hits <= k <= 5, starved probes keep k=0") {
    val rows = Ann.annRecallFilteredPq.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L, 4L))
    rows.foreach { r =>
      val (k, hits, pct) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k >= 0 && k <= 5)
      assert(hits >= 0 && hits <= k)
      if (k == 0) assert(pct == 100L)
      else assert(pct == hits * 100 / k, "recall must be the integer percentage")
    }
  }

  test("ann_ivfpq_rvopq_res: the residual-variance census matches a scalar recompute and deals round-robin") {
    graft.functions.Native.install(spark)
    // scalar recompute of the row's whole census chain: raw doubles ->
    // seed-cell cosine argmax assignment -> engine int8 codes ->
    // per-(cell, dim) floor-of-double-div means -> exact-integer
    // residual variance numerator (BigInt: overflow-proof like the
    // row's decimal(38,0)) -> rank (varn desc, d asc) -> round-robin
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = vecs.filter(_._1 < 16)
    val cellOf = vecs.map { case (id, v) =>
      val n2 = dotd(v, v)
      id -> cents.map { case (cid, cv) =>
        (cid, dotd(v, cv) / math.sqrt(n2 * dotd(cv, cv)))
      }.maxBy { case (cid, cos) => (cos, -cid.toDouble) }._1
    }.toMap
    val codes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(graft_int8_codes(transform(embedding, x -> CAST(x AS DOUBLE))).codes, x -> CAST(x AS BIGINT)) AS c")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val dims = Ann.PqM * Ann.PqSubDim
    val byCell = codes.groupBy { case (id, _) => cellOf(id) }
    val cm = byCell.map { case (cell, members) =>
      cell -> (0 until dims).map { d =>
        math.floor(members.map(_._2(d)).sum.toDouble / members.size).toLong
      }.toArray
    }
    val n = BigInt(codes.length)
    val ranked = (0 until dims).map { d =>
      val rs = codes.map { case (id, c) => BigInt(c(d) - cm(cellOf(id))(d)) }
      d -> (n * rs.map(r => r * r).sum - rs.sum * rs.sum)
    }.sortBy { case (d, v) => (-v, BigInt(d)) }.map(_._1)
    // the row's census, fed the SAME assignment
    import spark.implicits._
    val assigned = cellOf.toSeq.toDF("vec_id", "cell")
    val perm = Ann.opqResidualPermutation(spark, sfDir, assigned)
    assert(perm.sorted == (0 until dims), s"must be a permutation of the $dims dims")
    ranked.zipWithIndex.foreach { case (d, r) =>
      assert(perm((r % Ann.PqM) * Ann.PqSubDim + r / Ann.PqM) == d,
        s"residual-variance rank $r (dim $d) not dealt round-robin")
    }
    // and the composed row keeps the search contract; its rank-1
    // rerank cosine can never beat the exact brute-force top-1
    val rows = Ann.annIvfPqRvOpqRes.run(spark, sfDir).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getLong(0)).distinct.length == 5)
    val brute = Ann.annBruteforce.run(spark, sfDir).collect()
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_.getInt(2) == 1).foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12)
    }
  }
}
