package graft.operators

import graft.{Par, Q}
import graft.functions.Portable._
import graft.sources.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors), plus the vector-side training-data
  * operators (norm audit, int8 quantization, k-means clustering,
  * semantic dedup, JL projection).
  *
  * Every ann_* search row is one [[IndexSpec]] — coarse quantizer,
  * nprobe, rotation, code and label pre-filter — run by ONE Spark
  * path ([[search]]) and ONE DuckDB oracle generator ([[oracleSql]]);
  * every recall row is one spec scored by ONE harness
  * ([[recallVsExact]]). The two engines stay independent: the oracle
  * is assembled from SQL fragments, never from the Spark builders.
  *
  * All cosines are strict left folds (Portable.cosine) so the DuckDB
  * oracles reproduce them bit-for-bit and ranking ties cannot diverge.
  */
object Ann {

  /** vectors with the squared norm precomputed once: every pairwise
    * cosine then costs ONE dot product instead of three
    * (dot(a,b)/sqrt(n2a*n2b) — bit-identical to the all-dots form,
    * since it is the same three doubles combined the same way). */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(col("vec_id"), expr(toDouble("embedding")).as("v"), col("label"))
      .withColumn("n2", expr(dot("v", "v")))

  private def cosWith(a: String, an2: String, b: String, bn2: String) =
    expr(s"${dot(a, b)} / sqrt($an2 * $bn2)")

  /** deterministic probe set: vec_id < 5. */
  private val ProbeFilter = "vec_id < 5"

  /** candidate budget for the int8 search: 4x the final K, the usual
    * rerank headroom for int8 ANN. */
  private val QCand = 40

  /** ADC shortlist depth (candidates kept after the integer ADC pass,
    * before exact rerank) for the PQ family. 80, not QCand's 40: the
    * committed recall-cost curve (RECALL_CURVE.json) measured recall@5
    * FLAT in nprobe but 92% vs 72% going 40 → 80 at every nprobe, at
    * indistinguishable cost — shortlist truncation, not cell misses,
    * was the dominant loss term. The int8 code keeps QCand: its codes
    * approximate far better than 4-subspace PQ. */
  private val AdcShortlist = 80

  /** PQ geometry: M subspaces of SubDim dims over the 64-dim int8 code
    * vectors, K=16 codewords per subspace (seeded from vec_id < 16).
    * Distances are squared L2 between int8 code vectors — codes are
    * x * 127/maxabs, L-inf-normalized coordinates — and EVERY distance
    * is a sum of integer-valued doubles (exact far below 2^53). */
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16 // 64 dims / 4 subspaces

  /** Lloyd rounds for the residual codebook (mirrored in the oracle's
    * generated CTE rounds — [[resCbTrainCtes]]). */
  private val ResTrainRounds = 2

  /** The two k-means levels [[Lloyd.iterate]] runs: flat over one
    * global k-row centroid set, and local inside each coarse cell
    * `cid`. */
  private[graft] val FlatLevel = Lloyd.Level(None, "c_id", "cd", "cn2", "c_cos", "")
  private val LocalLevel = Lloyd.Level(Some("cid"), "lcid", "ld", "ln2", "lcos", "l")

  // ---- the index specification ------------------------------------

  /** Coarse quantizer: which vectors a probe is compared with. */
  sealed trait Coarse
  /** every other vector (brute force) */
  case object Flat extends Coarse
  /** vectors sharing any of the probe's 4 random-hyperplane buckets */
  case object Lsh extends Coarse
  /** IVF over the 16 seed vectors (vec_id < 16) as cells, raw-float
    * cosine; the probe searches its `nprobe` nearest cells */
  case object SeedIvf extends Coarse
  /** IVF over one-Lloyd-stage k-means cells at [[ivfK]](N), int8-code
    * cosine; nprobe co-scales as max(nprobe, k/8), so the probed
    * fraction of the index stays fixed as the corpus grows */
  case object TrainedIvf extends Coarse

  /** Coordinate permutation applied before the PQ subspace split. */
  sealed trait Rotation
  case object NoRotation extends Rotation
  /** OPQ-lite: dims ranked by raw-code variance, dealt round-robin */
  case object Opq extends Rotation
  /** rvOPQ: the same dealing over RESIDUAL variance (needs cells) */
  case object RvOpq extends Rotation

  /** How candidates are scored before the exact cosine rerank. */
  sealed trait Code
  /** exact cosine over every candidate, no shortlist */
  case object Raw extends Code
  /** int8 code dot → [[QCand]] shortlist */
  case object Int8 extends Code
  /** PQ asymmetric distance → [[AdcShortlist]] shortlist */
  case object Pq extends Code
  /** PQ asymmetric distance IS the answer: no rerank, output `adist` */
  case object PqAdc extends Code
  /** residual PQ (trained codebook on v − cell centroid) → ADC
    * shortlist; needs IVF cells */
  case object ResPq extends Code

  /** One index configuration; `k` is the result depth per probe. */
  final case class IndexSpec(coarse: Coarse = Flat, nprobe: Int = 1,
      rotation: Rotation = NoRotation, code: Code = Raw,
      labelFilter: Boolean = false, k: Int = 5) {
    private def ivf = coarse == SeedIvf || coarse == TrainedIvf
    require(code != ResPq || ivf, "residual PQ needs IVF cells")
    require(rotation != RvOpq || ivf, "the residual census needs IVF cells")
    require(rotation == NoRotation || Set[Code](Pq, PqAdc, ResPq)(code),
      "a rotation only reorders PQ subspaces")
    require(!labelFilter || (coarse != TrainedIvf && code != ResPq),
      "the label pre-filter rides the raw-vector index")
  }

  private def searchQ(name: String, spec: IndexSpec): Q =
    Q(name, (s, dir) => search(s, dir, spec), Some(oracleSql(spec)))

  private def recallQ(name: String, spec: IndexSpec): Q =
    Q(name, (s, dir) => recallVsExact(s, dir, spec), Some(recallOracleSql(spec)))

  // ---- the ladder: every search row is a spec ----------------------
  //
  // RESIDUAL_GAIN.json prices the rungs on one harness: the OPQ
  // permutation and the trained residual codebook each help alone
  // (sf1j recall@5 52 → 72 / 64) but do NOT stack — opq∘res 48, and
  // the residual-variance census rvopq∘res 56 — because any variance
  // census breaks the subspace coherence residual training exploits.

  /** The search ladder: every ann_* search row is one spec. */
  private[graft] val ladder: Seq[(String, IndexSpec)] = Seq(
    "ann_bruteforce" -> IndexSpec(k = 10),
    "ann_lsh" -> IndexSpec(Lsh, k = 10),
    "ann_ivf" -> IndexSpec(SeedIvf),
    "ann_ivf_nprobe" -> IndexSpec(SeedIvf, 2),
    "ann_quantized" -> IndexSpec(code = Int8, k = 10),
    "ann_pq" -> IndexSpec(code = PqAdc),
    "ann_ivf_pq" -> IndexSpec(SeedIvf, 2, code = Pq),
    "ann_ivfpq_opq" -> IndexSpec(SeedIvf, 2, Opq, Pq),
    "ann_ivf_pq_res" -> IndexSpec(SeedIvf, 2, code = ResPq),
    "ann_ivfpq_opq_res" -> IndexSpec(SeedIvf, 2, Opq, ResPq),
    "ann_ivfpq_rvopq_res" -> IndexSpec(SeedIvf, 2, RvOpq, ResPq),
    "ann_ivfadc" -> IndexSpec(TrainedIvf, 2, code = ResPq),
    "ann_filtered" -> IndexSpec(SeedIvf, labelFilter = true),
    "ann_filtered_nprobe" -> IndexSpec(SeedIvf, 2, labelFilter = true),
    "ann_filtered_pq" -> IndexSpec(SeedIvf, 2, code = Pq, labelFilter = true))
  private val specOf = ladder.toMap

  /** Recall rows: (row, the ladder spec it scores). The truth side
    * follows from the spec ([[exactTopK]]). */
  private[graft] val recallLadder: Seq[(String, IndexSpec)] = Seq(
    "ann_recall" -> specOf("ann_lsh"),
    "ann_recall_ivf" -> specOf("ann_ivf"),
    "ann_recall_nprobe" -> specOf("ann_ivf_nprobe"),
    "ann_recall_quantized" -> specOf("ann_quantized").copy(k = 5),
    "ann_recall_pq" -> specOf("ann_pq"),
    "ann_recall_ivfpq" -> specOf("ann_ivf_pq"),
    "ann_recall_ivfpq_opq" -> specOf("ann_ivfpq_opq"),
    "ann_recall_ivfpq_res" -> specOf("ann_ivf_pq_res"),
    "ann_recall_ivfpq_opq_res" -> specOf("ann_ivfpq_opq_res"),
    "ann_recall_ivfpq_rvopq_res" -> specOf("ann_ivfpq_rvopq_res"),
    "ann_recall_ivfadc" -> specOf("ann_ivfadc"),
    "ann_recall_filtered" -> specOf("ann_filtered"),
    "ann_recall_filtered_nprobe" -> specOf("ann_filtered_nprobe"),
    "ann_recall_filtered_pq" -> specOf("ann_filtered_pq"))

  private val ladderRows: Seq[Q] =
    ladder.map { case (n, spec) => searchQ(n, spec) } ++
      recallLadder.map { case (n, spec) => recallQ(n, spec) }
  private def row(name: String): Q = ladderRows.find(_.name == name).get

  val annBruteforce: Q = row("ann_bruteforce")
  val annLsh: Q = row("ann_lsh")
  val annIvf: Q = row("ann_ivf")
  val annIvfNprobe: Q = row("ann_ivf_nprobe")
  val annPq: Q = row("ann_pq")
  val annIvfPq: Q = row("ann_ivf_pq")
  val annIvfPqOpq: Q = row("ann_ivfpq_opq")
  val annIvfPqRvOpqRes: Q = row("ann_ivfpq_rvopq_res")
  val annIvfAdc: Q = row("ann_ivfadc")
  val annFiltered: Q = row("ann_filtered")
  val annFilteredPq: Q = row("ann_filtered_pq")
  val annRecallIvfAdc: Q = row("ann_recall_ivfadc")
  val annRecallFiltered: Q = row("ann_recall_filtered")
  val annRecallFilteredPq: Q = row("ann_recall_filtered_pq")

  // ---- the Spark search path ----------------------------------------

  /** Rank per probe by `order` (ties to the smaller n_id), keep the
    * top `k` — the one ranking every shortlist and result uses. */
  private def ranked(df: DataFrame, order: Column, k: Int,
      as: String = "rank"): DataFrame =
    df.withColumn(as, row_number().over(
        Window.partitionBy("probe_id").orderBy(order, col("n_id"))))
      .filter(col(as) <= k)

  /** The shared result tail: top-k by exact cosine, rounded. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, col("cos").desc, k)
      .select(col("probe_id"), col("n_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))

  /** Exact cosine of shortlisted (probe_id, n_id) pairs, raw vectors
    * fetched by key — a compressed index reads a full-precision vector
    * only for the pairs that survived its shortlist. */
  private def exactCos(e: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(e.select(col("vec_id"), col("v").as("pv"), col("n2").as("pn2")),
        col("probe_id") === col("vec_id")).drop("vec_id")
      .join(e.select(col("vec_id"), col("v").as("nv"), col("n2").as("nn2")),
        col("n_id") === col("vec_id"))
      .select(col("probe_id"), col("n_id"),
        cosWith("pv", "pn2", "nv", "nn2").as("cos"))

  /** Search under `spec`: assign → probe cells → candidates (cell ∩
    * predicate) → score (raw: the exact cosine) or shortlist → exact
    * rerank → top-k.
    *
    * Every stage is small-side-broadcast: centroids, probe cells,
    * codebooks and per-probe lookup tables join the corpus map-side;
    * the corpus-sized exchanges are the partial-aggregated argmax
    * assignments/encodes (codegen graft_argmax) and the ADC sums. The
    * label predicate lands on the index slice, below every distance
    * computation and ranking window. */
  private[graft] def search(s: SparkSession, dir: String,
      spec: IndexSpec): DataFrame = {
    val e = emb(s, dir)
    val lab = if (spec.labelFilter) Seq("label") else Nil
    val (assigned, probeCells) = coarse(s, dir, e, spec, lab)
    val cell = if (spec.coarse == Flat) Nil else Seq("cell")
    // attach per-vector / per-probe code payloads to the cell frames;
    // a flat unfiltered index has nothing to attach
    def onIndex(payload: DataFrame) =
      if (cell.isEmpty && lab.isEmpty) payload else payload.join(assigned, "vec_id")
    def onProbes(payload: DataFrame) =
      if (cell.isEmpty && lab.isEmpty) payload else payload.join(probeCells, "probe_id")
    val (index, probeSide, keys) = spec.code match {
      case Raw =>
        (onIndex(e.select("vec_id", "v", "n2")),
          onProbes(e.filter(expr(ProbeFilter)).select(col("vec_id").as("probe_id"),
            col("v").as("pv"), col("n2").as("pn2"))),
          cell)
      case Int8 =>
        val q = quantized(e)
        (onIndex(q.select("vec_id", "qd", "maxabs", "n2")),
          onProbes(q.filter(expr(ProbeFilter)).select(col("vec_id").as("probe_id"),
            col("qd").as("pqd"), col("maxabs").as("pmax"), col("n2").as("pn2"))),
          cell)
      case Pq | PqAdc =>
        val (enc, lut) = pqIndex(subvectors(s, dir, spec.rotation, assigned))
        (onIndex(enc), onProbes(lut), cell ++ Seq("m", "c_id"))
      case ResPq =>
        val (enc, lut) = residualIndex(
          subvectors(s, dir, spec.rotation, assigned), assigned, probeCells)
        (enc, lut, Seq("cell", "m", "c_id"))
    }
    val joined =
      if (keys.isEmpty) index.crossJoin(broadcast(probeSide))
      else index.join(broadcast(probeSide), keys)
    val cand = joined.filter(lab.foldLeft(col("vec_id") =!= col("probe_id"))(
      (c, l) => c && col(l) === col("p_label")))
      .withColumnRenamed("vec_id", "n_id")
    def adc = cand.groupBy("probe_id", "n_id")
      .agg(sum(col("d")).cast("long").as("adist"))
    def shortlist(scored: DataFrame, order: Column, depth: Int) =
      ranked(scored, order, depth, "rq").select("probe_id", "n_id")
    spec.code match {
      case Raw =>
        // raw vectors ride the candidate join: the score IS the exact
        // cosine, nothing to rerank
        val scored = cand.select(col("probe_id"), col("n_id"),
          cosWith("pv", "pn2", "v", "n2").as("cos"))
        // a neighbor sharing several bucket keys is one candidate
        topK(if (spec.coarse == Lsh) scored.distinct() else scored, spec.k)
      case Int8 =>
        topK(exactCos(e, shortlist(cand.select(col("probe_id"), col("n_id"),
          expr(s"${dot("pqd", "qd")} * pmax * maxabs / (16129.0 * sqrt(pn2 * n2))")
            .as("score")), col("score").desc, QCand)), spec.k)
      case PqAdc =>
        ranked(adc, col("adist"), spec.k)
          .select(col("probe_id"), col("n_id"), col("rank"), col("adist"))
      case _ => topK(exactCos(e, shortlist(adc, col("adist"), AdcShortlist)), spec.k)
    }
  }

  /** The coarse stage: (assigned: vec_id [, label] [, cell] per index
    * row; probeCells: probe_id [, p_label] [, cell] per probed cell).
    * LSH rows are (vector, bucket key) — a vector sits in 4 "cells".
    * IVF assigns every vector its argmax cell (the partial-aggregatable
    * codegen argmax — one exchange on vec_id, no window) and gives each
    * probe its `nprobe` nearest cells (a window over |probes| x k rows). */
  private def coarse(s: SparkSession, dir: String, e: DataFrame,
      spec: IndexSpec, lab: Seq[String]): (DataFrame, DataFrame) = {
    val ids = ("vec_id" +: lab).map(col)
    def probeRows(probes: DataFrame, cell: Column*) =
      probes.select((col("vec_id").as("probe_id") +:
        lab.map(c => col(c).as("p_label"))) ++ cell: _*)
    def ivf(scores: DataFrame, nprobe: Int) = (
      Lloyd.nearest(scores, "vec_id" +: lab, "c_id", "c_cos", "cell").drop("score"),
      probeRows(scores.filter(expr(ProbeFilter))
        .withColumn("crn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id"))))
        .filter(col("crn") <= nprobe), col("c_id").as("cell")))
    spec.coarse match {
      case Flat => (e.select(ids: _*), probeRows(e.filter(expr(ProbeFilter))))
      case Lsh =>
        val keys = e.select(ids :+ explode(expr(hyperplaneKeys("v"))).as("cell"): _*)
        (keys, probeRows(keys.filter(expr(ProbeFilter)), col("cell")))
      case SeedIvf =>
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
        ivf(e.crossJoin(broadcast(cents)).select(ids ++ Seq(col("c_id"),
          cosWith("v", "n2", "cv", "cn2").as("c_cos")): _*), spec.nprobe)
      case TrainedIvf =>
        val k = ivfK(Tables(s, dir).embeddingsCount)
        val (codes, _, c1, _) = kmeansIterate(s, dir, 1, k, inertia = false)
        ivf(Lloyd.pairs(codes, c1, FlatLevel), math.max(spec.nprobe, k / 8))
    }
  }

  /** vectors + their int8 codes (same quantization as vec_quantize:
    * floor-half-up against the per-vector maxabs, seeded 1e-12).
    * Codes are carried as doubles — every product |code| <= 127 is
    * integer-exact in a double, so the quantized dot is deterministic
    * across engines. One native eval per vector (graft_int8_codes,
    * pinned bit-identical to the SQL HOF formulation in
    * NativeVsSqlSpec). The int8 score rescales the integer code dot by
    * (maxabs_a/127)(maxabs_b/127)/sqrt(n2a*n2b). */
  private def quantized(e: DataFrame): DataFrame =
    e.withColumn("qz", expr("graft_int8_codes(v)"))
      .withColumn("maxabs", col("qz.max_abs"))
      .withColumn("qd", col("qz.codes"))
      .drop("qz")

  /** The PQ subvectors under `rotation` (the residual census needs the
    * cell assignment). */
  private def subvectors(s: SparkSession, dir: String, rotation: Rotation,
      assigned: DataFrame): DataFrame = rotation match {
    case NoRotation => pqSubvectors(s, dir)
    case Opq => permutedSubvectors(s, dir, opqPermutation(s, dir))
    case RvOpq => permutedSubvectors(s, dir, opqResidualPermutation(s, dir, assigned))
  }

  /** PQ index over a subvector frame: (enc: vec_id, m, c_id — the
    * per-(vector, subspace) argmin codeword, ann_ivf's one-exchange
    * partial-agg assignment shape; lut: probe_id, m, c_id, d — each
    * probe's |M| x K asymmetric distance table, broadcast at search). */
  private def pqIndex(sub0: DataFrame): (DataFrame, DataFrame) = {
    val sub = sub0.localCheckpoint()
    val cb = pqCodebook(sub)
    val enc = encode(sub, cb, Seq("vec_id", "m"), "sv", "sn2")
    val lut = sub.filter(expr(ProbeFilter))
      .select(col("vec_id").as("probe_id"), col("m").as("pm"),
        col("sv").as("psv"), col("sn2").as("psn2"))
      .join(cb, col("pm") === col("m"))
      .select(col("probe_id"), col("m"), col("c_id"),
        sqDist("psn2", "cn2", "psv", "cd").as("d"))
    (enc, lut)
  }

  /** Residual PQ index — what production IVF-PQ quantizes (FAISS
    * `IndexIVFPQ`, Jégou's IVFADC): each vector's codes describe
    * (v − centroid of its cell). Per-(cell, subspace) integer cell
    * centroids, residual subvectors, the TRAINED residual codebook
    * ([[trainResCodebook]]), argmin encode. The ADC table is per
    * (probe, PROBED CELL) — the probe's residual depends on the cell it
    * probes — so it is |probes| × nprobe × M × K rows, and one
    * broadcast join on (cell, m, c_id) does both the cell prune and
    * the table lookup. Everything stays integer-exact (floor-of-
    * double-div integer means, [[Lloyd.centroids]]). Returns
    * (enc: vec_id, cell, m, c_id; lut: probe_id, cell, m, c_id, d). */
  private def residualIndex(sub0: DataFrame, assigned: DataFrame,
      probeCells: DataFrame): (DataFrame, DataFrame) = {
    val sub = sub0.join(assigned.select("vec_id", "cell"), "vec_id").localCheckpoint()
    // per-(cell, subspace) integer centroid of the member subvectors
    val cellCent = Lloyd.centroids(sub, Seq("cell", "m"), "sv", "ccd")
    // residual subvectors: rv = sv − centroid(cell, m), exact ints
    val res = sub.join(broadcast(cellCent), Seq("cell", "m"))
      .select(col("vec_id"), col("cell"), col("m"),
        expr("zip_with(sv, ccd, (a, b) -> a - b)").as("rv"))
      .withColumn("rn2", expr(dot("rv", "rv")))
      .localCheckpoint()
    val rcb = trainResCodebook(res)
    val enc = encode(res, rcb, Seq("vec_id", "cell", "m"), "rv", "rn2")
    val lut = sub.filter(expr(ProbeFilter))
      .select(col("vec_id").as("probe_id"), col("m"), col("sv"))
      .join(broadcast(probeCells.select("probe_id", "cell")), "probe_id")
      .join(broadcast(cellCent), Seq("cell", "m"))
      .select(col("probe_id"), col("cell"), col("m"),
        expr("zip_with(sv, ccd, (a, b) -> a - b)").as("prv"))
      .withColumn("prn2", expr(dot("prv", "prv")))
      .join(broadcast(rcb), "m")
      .select(col("probe_id"), col("cell"), col("m"), col("c_id"),
        sqDist("prn2", "cn2", "prv", "cd").as("d"))
    (enc, lut)
  }

  /** TRAIN the shared residual codebook: seed with the 16 seed
    * vectors' own residuals, then run [[ResTrainRounds]] deterministic
    * Lloyd rounds over the FULL residual distribution (argmin-sqdist
    * assignment, per-(subspace, codeword, dim) INTEGER sums,
    * floor-of-double-div means — [[Lloyd.centroids]]; a
    * codeword that attracts no members keeps its previous value via
    * left-join-coalesce, so the round is total and deterministic in
    * both engines). Training is what FAISS does for IVFADC codebooks,
    * and round 9's committed measurement (RESIDUAL_GAIN.json) is why:
    * the UNtrained seed codebook underfits as the corpus grows — the
    * 16 seed residuals stop spanning the residual distribution — and
    * recall@5 fell 72→52 at 10× while the trained path tracks the
    * distribution at any size. Each round reads the checkpointed
    * residual frame once (broadcast codebook, partial-agg argmin — one
    * exchange — then k×M×dim-group integer sums: ann_pq's encode shape,
    * corpus-size-independent update state). Returns the 64-row
    * (m, c_id, cd, cn2) frame, localCheckpoint-ed so every consumer —
    * encode, LUT, and the plan audit — sees a tiny leaf, not the
    * training lineage. */
  private[graft] def trainResCodebook(res: DataFrame): DataFrame = {
    var cb = res.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("c_id"), col("rv").as("cd"),
        col("rn2").as("cn2"))
      .localCheckpoint()
    (1 to ResTrainRounds).foreach { _ =>
      // slim pair stream into the codegen HashAggregate argmin; rv is
      // re-attached by a (vec_id, m) join against the checkpointed
      // residual frame instead of riding every pair row as first()
      val assign = encode(res, cb, Seq("vec_id", "m"), "rv", "rn2")
        .join(res.select(col("vec_id"), col("m"), col("rv")), Seq("vec_id", "m"))
      val upd = Lloyd.centroids(assign, Seq("m", "c_id"), "rv", "ucd")
      cb = cb.join(upd, Seq("m", "c_id"), "left")
        .select(col("m"), col("c_id"), coalesce(col("ucd"), col("cd")).as("cd"))
        .withColumn("cn2", expr(dot("cd", "cd")))
        .localCheckpoint()
    }
    cb
  }

  // ---- recall ---------------------------------------------------------

  /** The exact top-k a recall row scores `spec` against: code-space L2
    * for PqAdc (full 64-dim integer distances, no codebook — isolates
    * pure codebook loss), else cosine brute force, label-filtered when
    * the spec pre-filters. */
  private[graft] def exactTopK(s: SparkSession, dir: String,
      spec: IndexSpec): DataFrame = spec.code match {
    case PqAdc =>
      val codes = kmeansCodes(s, dir).localCheckpoint()
      val probes = broadcast(codes.filter(expr(ProbeFilter))
        .select(col("vec_id").as("probe_id"), col("qd").as("pqd"),
          col("qn2").as("pqn2")))
      ranked(codes.join(probes, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("n_id"),
          sqDist("pqn2", "qn2", "pqd", "qd").cast("long").as("ed")),
        col("ed"), spec.k).select("probe_id", "n_id")
    case _ =>
      search(s, dir, IndexSpec(labelFilter = spec.labelFilter, k = spec.k))
        .select("probe_id", "n_id")
  }

  /** Recall@k of `spec` against [[exactTopK]], one row per probe:
    * k = exact neighbors (0 for a probe whose label has no other
    * member — recall 100, nothing to find), hits = how many the search
    * recovered, recall_pct = hits * 100 div k (integer, no float
    * boundary). Both sides are bounded search output (|probes| x k
    * rows), collected on overlapped driver threads ([[graft.Par]]) so
    * the brute-force scan back-fills cores the search's small serial
    * training jobs leave idle; the per-probe left join from the probe
    * set is then driver arithmetic over those few rows. */
  private def recallVsExact(s: SparkSession, dir: String,
      spec: IndexSpec): DataFrame = {
    def byProbe(df: DataFrame): Map[Long, Set[Long]] =
      df.select("probe_id", "n_id").collect().groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val ((probes, exact), approx) = Par.pair(s)(
      (Tables(s, dir).embeddings.filter(expr(ProbeFilter)).select("vec_id")
        .collect().map(_.getLong(0)).sorted, byProbe(exactTopK(s, dir, spec))),
      byProbe(search(s, dir, spec)))
    val rows = probes.toSeq.map { p =>
      val truth = exact.getOrElse(p, Set.empty[Long])
      val k = truth.size.toLong
      val hits = truth.count(approx.getOrElse(p, Set.empty[Long])).toLong
      (p, k, hits, if (k == 0) 100L else hits * 100 / k)
    }
    s.createDataFrame(rows).toDF("probe_id", "k", "hits", "recall_pct")
  }

  // ---- the DuckDB oracle generator ------------------------------------

  /** The oracle for a search row: [[searchCtes]] plus the top-k. */
  private[graft] def oracleSql(spec: IndexSpec): String = {
    val out = if (spec.code == PqAdc) "adist" else "round(cos, 6) AS cos_sim"
    s"""WITH ${searchCtes(spec)}
       |SELECT probe_id, n_id, rank, $out FROM ranked WHERE rank <= ${spec.k}""".stripMargin
  }

  /** The oracle for a recall row: the search chain, the exact top-k
    * (`truth`), and the per-probe left join from the probe set. */
  private def recallOracleSql(spec: IndexSpec): String = {
    val (src, order) =
      if (spec.code == PqAdc)
        ("q", duckSqDist("p.qd", "x.qd", duckDot("p.qd", "p.qd"), duckDot("x.qd", "x.qd")))
      else ("e", s"${duckCosine("p.v", "x.v")} DESC")
    val label = if (spec.labelFilter) " AND x.label = p.label" else ""
    s"""WITH ${searchCtes(spec)}, approx AS (
       |  SELECT probe_id, n_id FROM ranked WHERE rank <= ${spec.k}
       |), truth AS (
       |  SELECT probe_id, n_id FROM (
       |    SELECT p.vec_id AS probe_id, x.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY $order, x.vec_id) AS rank
       |    FROM $src x JOIN $src p ON x.vec_id <> p.vec_id$label
       |    WHERE p.$ProbeFilter
       |  ) WHERE rank <= ${spec.k}
       |), per AS (
       |  SELECT t.probe_id, count(*) AS k, count(a.n_id) AS hits
       |  FROM truth t LEFT JOIN approx a
       |    ON t.probe_id = a.probe_id AND t.n_id = a.n_id
       |  GROUP BY 1
       |)
       |SELECT p.vec_id AS probe_id, coalesce(per.k, 0) AS k,
       |  coalesce(per.hits, 0) AS hits,
       |  CASE WHEN coalesce(per.k, 0) = 0 THEN 100
       |       ELSE per.hits * 100 // per.k END AS recall_pct
       |FROM embeddings p LEFT JOIN per ON p.vec_id = per.probe_id
       |WHERE p.$ProbeFilter
       |ORDER BY 1""".stripMargin
  }

  /** The CTE chain for `spec`, stage for stage with [[search]]: `e`
    * (+ int8 codes `q`), cells (`assigned`, `pc`), candidates `cand`
    * (cell ∩ predicate), the spec's scoring and shortlist `short`, and
    * `ranked` — the exact cosine rerank, or for PqAdc the ADC ranking
    * itself. */
  private def searchCtes(spec: IndexSpec): String = {
    val base = spec.coarse match {
      case TrainedIvf => trainedCellCtes(spec.nprobe)
      case _ => if (spec.code == Raw) eCte else s"$eCte, $duckQuantizeCte"
    }
    val ivfCand =
      """cand0 AS (
        |  SELECT pc.probe_id, a.vec_id AS n_id
        |  FROM assigned a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.probe_id
        |)""".stripMargin
    val cells = spec.coarse match {
      case Flat =>
        s"""cand0 AS (
           |  SELECT p.vec_id AS probe_id, x.vec_id AS n_id
           |  FROM e x JOIN e p ON x.vec_id <> p.vec_id WHERE p.$ProbeFilter
           |)""".stripMargin
      case Lsh =>
        s"""keys AS (
           |  SELECT vec_id, unnest(${duckHyperplaneKeys("v")}) AS bk FROM e
           |), cand0 AS (
           |  SELECT DISTINCT p.vec_id AS probe_id, x.vec_id AS n_id
           |  FROM keys x JOIN keys p ON x.bk = p.bk AND x.vec_id <> p.vec_id
           |  WHERE p.$ProbeFilter
           |)""".stripMargin
      case SeedIvf => s"${coarseCellCtes(spec.nprobe)}, $ivfCand"
      case TrainedIvf => ivfCand
    }
    val cand =
      if (spec.labelFilter)
        """cand AS (
          |  SELECT c.probe_id, c.n_id FROM cand0 c
          |  JOIN e x ON x.vec_id = c.n_id JOIN e p ON p.vec_id = c.probe_id
          |  WHERE x.label = p.label
          |)""".stripMargin
      else "cand AS (SELECT probe_id, n_id FROM cand0)"
    val sub = spec.rotation match {
      case NoRotation => pqSplitCteFrom("q")
      case Opq => s"$opqCensusCtes, ${pqSplitCteFrom("qp")}"
      case RvOpq => s"$rvCensusCtes, ${pqSplitCteFrom("qprv")}"
    }
    def short(src: String, order: String, depth: Int) =
      s"""short AS (
         |  SELECT probe_id, n_id FROM (
         |    SELECT probe_id, n_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY $order, n_id) AS rq
         |    FROM $src
         |  ) WHERE rq <= $depth
         |)""".stripMargin
    def adc(cellCond: String) =
      s"""adc AS (
         |  SELECT c.probe_id, c.n_id, CAST(sum(lut.dist) AS BIGINT) AS adist
         |  FROM cand c JOIN enc ON enc.vec_id = c.n_id
         |  JOIN lut ON lut.probe_id = c.probe_id AND lut.m = enc.m
         |    AND lut.c_id = enc.code$cellCond
         |  GROUP BY 1, 2
         |)""".stripMargin
    val score = spec.code match {
      case Raw => "short AS (SELECT probe_id, n_id FROM cand)"
      case Int8 =>
        s"""scored AS (
           |  SELECT c.probe_id, c.n_id,
           |    ${duckDot("qp.qd", "qn.qd")} * qp.maxabs * qn.maxabs
           |      / (16129.0 * sqrt(${duckDot("ep.v", "ep.v")} * ${duckDot("en.v", "en.v")})) AS score
           |  FROM cand c
           |  JOIN q qp ON qp.vec_id = c.probe_id JOIN q qn ON qn.vec_id = c.n_id
           |  JOIN e ep ON ep.vec_id = c.probe_id JOIN e en ON en.vec_id = c.n_id
           |), ${short("scored", "score DESC", QCand)}""".stripMargin
      case Pq => s"$sub, $pqCoreCtes, ${adc("")}, ${short("adc", "adist", AdcShortlist)}"
      case PqAdc =>
        s"""$sub, $pqCoreCtes, ${adc("")}, ranked AS (
           |  SELECT probe_id, n_id, adist,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY adist, n_id) AS rank
           |  FROM adc
           |)""".stripMargin
      case ResPq =>
        s"""$sub, $residualTailCtes, ${adc(" AND lut.cell = enc.cell")},
           |${short("adc", "adist", AdcShortlist)}""".stripMargin
    }
    val rerank =
      if (spec.code == PqAdc) Nil
      else Seq(
        s"""ranked AS (
           |  SELECT probe_id, n_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, n_id) AS rank
           |  FROM (
           |    SELECT s.probe_id, s.n_id, ${duckCosine("ep.v", "en.v")} AS cos
           |    FROM short s
           |    JOIN e ep ON s.probe_id = ep.vec_id
           |    JOIN e en ON s.n_id = en.vec_id)
           |)""".stripMargin)
    (Seq(base, cells, cand, score) ++ rerank).mkString(",\n")
  }

  // ---- DuckDB fragments (each expects the CTEs it names in scope) -----

  /** The raw-vector load every chain starts from. */
  private def eCte: String =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |)""".stripMargin

  /** The int8 quantization (`q`: vec_id, maxabs, qd) — the single home
    * of the floor(x*127/maxabs+0.5) formula; expects `e`. */
  private def duckQuantizeCte: String =
    s"""q AS (
       |  SELECT vec_id, maxabs,
       |    list_transform(v, x -> CAST(CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT) AS DOUBLE)) AS qd
       |  FROM (
       |    SELECT vec_id, v,
       |      list_reduce(list_prepend(CAST(1e-12 AS DOUBLE),
       |        list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x)) AS maxabs
       |    FROM e)
       |)""".stripMargin

  /** Seed-vector cells (`c`, all-pairs cell cosines `cs`, corpus
    * assignment `assigned`, each probe's `nprobe` nearest cells `pc`);
    * expects `e`. */
  private def coarseCellCtes(nprobe: Int): String =
    s"""c AS (
       |  SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16
       |), cs AS (
       |  SELECT e.vec_id, c_id, ${duckCosine("e.v", "cv")} AS c_cos
       |  FROM e CROSS JOIN c
       |), assigned AS (
       |${Lloyd.nearestSql("vec_id, c_id AS cell", "cs", "vec_id", "c_cos DESC", "c_id")}
       |), pc AS (
       |${Lloyd.nearestSql("vec_id AS probe_id, c_id AS cell", s"cs WHERE $ProbeFilter",
          "vec_id", "c_cos DESC", "c_id", nprobe.toString)}
       |)""".stripMargin

  /** Trained cells: [[kmeansOracleCtes]] (which also loads `e` and `q`)
    * at the corpus-scaled k (`pk` — [[ivfK]] over the counted corpus),
    * a1 renamed to `assigned`, and each probe's max(nprobe, k/8)
    * nearest UPDATED centroids as `pc`. */
  private def trainedCellCtes(nprobe: Int): String =
    s"""pk AS (
       |  SELECT ${duckIvfK("count(*)")} AS kk FROM embeddings
       |), ${kmeansOracleCtes("SELECT kk FROM pk")}, assigned AS (
       |  SELECT vec_id, c_id AS cell FROM a1
       |), pc AS (
       |${Lloyd.nearestSql("qn.vec_id AS probe_id, c_id AS cell",
          s"qn CROSS JOIN c1 WHERE qn.$ProbeFilter", "qn.vec_id",
          s"${duckDot("qd", "cd")} / sqrt(qn2 * cn2) DESC", "c_id",
          s"(SELECT greatest($nprobe, kk // 8) FROM pk)")}
       |)""".stripMargin

  /** The subspace-split CTE (`sub`) over any (vec_id, qd) source. */
  private def pqSplitCteFrom(src: String): String =
    s"""sub AS (
       |  SELECT vec_id, t.m,
       |    list_slice(qd, t.m * $PqSubDim + 1, t.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM $src, unnest([i FOR i IN range(0, $PqM)]) AS t(m)
       |)""".stripMargin

  /** The OPQ-lite permutation census (expects `q`; yields `qp`):
    * exact-integer variance N·Σx² − (Σx)² per dim, ranked varn DESC /
    * d ASC, rank r dealt to position (r mod M)·SubDim + r div M. */
  private def opqCensusCtes: String =
    s"""opqstats AS (
       |  SELECT t.d AS d,
       |    count(*) * sum(CAST(qd[t.d + 1] AS BIGINT) * CAST(qd[t.d + 1] AS BIGINT))
       |      - sum(CAST(qd[t.d + 1] AS BIGINT)) * sum(CAST(qd[t.d + 1] AS BIGINT)) AS varn
       |  FROM q, unnest([i FOR i IN range(0, 64)]) AS t(d)
       |  GROUP BY 1
       |), permt AS (
       |  SELECT ((r % $PqM) * $PqSubDim + r // $PqM) AS pos, d FROM (
       |    SELECT d, row_number() OVER (ORDER BY varn DESC, d) - 1 AS r
       |    FROM opqstats)
       |), qp AS (
       |  SELECT vec_id, list(x ORDER BY pos) AS qd FROM (
       |    SELECT q.vec_id, p.pos, q.qd[p.d + 1] AS x FROM q, permt p
       |  ) GROUP BY 1
       |)""".stripMargin

  /** The residual-variance census (expects `q`, `assigned`; yields
    * `qprv`): per-cell floor-mean residuals, HUGEINT variance numerator
    * (mirrors the Spark decimal(38,0)), the same round-robin dealing. */
  private def rvCensusCtes: String =
    s"""rexp AS (
       |${Lloyd.dimsSql("(SELECT a.cell, q.qd FROM q JOIN assigned a ON q.vec_id = a.vec_id) j",
          Seq("cell"), "qd")}
       |), rcent AS (
       |${Lloyd.dimMeansSql("rexp", Seq("cell", "pos"), "x")}
       |), rvstats AS (
       |  SELECT pos - 1 AS d, count(*) * sum(r * r) - sum(r) * sum(r) AS varn
       |  FROM (SELECT rexp.pos, rexp.x - CAST(rc.cm AS BIGINT) AS r
       |        FROM rexp JOIN rcent rc
       |          ON rexp.cell = rc.cell AND rexp.pos = rc.pos)
       |  GROUP BY 1
       |), permrv AS (
       |  SELECT ((r % $PqM) * $PqSubDim + r // $PqM) AS pos, d FROM (
       |    SELECT d, row_number() OVER (ORDER BY varn DESC, d) - 1 AS r
       |    FROM rvstats)
       |), qprv AS (
       |  SELECT vec_id, list(x ORDER BY pos) AS qd FROM (
       |    SELECT q.vec_id, p.pos, q.qd[p.d + 1] AS x FROM q, permrv p
       |  ) GROUP BY 1
       |)""".stripMargin

  /** Squared L2 distance via precomputed squared norms. */
  private def duckSqDist(a: String, b: String, an2: String, bn2: String) =
    s"$an2 + $bn2 - 2 * ${duckDot(a, b)}"

  /** [[encode]]: the `cols` of `src` (as `r`) joined to each row's
    * nearest `cb` codeword (as `p`) by squared L2 of subvector `sv`
    * (squared norm `sn2`). */
  private def encodeSql(cols: String, src: String, cb: String, sv: String,
      sn2: String): String =
    Lloyd.nearestSql(cols, s"$src r JOIN $cb p ON r.m = p.m", "r.vec_id, r.m",
      duckSqDist(sv, "cd", sn2, "cn2"), "p.c_id")

  /** The PQ index/LUT chain over `sub`: subvector norms `sn`, seed
    * codebook `cb`, argmin encode `enc` (vec_id, m, code), probe table
    * `lut` (probe_id, m, c_id, dist). */
  private def pqCoreCtes: String = {
    val d = duckSqDist _
    s"""sn AS (
       |  SELECT vec_id, m, sv, ${duckDot("sv", "sv")} AS sn2 FROM sub
       |), cb AS (
       |  SELECT m, vec_id AS c_id, sv AS cd, sn2 AS cn2 FROM sn WHERE vec_id < 16
       |), enc AS (
       |${encodeSql("r.vec_id, r.m, p.c_id AS code", "sn", "cb", "sv", "sn2")}
       |), lut AS (
       |  SELECT p.vec_id AS probe_id, cb.m, cb.c_id,
       |    ${d("p.sv", "cd", "p.sn2", "cn2")} AS dist
       |  FROM sn p JOIN cb ON p.m = cb.m WHERE p.$ProbeFilter
       |)""".stripMargin
  }

  /** The residual-codebook training CTE rounds, generated to match
    * [[trainResCodebook]] CTE-for-CTE: `rcb0` = the 16 seed vectors'
    * residuals; each round t = argmin assignment (`rasn$t`), integer
    * means (`rupd$t`), and the left-join-coalesce update (`rcb$t` —
    * empty codewords keep their previous value). The final round is
    * aliased `rcb`, the name the encode/LUT CTEs consume. Expects
    * `resn` in scope. */
  private def resCbTrainCtes: String = {
    val rounds = (1 to ResTrainRounds).map { t =>
      val prev = s"rcb${t - 1}"
      s"""rasn$t AS (
         |${encodeSql("r.m, p.c_id, r.rv", "resn", prev, "rv", "rn2")}
         |), rupd$t AS (
         |${Lloyd.centroidsSql(s"rasn$t", Seq("m", "c_id"), "rv", "ucd")}
         |), rcb$t AS (
         |  SELECT m, c_id, cd, ${duckDot("cd", "cd")} AS cn2 FROM (
         |    SELECT p.m, p.c_id, coalesce(u.ucd, p.cd) AS cd
         |    FROM $prev p LEFT JOIN rupd$t u
         |      ON p.m = u.m AND p.c_id = u.c_id)
         |)""".stripMargin
    }
    s"""rcb0 AS (
       |  SELECT m, vec_id AS c_id, rv AS cd, rn2 AS cn2
       |  FROM resn WHERE vec_id < 16
       |), ${rounds.mkString(", ")}, rcb AS (
       |  SELECT * FROM rcb$ResTrainRounds
       |)""".stripMargin
  }

  /** The residual tail (cell centroids `ccent` -> residuals `resn`
    * -> codebook training -> encode `enc` (vec_id, cell, m, code) ->
    * per-(probe, probed cell) table `lut` (probe_id, cell, m, c_id,
    * dist)) — the oracle twin of [[residualIndex]]. Expects `e`, `sub`,
    * `assigned` (vec_id, cell) and `pc` (probe_id, cell). */
  private def residualTailCtes: String = {
    val d = duckSqDist _
    s"""suba AS (
       |  SELECT sub.vec_id, sub.m, sub.sv, a.cell
       |  FROM sub JOIN assigned a ON sub.vec_id = a.vec_id
       |), ccent AS (
       |${Lloyd.centroidsSql("suba", Seq("cell", "m"), "sv", "ccd")}
       |), resn AS (
       |  SELECT vec_id, cell, m, rv, ${duckDot("rv", "rv")} AS rn2 FROM (
       |    SELECT s.vec_id, s.cell, s.m,
       |      [s.sv[i] - ct.ccd[i] FOR i IN range(1, len(s.sv) + 1)] AS rv
       |    FROM suba s JOIN ccent ct ON s.cell = ct.cell AND s.m = ct.m)
       |), $resCbTrainCtes, enc AS (
       |${encodeSql("r.vec_id, r.cell, r.m, p.c_id AS code", "resn", "rcb", "rv", "rn2")}
       |), presn AS (
       |  SELECT probe_id, cell, m, prv, ${duckDot("prv", "prv")} AS prn2 FROM (
       |    SELECT pc.probe_id, pc.cell, s.m,
       |      [s.sv[i] - ct.ccd[i] FOR i IN range(1, len(s.sv) + 1)] AS prv
       |    FROM sub s JOIN pc ON s.vec_id = pc.probe_id
       |    JOIN ccent ct ON ct.cell = pc.cell AND ct.m = s.m)
       |), lut AS (
       |  SELECT p.probe_id, p.cell, p.m, rcb.c_id,
       |    ${d("prv", "cd", "prn2", "cn2")} AS dist
       |  FROM presn p JOIN rcb ON p.m = rcb.m
       |)""".stripMargin
  }

  // ---- PQ building blocks (Spark) ------------------------------------

  /** (vec_id, m, sv, sn2): a (vec_id, qd) code-vector frame split into
    * per-subspace code vectors; sn2 = <sv,sv> (exact integer-valued
    * double). Shared by the natural-order and OPQ-permuted chains. */
  private def subvectorsOf(codes: DataFrame): DataFrame =
    codes
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(m AS m, slice(qd, m * $PqSubDim + 1, $PqSubDim) AS sv))"))
        .as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .withColumn("sn2", expr(dot("sv", "sv")))

  /** The corpus split into per-subspace code vectors (natural
    * coordinate order). */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    subvectorsOf(kmeansCodes(s, dir))

  /** OPQ-lite: a balanced-variance coordinate PERMUTATION applied
    * before the subspace split — the parameter-free baseline
    * of OPQ (Ge et al., CVPR 2013: optimize the space rotation so
    * subquantizers share the variance; their "OPQ-NP" ablation shows a
    * permutation balancing per-subspace variance captures much of the
    * gain without the float SVD, which would not oracle-verify).
    * Dimensions are ranked by exact-integer corpus variance
    * (N·Σx² − (Σx)² over the int8 codes, BIGINT arithmetic) and dealt
    * round-robin across the M subspaces — each subspace receives every
    * M-th variance rank, so no subquantizer is starved while another
    * carries all the energy. The 64-row census is index-build
    * metadata (collected like the probed-cell list; at extreme N a
    * deployment computes it on a sample — the ranks, not the moments,
    * are what matters). Identical census + tie-break (varn desc, dim
    * asc) in the DuckDB oracle. Storage and search cost are IDENTICAL
    * to ann_ivf_pq — the permutation is free at query time. Returns
    * position → original dim (private[graft] so the spec can pin
    * bijection + round-robin dealing against its own recompute). */
  private[graft] def opqPermutation(s: SparkSession, dir: String): Seq[Int] = {
    val stats = kmeansCodes(s, dir).select(explode(expr(
        "transform(sequence(0, 63), d -> struct(d AS d, CAST(element_at(qd, d + 1) AS BIGINT) AS x))"))
        .as("t"))
      .select(col("t.d").as("d"), col("t.x").as("x"))
      .groupBy("d")
      .agg((count(lit(1)) * sum(expr("x * x")) - sum(col("x")) * sum(col("x")))
        .as("varn"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val perm = new Array[Int](64)
    stats.sortBy { case (d, v) => (-v, d) }.map(_._1).zipWithIndex
      .foreach { case (d, r) => perm((r % PqM) * PqSubDim + r / PqM) = d }
    perm.toSeq
  }

  /** The subspace split over the codes permuted by `perm`
    * (position → original dim). */
  private def permutedSubvectors(s: SparkSession, dir: String,
      perm: Seq[Int]): DataFrame =
    subvectorsOf(kmeansCodes(s, dir).withColumn("qd", expr(
      s"transform(array(${perm.mkString(", ")}), i -> element_at(qd, i + 1))")))

  /** 64-row codebook (m, c_id, cd, cn2): subspace slices of the 16
    * seed vectors. Broadcast everywhere it is used. */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("c_id"), col("sv").as("cd"),
        col("sn2").as("cn2"))

  /** squared L2 via the shared dot fold: |a|^2 + |b|^2 - 2<a,b> —
    * three exact integers combined exactly. */
  private def sqDist(an2: String, bn2: String, a: String, b: String) =
    expr(s"$an2 + $bn2 - 2 * ${dot(a, b)}")

  /** Argmin-sqdist encode of each `keys` row's subvector `sv` (squared
    * norm `sn2`) against the broadcast codebook `cb` (m, c_id, cd,
    * cn2): (keys, c_id, score) — ann_ivf's one-exchange partial-agg
    * assignment shape over a slim pair stream. */
  private def encode(sub: DataFrame, cb: DataFrame, keys: Seq[String],
      sv: String, sn2: String): DataFrame =
    Lloyd.nearest(sub.join(broadcast(cb), "m").select(keys.map(col) ++ Seq(col("c_id"),
      sqDist(sn2, "cn2", sv, "cd").as("d")): _*), keys, "c_id", "-d", "c_id")

  /** position → original dim under the RESIDUAL-variance census: the
    * permutation [[opqPermutation]] computes from RAW-code variance,
    * recomputed over r = code − floor-mean(assigned cell) instead —
    * round 15's measured answer on the naive composition
    * (ann_ivfpq_opq_res: 48 vs 52 baseline at sf1j) named the
    * mechanism: subtracting the coarse centroid removes exactly the
    * cell-level component that dominates the raw ranking, so the raw
    * census's dealing is near-arbitrary FOR THE RESIDUAL
    * distribution. This census ranks dimensions by what the residual
    * codebook actually has to describe. Assignment must come first
    * (the census depends on cells), so the build order is
    * assign → census → permute → split → residual tail. Exactness:
    * per-(cell, dim) centroids are the [[Lloyd.dimMeans]] floor-of-double-
    * div integer means; residuals are exact integers; the variance
    * numerator N·Σr² − (Σr)² is computed in decimal(38,0) (Spark) /
    * HUGEINT (DuckDB) so the RANKING cannot diverge by overflow at
    * any bench SF. 64-row census = index-build metadata, the
    * opqPermutation stance. */
  private[graft] def opqResidualPermutation(s: SparkSession, dir: String,
      assigned: DataFrame): Seq[Int] = {
    val rexp = kmeansCodes(s, dir).join(assigned, "vec_id")
      .select(col("cell"), posexplode(expr(
        "transform(qd, x -> CAST(x AS BIGINT))")))
      .select(col("cell"), col("pos").as("d"), col("col").as("x"))
    val cent = Lloyd.dimMeans(rexp, Seq("cell", "d"), "x")
      .select(col("cell"), col("d"), col("cm"))
    val stats = rexp.join(cent, Seq("cell", "d"))
      .withColumn("r", col("x") - col("cm"))
      .groupBy("d")
      .agg((count(lit(1)).cast("decimal(38,0)") *
            sum(expr("r * r")).cast("decimal(38,0)") -
            sum(col("r")).cast("decimal(38,0)") *
            sum(col("r")).cast("decimal(38,0)")).as("varn"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1)))
    val dims = PqM * PqSubDim
    require(stats.length == dims, s"census must cover $dims dims, got ${stats.length}")
    val ordered = stats.sortWith { (a, b) =>
      val c = a._2.compareTo(b._2)
      if (c != 0) c > 0 else a._1 < b._1 // varn DESC, d ASC
    }.map(_._1)
    val perm = new Array[Int](dims)
    ordered.zipWithIndex.foreach { case (d, r) =>
      perm((r % PqM) * PqSubDim + r / PqM) = d }
    perm.toSeq
  }

  // ---- vector audits --------------------------------------------------

  /** embedding norm/stats audit per label: a plain partial-agg pass. */
  val vecNorms: Q = Q(
    "vec_norms",
    (s, dir) => emb(s, dir)
      .withColumn("norm", expr(s"sqrt(${dot("v", "v")})"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("norm"), 6).as("avg_norm"),
        round(min("norm"), 6).as("min_norm"),
        round(max("norm"), 6).as("max_norm")),
    Some(s"""WITH e AS (
            |  SELECT label, sqrt(${duckDot("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS norm
            |  FROM embeddings
            |)
            |SELECT label, count(*) AS n,
            |  round(avg(norm), 6) AS avg_norm,
            |  round(min(norm), 6) AS min_norm,
            |  round(max(norm), 6) AS max_norm
            |FROM e GROUP BY label""".stripMargin))

  /** Per-vector symmetric int8 quantization — the compression step an
    * embedding store applies before indexing (4x smaller than float32,
    * dot products on integers). Codes are floor(x*127/maxabs + 0.5)
    * (floor, not round: half-even vs half-up can't diverge between
    * engines), surfaced as one scalar digest per vector because the
    * driver's comparator can't hash array cells; max reconstruction
    * error is the quality audit. Map-only over the scan: no shuffle at
    * any scale. The fold accumulator seeds maxabs at 1e-12 so a zero
    * vector can't divide by zero. */
  val vecQuantize: Q = Q(
    "vec_quantize",
    // one native eval per vector (graft_int8_quantize) — this scan runs
    // over EVERY vector, so the interpreted-HOF formulation (pinned
    // bit-identical in NativeVsSqlSpec) stays out of the hot path
    (s, dir) => Tables(s, dir).embeddings
      .select(col("vec_id"),
        expr(s"graft_int8_quantize(${toDouble("embedding")})").as("q"))
      .select(col("vec_id"),
        round(col("q.max_abs"), 6).as("max_abs"),
        col("q.code_digest").as("code_digest"),
        round(col("q.max_err"), 6).as("max_err"))
      .orderBy("vec_id"),
    Some(s"""WITH $eCte, $duckQuantizeCte
            |SELECT vec_id, round(maxabs, 6) AS max_abs,
            |  ${duckSigDigest("list_transform(qd, c -> CAST(c AS BIGINT) + 127)")} AS code_digest,
            |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            |    list_transform(range(1, len(v) + 1), i -> abs(v[i] - qd[i] * maxabs / 127.0))),
            |    (a, y) -> greatest(a, y)), 6) AS max_err
            |FROM q JOIN e USING (vec_id) ORDER BY vec_id""".stripMargin))

  /** The interpreted-HOF formulation of the projection fold over a
    * BIGINT `codes` column — NativeVsSqlSpec pins graft_jl_project
    * bit-identical to it; the hot path runs the native loop (the HOF
    * form walks an expression tree per (j, k) cell — ~1024 interpreted
    * evals per row, measured 13.5 s over 2k vectors). */
  private[graft] val jlProjectSql: String = {
    // y_k = Σ_j codes[j] · sign(j·16+k); sign(i) = high bit of TWO
    // chained LCG rounds mod 2^31 (x2 = a·((a·i+c) mod m)+c mod m,
    // sign = 1 − 2·(x2 div 2^30)). The low bit of a power-of-two-
    // modulus LCG is parity(i) = parity(k), which collapses the sign
    // matrix to rank 1, and one round's high bit is still affine
    // enough to leave rank 9/16; two rounds measure full-rank
    // (see JlProject16).
    val sign =
      "(1 - 2 * (((CAST(1103515245 AS BIGINT) * ((CAST(1103515245 AS BIGINT) * (j * 16 + k) + 12345) % 2147483648) + 12345) % 2147483648) div 1073741824))"
    "transform(sequence(0, 15), k -> aggregate(sequence(0, 63), " +
      s"CAST(0 AS BIGINT), (acc, j) -> acc + codes[j] * $sign))"
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas ±1 variant):
    * 64-dim embeddings down to 16 dims through a DETERMINISTIC sign
    * matrix — sign(j,k) from an LCG on the flattened index, so the
    * "random" matrix needs no stored state, no broadcast, and is
    * identical in both engines. Input is the int8 code vector (the
    * same quantization vec_quantize pins), so every projected
    * coordinate is an exact BIGINT sum (|y_k| ≤ 64·127) — no float
    * accumulation order to disagree on.
    *
    * Scale shape: map-only — a pure per-row fold that fuses into the
    * parquet scan with ZERO shuffles at any corpus size; the array
    * cells are surfaced as a scalar digest + L1/first-coordinate
    * scalars (the driver comparator cannot hash array cells). This is
    * the standard cheap front-end before pair-heavy stages: a 4×
    * narrower vector makes every downstream distance pass (LSH
    * bucketing, candidate verify) proportionally cheaper while JL
    * preserves pairwise geometry to O(1/√16) distortion. */
  val vecProject: Q = {
    // DuckDB mirror of JlProject16's two-round high-bit LCG sign
    // (// = int div)
    val sign =
      "(1 - 2 * (((CAST(1103515245 AS BIGINT) * ((CAST(1103515245 AS BIGINT) * (j * 16 + k) + 12345) % 2147483648) + 12345) % 2147483648) // 1073741824))"
    Q(
      "vec_project",
      // CAST(array<float> AS array<double>) instead of the HOF
      // transform: elementwise-identical, but Cast supports codegen
      // while a lambda transform is CodegenFallback — with it the
      // whole quantize→project Project fuses into the scan's
      // WholeStageCodegen span (pinned in PlanAuditSpec)
      (s, dir) => Tables(s, dir).embeddings
        .withColumn("y", expr(
          "graft_jl_project(graft_int8_codes(CAST(embedding AS ARRAY<DOUBLE>)).codes)"))
        .select(col("vec_id"),
          expr(sigDigest("transform(y, v -> v + 8192)")).as("proj_digest"),
          expr("aggregate(y, CAST(0 AS BIGINT), (acc, v) -> acc + abs(v))")
            .as("proj_l1"),
          expr("y[0]").as("proj_first"))
        .orderBy("vec_id"),
      Some(s"""WITH $eCte, $duckQuantizeCte, p AS (
              |  SELECT vec_id,
              |    list_transform(range(0, 16), k ->
              |      list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(range(0, 64), j -> CAST(qd[j + 1] AS BIGINT) * $sign)),
              |        (acc, t) -> acc + t)) AS y
              |  FROM q)
              |SELECT vec_id,
              |  ${duckSigDigest("list_transform(y, v -> v + 8192)")} AS proj_digest,
              |  list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(y, v -> abs(v))), (acc, v) -> acc + v) AS proj_l1,
              |  y[1] AS proj_first
              |FROM p ORDER BY vec_id""".stripMargin))
  }

  // ---- k-means, semantic dedup -----------------------------------------

  /** int8 code vectors (vec_id, qd, qn2): the k-means points
    * (graft_int8_codes; qn2 clamped at 1e-12 so a zero code vector
    * cannot divide by zero). */
  private[graft] def kmeansCodes(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("qz", expr("graft_int8_codes(v)"))
      .select(col("vec_id"), col("qz.codes").as("qd"))
      .withColumn("qn2", expr(s"greatest(${dot("qd", "qd")}, 1e-12)"))

  /** The occupancy-bound cluster count: k = max(16, ceil(N / 128))
    * holds expected cluster occupancy at ~128 members. Since round 12
    * this is no longer any row's FLAT cluster count — a k ∝ N flat
    * assign is N×k = O(N²/128) pairs, the registry's last quadratic
    * (what dedup_semantic ran through round 11) — it survives only as
    * (a) the occupancy branch inside [[ivfK]]'s min and (b) the
    * flat-linear arm of the ASSIGN_TIMING.json A/B. Returns Long: the old
    * `.toInt` wrapped negative past N ≈ 2.7e11 (128·2^31), inside the
    * 100 TB regime (~4e11 vectors); [[ivfK]] already computed its min
    * in Long for exactly that reason. */
  private[graft] def kmeansK(n: Long): Long =
    math.max(16L, (n + 127L) / 128L)

  /** The matching SQL for [[kmeansK]] over a counted corpus. */
  private def duckKmeansK(countExpr: String): String =
    s"greatest(16, (($countExpr) + 127) // 128)"

  /** IVF cell count for the trained coarse quantizer: [[kmeansK]]'s
    * ~128-member occupancy bound while that is the cheaper regime,
    * capped at FAISS's `nlist ≈ 4·√N` guidance past the crossover
    * (N > 2^18 ≈ 262k): with k ∝ N the one-pass N×k assign that both
    * training and index-add must run goes QUADRATIC in the corpus,
    * while k ≈ 4√N keeps it N^1.5 — the reason every production IVF
    * sizes nlist by √N, not by occupancy. Both branches are exact in
    * both engines (IEEE sqrt is correctly rounded, floor of it is
    * deterministic), and at the verify/bench SFs (N ≤ 262k) the min
    * always resolves to [[kmeansK]], so every verified plan is
    * unchanged — this is the 100 TB asymptotic, not a behavior fork.
    *
    * The min is computed ENTIRELY in Long (as is [[kmeansK]] itself
    * since round 12): an Int-narrowed occupancy branch would wrap
    * negative past N ≈ 2.7e11 (128·2^31) — exactly the 100 TB regime
    * this function exists for (100 TB / 256 B ≈ 4e11 vectors) — and a
    * negative k would produce empty centroid frames while the BIGINT
    * SQL mirror stays positive. The √N branch always wins there and
    * its value fits an Int until N ≈ 2.9e17. */
  private[graft] def ivfK(n: Long): Int =
    math.min(kmeansK(n),
      math.max(16L, math.floor(4.0 * math.sqrt(n.toDouble)).toLong)).toInt

  /** The matching SQL for [[ivfK]] over a counted corpus. */
  private[graft] def duckIvfK(countExpr: String): String =
    s"least(${duckKmeansK(countExpr)}, " +
      s"greatest(16, CAST(floor(4.0 * sqrt(CAST(($countExpr) AS DOUBLE))) AS BIGINT)))"

  /** Deterministic flat k-means over the int8-quantized vectors — the
    * clustering stage of cluster-balanced curation (group the corpus
    * by embedding neighborhood, then sample/dedup per cluster instead
    * of globally): [[Lloyd.iterate]] seeded with the codes of the k
    * lowest vec_ids. The registry runs R=1 (one Lloyd stage: the
    * coarse half of the two-level scheme and ann_ivfadc's trained
    * cells); the convergence spec runs R>1 and watches the per-round
    * inertia fall. At real scale more rounds run on a sample
    * (mini-batch k-means), which changes nothing structurally.
    * Returns (codes, final assignment (vec_id, c_id), last centroids
    * (c_id, cd, n_before, cn2), inertia per round); the codes are
    * localCheckpoint-ed, since every round and every consumer reads
    * them. */
  private[graft] def kmeansIterate(s: SparkSession, dir: String, rounds: Int,
      k: Int = 16, inertia: Boolean = true)
      : (DataFrame, DataFrame, DataFrame, Seq[Double]) = {
    val codes = kmeansCodes(s, dir).localCheckpoint()
    val (cents, assign, inertias) =
      Lloyd.iterate(codes, col("vec_id") < k, col("vec_id"), FlatLevel, rounds, inertia)
    (codes, assign, cents, inertias)
  }

  /** The LOCAL half of the two-level (hierarchical) k-means: takes a
    * coarse assignment `a1` (vec_id, cid, qd) and runs an
    * occupancy-128 one-Lloyd-stage k-means INSIDE each coarse cell —
    * per cell of n members, kloc = ceil(n/128) sub-clusters, seeds =
    * the cell's kloc lowest vec_ids. Returns (lc1: per-(cid, lcid)
    * updated local centroids + n_before, la1: the final (vec_id, cid,
    * lcid) assignment).
    *
    * This is the subquadratic replacement for the flat k ∝ N assign
    * (the registry's last scale-killer through round 11): with coarse
    * cells at [[ivfK]](N) ≈ 4·√N past the crossover, coarse assign is
    * N×4√N = O(N^1.5) pairs and the local assign is
    * Σ_c occ(c)·ceil(occ(c)/128) ≈ N·√N/512 = O(N^1.5) — while the
    * final clusters keep the ~128 expected occupancy that bounds every
    * downstream within-cluster pair pass, the same contract the flat
    * scheme bought at O(N²/128). Below the crossover occ ≈ 128 already,
    * kloc = 1 everywhere, and the local stage degenerates to one
    * mean-recentering per cell. The local centroids are ~N/128 rows
    * (the flat scheme's ~2 GB broadcast at N = 1e9 was its second
    * killer), so both local assigns shuffle on cid — the key the
    * membership window already partitioned by. `mem` is
    * localCheckpoint-ed (several stages consume it); mirrored
    * CTE-for-stage by [[kmeans2OracleCtes]]. */
  private[graft] def kmeans2Local(a1: DataFrame): (DataFrame, DataFrame) = {
    val (lc1, la1, _) = kmeans2LocalIterate(a1, rounds = 1, inertia = false)
    (lc1, la1)
  }

  /** R-round form of the local stage ([[Lloyd.iterate]] at the local
    * level). R = 1 with inertia off IS [[kmeans2Local]] (the registry
    * configuration); the kmeans2 convergence spec pins R > 1 with
    * inertia on — the flat spec's measure restricted to within-cell
    * geometry. */
  private[graft] def kmeans2LocalIterate(a1: DataFrame, rounds: Int,
      inertia: Boolean): (DataFrame, DataFrame, Seq[Double]) = {
    val wCell = Window.partitionBy("cid")
    val mem = a1
      .withColumn("qn2", expr(s"greatest(${dot("qd", "qd")}, 1e-12)"))
      .withColumn("rn", row_number().over(wCell.orderBy("vec_id")))
      .withColumn("nc", count(lit(1)).over(wCell))
      .withColumn("kloc", expr("(nc + 127) div 128"))
      .drop("nc")
      .localCheckpoint()
    Lloyd.iterate(mem, col("rn") <= col("kloc"), col("rn").cast("long"), LocalLevel,
      rounds, inertia)
  }

  /** The full two-level k-means over the embeddings corpus: coarse
    * one-Lloyd-stage k-means at [[ivfK]](N) cells (the trained-coarse
    * machinery ann_ivfadc verifies), then [[kmeans2Local]] inside each
    * cell. Total assign work O(N^1.5); final clusters keyed
    * (cid, lcid) at ~128 expected occupancy. */
  private def kmeans2Stage(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    kmeans2Local(kmeans2CoarseAssign(s, dir))

  /** The coarse half alone — the (vec_id, cid, qd) assignment the
    * local stage partitions on: the flat loop's final reassignment,
    * codes re-attached. */
  private def kmeans2CoarseAssign(s: SparkSession, dir: String): DataFrame = {
    val kc = ivfK(Tables(s, dir).embeddingsCount)
    val (codes, a1, _, _) = kmeansIterate(s, dir, 1, kc, inertia = false)
    a1.join(codes.select("vec_id", "qd"), "vec_id")
      .select(col("vec_id"), col("c_id").as("cid"), col("qd"))
  }

  /** Shared oracle CTE chain for the one-Lloyd-stage flat k-means
    * (codes `qn`, then [[Lloyd.iterateSql]]: seeds `c0`, assignment
    * `a0`, update `c1`, reassignment `a1`) at k = `kExpr` (a scalar
    * subquery over the counted corpus). */
  private def kmeansOracleCtes(kExpr: String): String =
    s"""$eCte, $duckQuantizeCte, qn AS (
       |  SELECT vec_id, qd, greatest(${duckDot("qd", "qd")}, 1e-12) AS qn2 FROM q
       |), ${Lloyd.iterateSql(FlatLevel, "qn", s"vec_id < ($kExpr)", "vec_id")}""".stripMargin

  /** [[kmeansOracleCtes]] extended stage-for-stage with the LOCAL half
    * ([[kmeans2Local]]): per-cell membership ranks and kloc =
    * ceil(n/128) (`mem`), then the local loop — seeds `lc0`, `la0`,
    * `lc1`, and the final reassignment `la1` (keyed (cid, lcid)). */
  private def kmeans2OracleCtes(kExpr: String): String =
    s"""${kmeansOracleCtes(kExpr)},
       |mem AS (
       |  SELECT a1.vec_id, a1.c_id AS cid, a1.qd, qn.qn2,
       |    row_number() OVER (PARTITION BY a1.c_id ORDER BY a1.vec_id) AS rn,
       |    (count(*) OVER (PARTITION BY a1.c_id) + 127) // 128 AS kloc
       |  FROM a1 JOIN qn ON a1.vec_id = qn.vec_id
       |), ${Lloyd.iterateSql(LocalLevel, "mem", "rn <= kloc", "rn")}""".stripMargin

  /** Corpus clustering as the TWO-LEVEL scheme (round 12; the flat
    * one-stage form survives inside it as the coarse half and in the
    * kmeansIterate convergence spec): coarse cells at [[ivfK]](N),
    * then [[kmeans2Local]]'s occupancy-128 k-means inside each cell.
    * Output is one row per FINAL cluster (cc_id = coarse cell,
    * lc_id = local sub-cluster): members at local-assign time
    * (n_before), members after the local reassign (n_after — a
    * sub-cluster can win or lose members when its centroid moves off
    * its seed), and the local-centroid digest. At the verify SFs
    * (N ≤ 2048, kc = 16, most cells under 128 members) most cells
    * carry a single sub-cluster and the output is the familiar
    * ~16-row table; the oracle mirrors the full two-level chain so
    * any occupancy split is verified, not special-cased. */
  val clusterKmeans: Q = Q(
    "cluster_kmeans",
    (s, dir) => {
      val (lc1, la1) = kmeans2Stage(s, dir)
      val n1 = la1.groupBy("cid", "lcid").agg(count(lit(1)).as("n_after"))
      // both sides are ~N/128 rows at scale: a shuffle equi-join on the
      // composite key (NOT a broadcast — the flat row's k-row broadcast
      // assumption died with the flat scheme)
      lc1.join(n1, Seq("cid", "lcid"), "left")
        .select(col("cid").as("cc_id"), col("lcid").as("lc_id"),
          col("n_before"), coalesce(col("n_after"), lit(0L)).as("n_after"),
          expr(sigDigest("transform(ld, x -> CAST(x AS BIGINT) + 127)"))
            .as("centroid_digest"))
        .orderBy("cc_id", "lc_id")
    },
    Some(s"""WITH pk AS (
            |  SELECT ${duckIvfK("count(*)")} AS kk FROM embeddings
            |), ${kmeans2OracleCtes("SELECT kk FROM pk")},
            |n1 AS (SELECT cid, lcid, count(*) AS n_after FROM la1 GROUP BY 1, 2)
            |SELECT c.cid AS cc_id, c.lcid AS lc_id, c.n_before,
            |  coalesce(n1.n_after, 0) AS n_after,
            |  ${duckSigDigest("list_transform(ld, x -> CAST(x AS BIGINT) + 127)")}
            |    AS centroid_digest
            |FROM lc1 c
            |LEFT JOIN n1 ON c.cid = n1.cid AND c.lcid = n1.lcid
            |ORDER BY cc_id, lc_id""".stripMargin))

  /** SemDeDup-style semantic near-dup detection: the two-level
    * k-means clusters are the BLOCKING key — exact float cosines are
    * computed only WITHIN a final (cid, lcid) cluster, never across
    * the corpus. This is dedup_embedding with a learned partition of
    * the space instead of random hyperplanes: at 100 TB the candidate
    * set per vector is its ~128-member final cluster, the pair join is
    * a self-join on the composite cluster key, and everything upstream
    * is the already-audited coarse Lloyd stage plus [[kmeans2Local]].
    * Pairs at cosine >= 0.4 (dedup_embedding's threshold, so the two
    * blocking strategies are directly comparable on the same data). */
  val dedupSemantic: Q = Q(
    "dedup_semantic",
    (s, dir) => {
      // Two-level blocking (round 12 — kills the flat N×(N/128) assign,
      // the registry's last quadratic): coarse cells at ivfK(N) ≈ 4√N
      // past the crossover, then occupancy-128 local k-means per cell;
      // total assign work O(N^1.5) with NO corpus-sized broadcast
      // anywhere (the flat scheme's k×dims centroid broadcast hit ~2 GB
      // at N = 1e9). The blocking key is the FINAL (cid, lcid) cluster,
      // whose ~128 expected occupancy keeps the exact-cosine pair side
      // linear in N — the same contract the flat scheme bought
      // quadratically. Below the 2^18 crossover the coarse half is
      // IDENTICAL to the old flat assign (ivfK = kmeansK there); the
      // local half just re-centers cells under 128 members and splits
      // the ones above.
      val (_, la1) = kmeans2Stage(s, dir)
      // The MaxEmbBucket cap remains as the skew guard (a degenerate
      // cluster — e.g. one vector value repeated N times — still gets
      // sampled down instead of exploding the join); at the
      // verify/bench SFs every cluster is under it, unchanged.
      val bounded = Blocking.sample(la1, "vec_id", "cid", "lcid")
      val e = emb(s, dir).select(col("vec_id"), col("v"), col("n2"))
      val cand = Blocking.selfJoin(bounded, "vec_id", "cid", "lcid")
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      cand
        .join(e.as("ea"), col("va") === col("ea.vec_id"))
        .join(e.as("eb"), col("vb") === col("eb.vec_id"))
        .withColumn("cos", expr(s"${dot("ea.v", "eb.v")} / sqrt(ea.n2 * eb.n2)"))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos_sim"))
    },
    Some(s"""WITH pk AS (
            |  SELECT ${duckIvfK("count(*)")} AS kk FROM embeddings
            |), ${kmeans2OracleCtes("SELECT kk FROM pk")},
            |ab AS (
            |  ${Blocking.sampleSql("la1", "vec_id", "cid", "lcid")}),
            |pairs AS (
            |  SELECT a.vec_id AS va, b.vec_id AS vb
            |  FROM ${Blocking.selfJoinSql("ab", "vec_id", "cid", "lcid")}),
            |scored AS (
            |  SELECT va, vb, ${duckCosine("ea.v", "eb.v")} AS cos
            |  FROM pairs
            |  JOIN e ea ON va = ea.vec_id
            |  JOIN e eb ON vb = eb.vec_id)
            |SELECT va, vb, round(cos, 6) AS cos_sim
            |FROM scored WHERE cos >= 0.4""".stripMargin))

  /** Anchors for the blocking-recall ground truth: exact recall needs
    * an all-pairs baseline, which is quadratic and impossible at
    * corpus scale — so the harness estimates it on a deterministic
    * anchor sample instead, the way production eval harnesses do.
    * A pair (va < vb) is evaluated iff va ≡ 0 (mod S); S grows with
    * the corpus so truth work is N × (N/S) ≈ N × AnchorCap — LINEAR
    * in N. Since va is uniform over ids this keeps a 1/S uniform
    * sample of true pairs, an unbiased recall estimator. At the
    * oracle/verify SFs (≤ AnchorCap vectors) S = 1 and the estimate
    * IS the exact all-pairs recall. */
  private val AnchorCap = 2048L

  /** Blocking-recall harness for near-dup detection: BOTH blocking
    * strategies (random-hyperplane LSH = dedup_embedding's, learned
    * k-means clusters = dedup_semantic's) measured against the
    * anchor-sampled exact ground truth at the same 0.4 threshold —
    * the evidence that justifies trusting a blocked pipeline's pair
    * coverage before pointing it at a corpus where all-pairs is
    * impossible. The truth pass broadcasts only the ≤ AnchorCap
    * anchor vectors under a BroadcastNestedLoopJoin (each input row
    * scans the anchor set once), and the recall join shuffles on the
    * sampled pair keys — no data-dependent set is ever hinted
    * broadcast. e.count() is bounded driver metadata (one scalar). */
  val dedupBlockingRecall: Q = Q(
    "dedup_blocking_recall",
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("v"), col("n2"))
      val sMod = math.max(1L,
        (Tables(s, dir).embeddingsCount + AnchorCap - 1L) / AnchorCap)
      // The three chains below — anchor-sampled exact truth, the
      // hyperplane strategy's bucket machinery, the kmeans strategy's
      // two-level Lloyd training — are INDEPENDENT until the final
      // union, but each runs several eager driver actions
      // (localCheckpoints, the truth count). Overlapped (graft.Par),
      // the truth scan and the hyperplane window back-fill the cores
      // the kmeans chain's small serial training jobs leave idle.
      // Results are unchanged: same frames, same final plan modulo
      // which leaves are checkpoints.
      val ((truth, nTrue), hp, km) = Par.triple(s)({
        val anchors = e.filter(col("vec_id") % sMod === 0L)
          .select(col("vec_id").as("a_id"), col("v").as("av"),
            col("n2").as("an2"))
        val t = e.as("b")
          .join(broadcast(anchors), col("a_id") < col("vec_id"))
          .withColumn("cos", expr(s"${dot("av", "v")} / sqrt(an2 * n2)"))
          .filter(col("cos") >= 0.4)
          .select(col("a_id").as("va"), col("vec_id").as("vb"))
          .localCheckpoint()
        (t, t.count())
      },
        Dedup.embeddingFoundPairs(s, dir, Some(sMod)).select("va", "vb"),
        dedupSemantic.run(s, dir).select("va", "vb"))
      // guard the ratio at tiny SFs where the truth set can be empty
      // (0/0 would be null here but an error in the oracle dialect)
      val denom = math.max(nTrue, 1L)

      def recallOf(found: DataFrame, strategy: String): DataFrame = {
        // restrict the found side to anchor pairs first (a no-op for
        // the join result — every truth row has va ≡ 0 mod S — but it
        // shrinks the join input by the sample factor). For the
        // kmeans strategy va IS the a-side vec_id, so Catalyst pushes
        // this predicate to the scan. The hyperplane strategy's
        // shipped row hides member ids under `least()` (round 15's
        // measured 23 → 47 s sf10 harness regression), so the harness
        // enters the machinery through the EVAL-ONLY anchored
        // expansion below — anchor predicate applied before the
        // member-expansion joins; identical rep pairs, identical
        // anchored pair set, none of the full member-pair
        // materialization. The filter here stays as a (no-op) guard
        // for that path too.
        val f = found.filter(col("va") % sMod === 0L)
          .select(col("va").as("f_va"), col("vb").as("f_vb"))
        truth.join(f,
            col("va") === col("f_va") && col("vb") === col("f_vb"), "left")
          .agg(count(col("f_va")).as("n_found"))
          .select(lit(strategy).as("strategy"), col("n_found"),
            lit(nTrue).as("n_true"),
            expr(s"n_found * 100 div $denom").as("recall_pct"))
      }

      recallOf(hp, "hyperplane").unionByName(recallOf(km, "kmeans"))
        .orderBy("strategy")
    },
    Some(s"""WITH pk AS (
            |  SELECT ${duckIvfK("count(*)")} AS kk,
            |    ${Dedup.duckEmbBitsFrom("count(*)")} AS bits
            |  FROM embeddings
            |), ${kmeans2OracleCtes("SELECT kk FROM pk")},
            |params AS (
            |  SELECT greatest(1, CAST(ceil(count(*) / 2048.0) AS BIGINT)) AS s
            |  FROM e
            |), truth AS (
            |  SELECT a.vec_id AS va, b.vec_id AS vb
            |  FROM e a CROSS JOIN params p
            |  JOIN e b ON a.vec_id < b.vec_id
            |  WHERE a.vec_id % p.s = 0
            |    AND ${duckCosine("a.v", "b.v")} >= 0.4
            |), keys AS (
            |  SELECT vec_id, v, unnest(${duckHyperplaneKeysN("v", "pk.bits")}) AS bk
            |  FROM e CROSS JOIN pk
            |), kb AS (
            |  ${Blocking.sampleSql("keys", "vec_id", "bk")}
            |), hp AS (
            |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            |  FROM ${Blocking.selfJoinSql("kb", "vec_id", "bk")}
            |  WHERE ${duckCosine("a.v", "b.v")} >= 0.4
            |), kmb AS (
            |  ${Blocking.sampleSql("la1", "vec_id", "cid", "lcid")}
            |), km AS (
            |  SELECT a.vec_id AS va, b.vec_id AS vb
            |  FROM ${Blocking.selfJoinSql("kmb", "vec_id", "cid", "lcid")}
            |  JOIN e ea ON a.vec_id = ea.vec_id
            |  JOIN e eb ON b.vec_id = eb.vec_id
            |  WHERE ${duckCosine("ea.v", "eb.v")} >= 0.4
            |), t AS (SELECT count(*) AS n_true,
            |  greatest(count(*), 1) AS denom FROM truth)
            |SELECT 'hyperplane' AS strategy,
            |  (SELECT count(*) FROM truth JOIN hp USING (va, vb)) AS n_found,
            |  n_true,
            |  (SELECT count(*) FROM truth JOIN hp USING (va, vb)) * 100 // denom
            |    AS recall_pct
            |FROM t
            |UNION ALL
            |SELECT 'kmeans',
            |  (SELECT count(*) FROM truth JOIN km USING (va, vb)),
            |  n_true,
            |  (SELECT count(*) FROM truth JOIN km USING (va, vb)) * 100 // denom
            |FROM t
            |ORDER BY strategy""".stripMargin))

  // ---- incremental index ------------------------------------------------

  /** Incremental IVF index ingest — the maintenance half of a living
    * vector-search system (ann_ivf is the one-shot batch build; a real
    * corpus GROWS): embedding batches stream in, each vector is
    * assigned map-side to its nearest fixed coarse centroid (broadcast
    * — the trained quantizer of a production IVF) and APPENDED to a
    * cell-partitioned lake index carrying (v, n2). Nothing is ever
    * rewritten or shuffled on ingest; per-batch cost is O(batch).
    * The search side collects the probes' cell ids (≤ #probes values —
    * metadata) and scans ONLY those cell directories (literal
    * partition pruning), exact-reranking inside — at 100 TB a query
    * reads its probed cells, never the index. The oracle is ann_ivf's
    * from-scratch SQL verbatim: a hash match proves the streamed,
    * persisted index answers queries identically to the one-shot
    * batch build under an arbitrary ingest split (spec also pins the
    * cell-partitioned append-only layout and the pruned search scan). */
  val annIncremental: Q = Q(
    "ann_incremental",
    (s, dir) => {
      val indexRoot = graft.sources.Formats.scratchDir("graft_ann_index")
      // the embeddings staged once per source dir as TWO parquet files,
      // so `maxFilesPerTrigger=1` forces two ingest batches
      val staged = graft.sources.Formats.stageOnce(s, "ann_feed", dir) { root =>
        Tables(s, dir).embeddings.select("vec_id", "embedding")
          .repartition(2).write.mode("overwrite").parquet(root + "/emb")
        root + "/emb"
      }
      val cents = emb(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
        .localCheckpoint(true)
      Streams.drainEach(Streams.fileFeed(s, staged)) { (batch, _) =>
        val e = batch
          .select(col("vec_id"), expr(toDouble("embedding")).as("v"))
          .withColumn("n2", expr(dot("v", "v")))
          .localCheckpoint()
        // slim pair stream (vec_id, c_id, c_cos) into a codegen
        // HashAggregate argmax; v/n2 re-attached by a vec_id join
        // rather than dragged through the aggregate as first()
        Lloyd.nearest(e.crossJoin(broadcast(cents)).select(col("vec_id"), col("c_id"),
            cosWith("v", "n2", "cv", "cn2").as("c_cos")), Seq("vec_id"), "c_id", "c_cos", "cell")
          .join(e, "vec_id")
          .select(col("vec_id"), col("cell"), col("v"), col("n2"))
          .write.mode("append").partitionBy("cell")
          .parquet(s"$indexRoot/vectors")
      }
      // maintenance pass the append-only ingest needs to survive years
      // of batches: coalesce each fragmented cell back to target file
      // count (here: the two ingest batches' files per cell -> 1)
      compactIndex(s, s"$indexRoot/vectors")
      val idx = s.read.parquet(s"$indexRoot/vectors")
      val probes = idx.filter(expr(ProbeFilter))
        .select(col("vec_id").as("probe_id"), col("cell"),
          col("v").as("pv"), col("n2").as("pn2"))
        .localCheckpoint(true)
      // ≤ #probes cell ids — metadata; the literal IN prunes the scan
      // to the probed cell directories (partition inference types the
      // directory column as int, hence the Number bridge)
      val probeCells = probes.select("cell").distinct()
        .collect().map(_.get(0).asInstanceOf[Number].longValue).sorted
      val cands = idx.filter(col("cell").isin(probeCells.map(Long.box): _*))
        .join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("n_id"),
          cosWith("v", "n2", "pv", "pn2").as("cos"))
      topK(cands, specOf("ann_ivf").k)
    },
    Some(oracleSql(specOf("ann_ivf"))))

  /** Small-file compaction for the cell-partitioned incremental index:
    * append-only ingest writes one file per (micro-batch x cell), so a
    * year of daily batches leaves 365 x k files — the classic
    * small-file death (every search task pays an open/footer-read per
    * file, and the namenode/listing cost grows without bound).
    *
    * The pass is O(fragmented cells), never O(index):
    *  1. a filesystem LISTING (metadata only) finds the cells whose
    *     data-file count exceeds `targetFilesPerCell`;
    *  2. ONE job reads exactly those cells (the literal `cell IN`
    *     prunes the scan to their directories) and repartitions on
    *     `cell`, so each cell's rows land in a single task -> a single
    *     output file per cell;
    *  3. dynamic partition overwrite swaps only the rewritten cell
    *     directories — untouched cells' files are never opened.
    *
    * The rewrite is a pure physical re-layout (same rows, same
    * schema), so search results bit-match pre-compaction — spec-pinned
    * (AnnMultimodalSpec), and the registry row runs it between ingest
    * and search. The fragmented cells are pinned (localCheckpoint)
    * before the overwrite because the write replaces the very files
    * the plan reads; a deployment bounds each pass's cell list to keep
    * that pinned set within executor storage — the pass is idempotent,
    * so chunking it is safe.
    *
    * Returns (cells rewritten, total cells). */
  private[graft] def compactIndex(s: SparkSession, vectorsRoot: String,
      targetFilesPerCell: Int = 1): (Int, Int) = {
    require(targetFilesPerCell >= 1, "targetFilesPerCell must be >= 1")
    val root = new org.apache.hadoop.fs.Path(vectorsRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0)
    val cellDirs = fs.listStatus(root).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("cell=")
    }
    def dataFileCount(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val fragmented = cellDirs
      .filter(d => dataFileCount(d.getPath) > targetFilesPerCell)
      .map(_.getPath.getName.stripPrefix("cell=").toLong).sorted
    if (fragmented.isEmpty) return (0, cellDirs.length)
    val pinned = s.read.parquet(vectorsRoot)
      .filter(col("cell").isin(fragmented.map(Long.box): _*))
      .repartition(fragmented.length, col("cell"))
      .localCheckpoint(true)
    try
      pinned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(vectorsRoot)
    finally { pinned.unpersist(false); () }
    (fragmented.length, cellDirs.length)
  }

  val all: Seq[Q] = ladderRows ++ Seq(vecNorms, vecQuantize, vecProject,
    clusterKmeans, dedupSemantic, dedupBlockingRecall, annIncremental)
}
