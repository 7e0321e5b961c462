package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — query side broadcast, scoring is
  * pure map work (higher-order functions, codegen'd, float→double exact),
  * top-k via a window partitioned by query. Scale path: IVF — a coarse
  * centroid quantizer prunes the scan to `nProbe` inverted lists, so the
  * exact scoring touches a fraction of the corpus; at 100 TB the corpus
  * side stays partitioned by centroid and only candidate buckets are read.
  */
object Similarity {

  /** Dot product of two numeric arrays (double; native codegen'd kernel —
    * see graft.functions.VectorExpressions for why not zip_with/aggregate). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (double; sequential accumulation, fused one-pass
    * kernel — numerically identical to dot/(√Σa²·√Σb²) via HOFs and to
    * DuckDB's list_cosine_similarity over DOUBLE[]). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_cosine(a, b)

  /** Rank the (qid, nid, score) relation to each query's top k — as a
    * k-bounded heap AGGREGATE (graft.functions.TopK), not a ranking
    * window: the window would shuffle-and-sort every scored row, while
    * the aggregate's map-side partials put at most k rows per query per
    * input partition on the wire. Ties broken by ascending id, identical
    * to `ORDER BY score DESC, nid`. `roundScore = false` surfaces the
    * raw double: decision consumers — the embedding
    * admission threshold — must compare the UNROUNDED cosine, or a
    * score in [τ−5e-5, τ) rounds up across the boundary and diverges
    * from any exact re-derivation. Ranking itself is identical either
    * way (rounding happens after the heap). */
  private[operators] def rankTopK(scored: DataFrame, k: Int,
      roundScore: Boolean = true): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k_by_score(
        col("nid").cast("long"), col("score"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("qid"), col("e.nid").as("nid"), (col("r") + 1).as("rank"),
        (if (roundScore) round(col("e.score"), 4) else col("e.score"))
          .as("score"))

  /** Brute-force top-k cosine neighbors of each query vector.
    * Output: (qid, vec_id, score) with rank ≤ k per query; ties broken by
    * neighbor id (deterministic). Self-matches excluded when ids collide. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val scored = FanOut.fanOutSmall(corpus)
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    rankTopK(scored, k)
  }

  /** √N-scaled seed modulus (round 12): `mod = ⌈√N⌉` puts the list count
    * nlist = N/mod ≈ √N, so per-probe inverted-list length AND centroid
    * count both grow as √N. A FIXED modulus makes nlist grow linearly
    * with the corpus and the k-means/coarse-assign `corpus × centroids`
    * stage quadratic — the measured q23 6–11× wall at 10× data. One
    * count() job (columnless parquet scan, row-group-stat cheap); the
    * ceil(sqrt(·)) is a correctly-rounded IEEE op any engine reproduces,
    * so the DuckDB oracle derives the identical modulus in SQL. */
  def autoCentroidMod(corpus: DataFrame): Int =
    math.max(1, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)

  /** √N-scaled TRAINING-sample modulus (round 13): Lloyd's rounds over
    * the full corpus cost corpus × nlist per round = N^1.5 with the √N
    * nlist — the round-12 measured 37.8× wall at 100× data. Training on
    * the deterministic sample `id % trainMod == 0` with
    * `trainMod = ⌈√N⌉ / 8` caps the sample at ~8·nlist vectors, making
    * training ~8N per round (data-linear) while each centroid still sees
    * ~8 sample points on average — the standard bounded-sample k-means
    * trade (centroids are statistics; they don't need every point).
    * Engine-portable: integer division of the same correctly-rounded
    * ⌈√count⌉ the seeding uses, so the DuckDB oracle re-derives the
    * identical sample. */
  def autoTrainMod(corpus: DataFrame): Int =
    math.max(1, math.ceil(math.sqrt(corpus.count().toDouble)).toInt / 8)

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer.
    *
    * Seeding: corpus vectors with `id % centroidMod == 0` (deterministic,
    * engine-portable); `centroidMod = 0` derives the √N-scaled default
    * via [[autoCentroidMod]]. Each of `iters` rounds:
    *
    *   1. ASSIGN — every corpus vector to its max-cosine centroid (ties →
    *      smallest cid), as a broadcast cross join + one map-side-combinable
    *      `max_by` aggregate (never a ranking window over the corpus);
    *   2. UPDATE — per-dimension centroid means in EXACT integer space:
    *      each element is scaled by 10⁶ and floored to a long, the longs are
    *      summed (exact, order-independent — a double mean's low bits would
    *      depend on partition order), and mean = (sum⟶double / n) / 10⁶,
    *      two IEEE ops any engine reproduces bit-for-bit. The DuckDB oracle
    *      mirrors the same arithmetic, so assignments never drift.
    *
    * The update is `dim` codegen'd sum aggregates over the assignment — one
    * shuffle per round keyed by cid, map-side partials, no collect; empty
    * clusters drop out (standard Lloyd's behavior). Centroids stay a tiny
    * relation (one row per cluster) checkpointed per round.
    *
    * `trainMod` (round 13): > 1 trains each round on the deterministic
    * sample `id % trainMod == 0` instead of the full corpus — the
    * data-linear path at scale (see [[autoTrainMod]], which `0`
    * derives); 1 keeps the exact full-corpus rounds. */
  def kmeansCentroids(
      corpus: DataFrame, dim: Int, centroidMod: Int = 0, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Int = 1): DataFrame = {
    val mod = if (centroidMod > 0) centroidMod else autoCentroidMod(corpus)
    val tmod = if (trainMod > 0) trainMod else autoTrainMod(corpus)
    val trainSet =
      if (tmod > 1) corpus.filter(pmod(col(idCol), lit(tmod)) === 0)
      else corpus
    var cents = corpus.filter(pmod(col(idCol), lit(mod)) === 0)
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<double>").as("cvec"))
    for (_ <- 1 to iters) {
      // NO fan-out on the training loop (round 19): trainSet is the
      // ~8·√N-row bounded sample — its kernel round is ~8·N work spread
      // by the agg's map-side combine, and the per-iteration exchange
      // regressed q23 at 32 cores (plan-stats estimates do not reduce
      // through the sampling filter, so the fan-out fired on every
      // bench-scale run and would never fire at production scale anyway)
      val assigned = trainSet
        .select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"))
        .crossJoin(broadcast(cents))
        .withColumn("csim", cosine(col("nvec"), col("cvec")))
        .groupBy(col("nid"))
        .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("cid"),
          first(col("nvec")).as("nvec"))
      val sumCols = (0 until dim).map(i =>
        sum(floor(element_at(col("nvec"), i + 1) * lit(1e6)).cast("long")).as(s"_s$i"))
      cents = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("_n"), sumCols: _*)
        .select(col("cid"), array((0 until dim).map(i =>
          col(s"_s$i").cast("double") / col("_n") / lit(1e6)): _*).as("cvec"))
        .localCheckpoint(false) // lazy (round 19): truncates the plan per
        // round either way; materializes inside the first real action
    }
    cents
  }

  /** Per-vector symmetric INT8 quantization statistics — the embedding
    * compression step of a large-scale ANN/storage pipeline (scale =
    * max|x|/127, q_i = round(x_i/scale)), reported entirely in
    * engine-portable arithmetic: the quantized codes are integers
    * (`floor(x·127/amax + 0.5)` — IEEE ops any engine reproduces
    * bit-for-bit), and the reconstruction error is accumulated in
    * FIXED-POINT (floor(|x − q·amax/127|·10⁹) summed as longs) because a
    * float sum's low bits would depend on partition order.
    *
    * Output: (idCol, amax, n_sat, sum_q, sum_q2, err_e9, mass_e9, err_bp)
    * — n_sat = saturated codes (|q| = 127), err_bp = quantization error
    * mass in basis points of the absolute vector mass.
    *
    * Shape: posexplode → per-vector max aggregate → broadcast-back join →
    * one codegen'd aggregate; two narrow shuffles keyed by vector id. */
  def quantizeInt8Stats(
      df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val el = df.select(col(idCol).as("id"),
      explode(col(vecCol).cast("array<double>")).as("x"))
    val amax = el.groupBy(col("id")).agg(max(abs(col("x"))).as("amax"))
    el.join(amax, "id")
      .withColumn("q", when(col("amax") === 0d, lit(0L))
        .otherwise(floor(col("x") * 127 / col("amax") + 0.5).cast("long")))
      .withColumn("recon", when(col("amax") === 0d, lit(0d))
        .otherwise(col("q") * col("amax") / 127))
      .groupBy(col("id"))
      .agg(first(col("amax")).as("amax"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sum_q2"),
        sum(floor(abs(col("x") - col("recon")) * 1e9).cast("long")).as("err_e9"),
        sum(floor(abs(col("x")) * 1e9).cast("long")).as("mass_e9"))
      .select(col("id").as(idCol), round(col("amax"), 4).as("amax"),
        col("n_sat"), col("sum_q"), col("sum_q2"), col("err_e9"), col("mass_e9"),
        when(col("mass_e9") === 0, lit(0L))
          .otherwise(expr("err_e9 * 10000 DIV mass_e9")).as("err_bp"))
  }

  /** IVF (inverted-file) approximate top-k with mod-seeded centroids —
    * fixed-seed quantizer, same plan shape as the k-means path; prefer
    * `ivfTopKWith(kmeansCentroids(...), ...)` for data-dependent lists. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centroidMod: Int = 0, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mod = if (centroidMod > 0) centroidMod else autoCentroidMod(corpus)
    val cents = corpus.filter(pmod(col(idCol), lit(mod)) === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    ivfTopKWith(corpus, queries, cents, k, nProbe, idCol, vecCol)
  }

  /** IVF approximate top-k over an explicit centroid table (cid, cvec).
    * Every corpus vector is assigned to its nearest centroid (one broadcast
    * join, map-side argmax); each query probes its `nProbe` nearest
    * centroids and scores only those lists. */
  /** Coarse IVF assignment: (nid, cid[, nvec]) — the 100 TB side: argmax
    * as a map-side-combinable max_by aggregate (ties → smallest cid), NOT
    * a ranking window — a window would shuffle corpus×centroids scored
    * rows by vector id. Shared by the raw-vector and PQ-scored paths. */
  private[operators] def coarseAssign(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, carryVec: Boolean): DataFrame = {
    val scored = FanOut.fanOutSmall(corpus)
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("nvec"), col("cvec")))
      .groupBy(col("nid"))
    val cid = max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("cid")
    if (carryVec) scored.agg(cid, first(col("nvec")).as("nvec"))
    else scored.agg(cid)
  }

  /** Super-level structure over a centroid table (round 14, factored so
    * BOTH the corpus assignment and the query probe route through it):
    * `supers` = every ⌈√nlist⌉-th centroid in cid rank order
    * (deterministic, no training — ~N^¼ rows for the √N nlist), and
    * `cmap` = each centroid mapped to its nearest super (ties → smallest
    * sid; a tiny nlist × √nlist broadcast argmax). `supers` is the ONLY
    * relation the plans below broadcast unconditionally — it stays
    * ~N^¼-sized at any corpus. `cmap` is nlist-row (√N): consumers join
    * it UNHINTED, so Catalyst/AQE broadcasts it while it fits (every
    * practical scale up to ~10¹⁰ vectors) and falls back to a sid-keyed
    * shuffle join beyond, where each super's member group (~N^¼ rows)
    * is the join-partition granularity AQE can split on. */
  private[operators] def superStructure(cents: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val nlist = cents.count() // tiny relation (≈ √N rows)
    val smod = math.max(1L, math.ceil(math.sqrt(nlist.toDouble)).toLong)
    // rank on the unpartitioned window: nlist rows, one task, fine
    val ranked = cents.withColumn("rk",
      row_number().over(Window.orderBy(col("cid"))) - 1)
    val supers = ranked.filter(pmod(col("rk"), lit(smod)) === 0)
      .select(col("cid").as("sid"), col("cvec").as("svec"))
    (supers, superMap(cents, supers))
  }

  /** The centroid → super routing map for a GIVEN super set: each
    * centroid to its nearest super (ties → smallest sid). Factored out
    * so a persisted super set ([[AnnIndex]] `supers/` —
    * frozen at build time, stable under hot-list splits) derives its
    * map over the CURRENT centroid relation: split children enter the
    * map by the same rule, every other centroid's routing is unchanged
    * by construction. Cost: nlist × nSupers kernel evaluations with the
    * N^¼-row super side broadcast — ~N^¾ work, planning-scale. */
  private[operators] def superMap(cents: DataFrame, supers: DataFrame): DataFrame =
    cents.crossJoin(broadcast(supers))
      .withColumn("ssim", cosine(col("cvec"), col("svec")))
      .groupBy(col("cid"))
      .agg(max_by(col("sid"), struct(col("ssim"), (-col("sid")).as("ns"))).as("sid"),
        first(col("cvec")).as("cvec"))

  /** Two-level coarse assignment (round 13) — the flat argmax is
    * corpus × nlist kernel evaluations; with the (correct) √N nlist that
    * is N^1.5, the one superlinear residue of the round-12 probe table
    * (q23: 37.8× wall at 100× data). A corpus vector resolves
    * nearest-super (N × N^¼, broadcast) then nearest-centroid WITHIN
    * that super's member group (N × avg-group ≈ N × N^¼) — ~2·N·N^¼
    * total, data-linear in practice; the member lookup joins `cmap`
    * unhinted (see [[superStructure]] for the scale story — round 14
    * removed the forced √N-row broadcast). The price is the standard
    * hierarchical-quantizer approximation: a vector whose true nearest
    * centroid lives under a different super lands on its group-local
    * argmax instead (list quality, not correctness — the oracle
    * re-derives the identical two-level choice). Ties at every level
    * break to the smallest id, so both engines agree exactly. */
  private[operators] def coarseAssignTwoLevel(corpus: DataFrame,
      supers: DataFrame, cmap: DataFrame,
      idCol: String, vecCol: String, carryVec: Boolean): DataFrame = {
    val v2s = FanOut.fanOutSmall(corpus)
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .crossJoin(broadcast(supers))
      .withColumn("ssim", cosine(col("nvec"), col("svec")))
      .groupBy(col("nid"))
      .agg(max_by(col("sid"), struct(col("ssim"), (-col("sid")).as("ns"))).as("sid"),
        first(col("nvec")).as("nvec"))
    // second kernel round: v2s is an aggregate output that AQE coalesces
    // to ~1 partition at small scale, re-serializing the member-group
    // argmax — spread it again before the dense join (FanOut scaladoc)
    val scored = FanOut.fanOutSmall(v2s).join(cmap, "sid")
      .withColumn("csim", cosine(col("nvec"), col("cvec")))
      .groupBy(col("nid"))
    val cid = max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("cid")
    if (carryVec) scored.agg(cid, first(col("nvec")).as("nvec"))
    else scored.agg(cid)
  }

  /** Each query's `nProbe` nearest inverted lists: (qid[, qvec], cid).
    * Query side is small; a ranking window is fine here. The FLAT probe:
    * scores every query against the full centroid table — best recall,
    * but the broadcast grows as √N with the corpus. */
  private[operators] def queryProbes(queries: DataFrame, cents: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qw = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= nProbe)
      .drop("cvec", "csim", "crank")
  }

  /** Two-level query probe: a query resolves its nearest
    * SUPER (broadcast `supers`, ~N^¼ rows — ties → smallest sid), then
    * takes its `nProbe` nearest centroids WITHIN that super's member
    * group — the same hierarchical routing the corpus assignment uses,
    * so no √N-row relation is broadcast anywhere in the two-level plan
    * (the flat probe ships the full nlist centroid table to every
    * executor). The query side of the member join IS broadcast —
    * it is genuinely tiny — so `cmap` streams once, never shuffles the
    * corpus. Recall trade: probes come from one member group, so a
    * query on a super boundary can miss a neighboring group's list
    * (measured in PLANS.md §ANN recall); the corpus-side assignment has
    * the same boundary behavior, which keeps probe and list geometry
    * consistent. */
  private[operators] def queryProbesTwoLevel(queries: DataFrame,
      supers: DataFrame, cmap: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qsup = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(supers))
      .withColumn("ssim", cosine(col("qvec"), col("svec")))
      .groupBy(col("qid"))
      .agg(max_by(col("sid"), struct(col("ssim"), (-col("sid")).as("ns"))).as("sid"),
        first(col("qvec")).as("qvec"))
    val qw = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    cmap.join(broadcast(qsup), "sid")
      .withColumn("csim", cosine(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qvec"), col("cid"))
  }

  /** `twoLevel` routes BOTH the corpus assignment and the query probe
    * through the hierarchical quantizer ([[coarseAssignTwoLevel]] /
    * [[queryProbesTwoLevel]]) — the 100 TB path: nothing √N-sized is
    * force-broadcast anywhere in that plan (round 14; round 13 routed
    * only the corpus side and still shipped the full nlist table for
    * the probe). */
  def ivfTopKWith(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      twoLevel: Boolean = false): DataFrame = {
    val cents = centroids.select(col("cid"), col("cvec"))
    val (corpusAssigned, probes) =
      if (twoLevel) {
        val (supers, cmap) = superStructure(cents)
        (coarseAssignTwoLevel(corpus, supers, cmap, idCol, vecCol, carryVec = true),
          queryProbesTwoLevel(queries, supers, cmap, nProbe, idCol, vecCol))
      } else
        (coarseAssign(corpus, cents, idCol, vecCol, carryVec = true),
          queryProbes(queries, cents, nProbe, idCol, vecCol))
    val scored = probes.join(FanOut.fanOutSmall(corpusAssigned), "cid")
      .filter(col("nid") =!= col("qid"))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    rankTopK(scored, k)
  }

  /** Fixed-CELL-COUNT seed modulus for the PQ codebook (round 13): a
    * fixed seedMod makes the cell count grow linearly with the corpus
    * and the encode stage (corpus × cells × m kernels) QUADRATIC — the
    * measured q102 346× wall at 100× data, the same disease the IVF
    * quantizer's fixed modulus had in round 11. Real PQ codebooks have a
    * FIXED number of cells per subspace (classically 256 = one byte per
    * code), so the modulus scales as N/cells: encode stays
    * corpus × 256 × m = data-linear, and the broadcast codebook is
    * constant-size at any corpus. One columnless count job; integer
    * division both engines reproduce. */
  def autoPqSeedMod(corpus: DataFrame, cells: Int = 256): Int =
    math.max(1, (corpus.count() / cells.toLong).toInt)

  /** Seeded product-quantization codebook: one row per (subspace j, code),
    * where the code entries are the corpus vectors with
    * `id % seedMod == 0` (deterministic, engine-portable — the same seeding
    * basis as the IVF quantizer); `seedMod = 0` derives the fixed-cell
    * default via [[autoPqSeedMod]]. Each row carries the FULL seed vector;
    * the subspace kernel reads only its own subrange, so no slicing copies
    * are materialized. Swap in a learned codebook (same schema: j, code,
    * cvec) for data-dependent cells. */
  def pqCodebook(
      corpus: DataFrame, m: Int, seedMod: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mod = if (seedMod > 0) seedMod else autoPqSeedMod(corpus)
    corpus.filter(pmod(col(idCol), lit(mod)) === 0)
      .select(col(idCol).cast("long").as("code"), col(vecCol).as("cvec"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
  }

  /** Product-quantization approximate top-k (ADC — asymmetric distance
    * computation). Each corpus vector is ENCODED once as `m` codebook codes
    * (its per-subspace nearest cell); each query builds an `m × |codes|`
    * distance table; the approximate distance of (query, vector) is the sum
    * of the query's table entries at the vector's codes.
    *
    * All distances are fixed-point integer L2² ([[graft.functions
    * .VectorExpressions.vec_subl2sq_fp6]]): exact, order-independent,
    * reproducible in any engine — the DuckDB oracle re-derives identical
    * codes and scores.
    *
    * Scale shape (the 100 TB story): the corpus is touched exactly once to
    * compute codes — a broadcast of the tiny codebook, one codegen'd kernel
    * per (vector, cell), and one map-side-combinable argmin aggregate keyed
    * by (vector, subspace). Scoring never reads the raw corpus vectors
    * again: it joins the m-codes-per-vector relation (32× smaller than
    * 64-dim float data; 8 longs vs 256 bytes) against a broadcast query
    * table and partially aggregates the per-subspace sums map-side. Ranking
    * is the k-bounded heap aggregate, not a window. */
  private def subDistOn(vec: Column, dsub: Int): Column =
    graft.functions.VectorExpressions
      .vec_subl2sq_fp6(vec, col("cvec"), col("j") * dsub, dsub)

  /** PQ encode: argmin cell per (vector, subspace); ties → smallest code.
    * One broadcast of the codebook + one map-side-combinable aggregate. */
  private[operators] def pqEncode(corpus: DataFrame, cb: DataFrame, dsub: Int,
      idCol: String, vecCol: String): DataFrame =
    FanOut.fanOutSmall(corpus).select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .crossJoin(cb)
      .withColumn("dist", subDistOn(col("nvec"), dsub))
      .groupBy(col("nid"), col("j"))
      .agg(max_by(col("code"),
        struct((-col("dist")).as("nd"), (-col("code")).as("nc"))).as("code"))

  /** ADC table: every (query, subspace, cell) distance — small, broadcast. */
  private[operators] def pqQueryTable(queries: DataFrame, cb: DataFrame, dsub: Int,
      idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(cb)
      .withColumn("qdist", subDistOn(col("qvec"), dsub))
      .select(col("qid"), col("j"), col("code"), col("qdist"))

  def pqTopKWith(
      corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    val cb = broadcast(codebook.select(col("j"), col("code"), col("cvec")))
    val corpusCodes = pqEncode(corpus, cb, dsub, idCol, vecCol)
    val qtab = pqQueryTable(queries, cb, dsub, idCol, vecCol)
    val scored = corpusCodes.join(broadcast(qtab), Seq("j", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("qdist")).as("adist"))
      .select(col("qid"), col("nid"), (-col("adist")).cast("double").as("score"))
    rankTopK(scored, k)
  }

  /** IVF-PQ (the production two-stage ANN): coarse inverted lists restrict
    * WHICH vectors each query scores; PQ codes decide HOW they are scored
    * — never touching the raw corpus vectors after the two encode passes.
    *
    * Scale shape: the corpus is read twice, each time against a broadcast
    * (assign: argmax over `centroids`; encode: argmin per subspace over
    * `codebook`) with map-side-combinable aggregates — no shuffle carries
    * a raw vector. Scoring joins the m-codes relation to its cell
    * assignment on `nid` (colocated), restricts by broadcast query probes
    * on `cid`, sums the broadcast ADC table entries. At 100 TB the scored
    * relation is (probed fraction) × (m longs per vector) — the raw
    * corpus never re-enters. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebook: DataFrame, m: Int, dim: Int, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      twoLevel: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    val cents = centroids.select(col("cid"), col("cvec"))
    val cb = broadcast(codebook.select(col("j"), col("code"), col("cvec")))

    val (assign, probes0) =
      if (twoLevel) {
        val (supers, cmap) = superStructure(cents)
        (coarseAssignTwoLevel(corpus, supers, cmap, idCol, vecCol, carryVec = false),
          queryProbesTwoLevel(queries, supers, cmap, nProbe, idCol, vecCol))
      } else
        (coarseAssign(corpus, cents, idCol, vecCol, carryVec = false),
          queryProbes(queries, cents, nProbe, idCol, vecCol))
    val probes = probes0.select(col("qid"), col("cid"))

    val corpusCodes = pqEncode(corpus, cb, dsub, idCol, vecCol)
    val qtab = pqQueryTable(queries, cb, dsub, idCol, vecCol)

    val scored = corpusCodes.join(assign, "nid")
      .join(broadcast(probes), "cid")
      .join(broadcast(qtab), Seq("qid", "j", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("qdist")).as("adist"))
      .select(col("qid"), col("nid"), (-col("adist")).cast("double").as("score"))
    rankTopK(scored, k)
  }

  /** Residual IVF-PQ (round 14) — the PRODUCTION encoding: each vector
    * is PQ-coded on its RESIDUAL to its assigned coarse centroid
    * (v − c), not on the raw vector, and each query builds a distance
    * table per probed list from ITS residual to that list's centroid
    * (q − c). Residuals concentrate the energy the coarse quantizer
    * already explained away, so the same codebook budget resolves much
    * finer structure — the measured recall gain is in PLANS.md §ANN.
    *
    * Arithmetic contract: residuals are IEEE double subtractions
    * (exact, engine-portable — computed ONCE per vector by zip_with;
    * interpreted per-element, but per-ROW not per-cell, so the encode
    * hot loop stays the codegen'd fixed-point kernel), and every
    * distance is the integer Σ(floor(r·10⁶)−floor(cell·10⁶))² of
    * [[graft.functions.VectorExpressions.vec_subl2sq_fp6]] — the DuckDB
    * oracle re-derives identical codes and scores. The residual
    * codebook seeds from the residuals of `id % seedMod == 0` (0 →
    * fixed-cell [[autoPqSeedMod]]).
    *
    * Scale shape: identical to [[ivfPqTopK]] plus one broadcast-cents
    * join to form residuals — the corpus is touched by broadcast-only
    * passes, scoring joins the m-codes relation, ranking is the heap
    * aggregate. `twoLevel` routes assignment AND probe hierarchically,
    * exactly as in [[ivfPqTopK]]. */
  def ivfPqResidualTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      m: Int, dim: Int, k: Int, nProbe: Int = 2, seedMod: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      twoLevel: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    val cents = centroids.select(col("cid"), col("cvec"))
    val (assign, probes0) =
      if (twoLevel) {
        val (supers, cmap) = superStructure(cents)
        (coarseAssignTwoLevel(corpus, supers, cmap, idCol, vecCol, carryVec = true),
          queryProbesTwoLevel(queries, supers, cmap, nProbe, idCol, vecCol))
      } else
        (coarseAssign(corpus, cents, idCol, vecCol, carryVec = true),
          queryProbes(queries, cents, nProbe, idCol, vecCol))
    def residual(v: Column, c: Column): Column =
      zip_with(v.cast("array<double>"), c.cast("array<double>"), (a, b) => a - b)
    val resid = assign.join(broadcast(cents), "cid")
      .select(col("nid"), col("cid"),
        residual(col("nvec"), col("cvec")).as("rvec"))
    val mod = if (seedMod > 0) seedMod else autoPqSeedMod(corpus)
    val cbr = broadcast(resid.filter(pmod(col("nid"), lit(mod)) === 0)
      .select(col("nid").cast("long").as("code"), col("rvec").as("cvec"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1)))))
    // encode with cid IN the group key (functionally dependent on nid):
    // the scoring join then needs no second corpus pass — joining the
    // cid lookup back through `resid` would re-derive the whole
    // assignment subtree per consumer (measured: ~3× q102's wall at
    // 100× before this, 171.7 s → re-probed after)
    val codes = FanOut.fanOutSmall(resid).crossJoin(cbr)
      .withColumn("dist", subDistOn(col("rvec"), dsub))
      .groupBy(col("nid"), col("cid"), col("j"))
      .agg(max_by(col("code"),
        struct((-col("dist")).as("nd"), (-col("code")).as("nc"))).as("code"))
    val qresid = probes0.join(broadcast(cents), "cid")
      .select(col("qid"), col("cid"),
        residual(col("qvec"), col("cvec")).as("rqvec"))
    val qtab = qresid.crossJoin(cbr)
      .withColumn("qdist", subDistOn(col("rqvec"), dsub))
      .select(col("qid"), col("cid"), col("j"), col("code"), col("qdist"))
    val scored = codes
      .join(broadcast(qtab), Seq("cid", "j", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("qdist")).as("adist"))
      .select(col("qid"), col("nid"),
        (-col("adist")).cast("double").as("score"))
    rankTopK(scored, k)
  }

  /** Exact re-rank of an ANN shortlist — the standard production second
    * stage (round 14): a cheap approximate retriever (PQ / IVF-PQ)
    * proposes c·k candidates per query; only THOSE (query, candidate)
    * pairs are scored exactly on the raw vectors and re-ranked to the
    * final top-k. This directly attacks the measured ANN ceiling on
    * structureless vectors (PLANS.md §ANN recall: ADC *ranking*
    * distortion, not candidate coverage, caps PQ recall) at
    * candidate-bounded cost.
    *
    * Scale shape: the shortlist joins the query vectors (both tiny) and
    * is broadcast against ONE corpus scan — the raw vectors are fetched
    * by the candidate-keyed probe, never shuffled, never re-scanned per
    * query; scoring is ∝ shortlist, ranking is the k-bounded heap
    * aggregate. Input shortlist: (qid, nid). */
  def rerankTopK(corpus: DataFrame, queries: DataFrame,
      shortlist: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundScore: Boolean = true): DataFrame = {
    val sl = shortlist.select(col("qid"), col("nid"))
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
        "qid")
    val scored = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .join(broadcast(sl), "nid")
      .filter(col("nid") =!= col("qid"))
      .withColumn("score", cosine(col("qvec"), col("nvec")))
    rankTopK(scored, k, roundScore)
  }

  /** Reciprocal Rank Fusion of several retrieval rankings — the standard
    * hybrid-retrieval combiner (lexical BM25 + dense embedding lists into
    * one ranking). Each input is (id, rank); a document's fused score is
    * Σ 10000 DIV (kRrf + rank) over the lists it appears in — integer
    * milli-points, so the fusion is engine-exact where float RRF is not.
    * Shape: union of k-bounded lists (tiny) → one hash agg → top-k. */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60, k: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings.map(_.select(col("id"), col("rank")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(expr(s"10000 DIV ($kRrf + rank)")).as("rrf_m"))
      .orderBy(col("rrf_m").desc, col("id"))
      .limit(k)
  }

  /** Per-dimension corpus statistics of an embedding column — the
    * normalization/whitening prep every embedding pipeline runs before
    * quantization or indexing (detects dead dimensions, scale skew,
    * un-centered axes). Output per dimension: count, Σ value (1e-6
    * fixed point), min/max (1e-6), and Σ value² (1e-3 fixed point, so
    * squares stay far from long overflow at any corpus size) — mean and
    * variance are exact integer arithmetic on these downstream.
    *
    * All values are floored into integer space BEFORE aggregation:
    * float summation order is partition-dependent, integer sums are
    * exact and associative, so the result is bit-stable across partition
    * layouts and engines. Shape: posexplode → ONE map-side-combinable
    * aggregate keyed by dimension (64 groups); no windows, no joins. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v") * 1e6).cast("long").as("fp6"),
        floor(col("v") * 1e3).cast("long").as("fp3"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("fp6")).as("sum_fp6"),
        min(col("fp6")).as("min_fp6"),
        max(col("fp6")).as("max_fp6"),
        sum(col("fp3") * col("fp3")).as("ssq_fp3"))
}
