package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle shape:
  *
  *   - exact: one hash-groupBy (map-side combinable) on a 128-bit key;
  *   - MinHash + LSH: signatures via posexplode → window leads → k
  *     codegen'd map-side-combinable `min` aggregates (one shuffle of
  *     (id, hash) longs — NOT interpreted HOF loops, see the
  *     minhashSignatures note), then the band-bucket self-join whose
  *     input is b rows per doc;
  *   - SimHash: 60-bit portable fingerprint as conditional-sum aggregates;
  *     near-dup candidates via pigeonholed chunks (maxDist+1 chunks ⇒
  *     hamming ≤ maxDist implies some chunk equal);
  *   - n-gram Jaccard: exact verification on candidate pairs only, never
  *     all-pairs;
  *   - embedding cosine: random-hyperplane LSH buckets, exact cosine inside
  *     buckets only;
  *   - duplicate SPANS and cross-corpus contamination over the shared
  *     positional-gram relation;
  *   - connected components to turn verified pairs into dedup groups.
  */
object Dedup {

  /** Exact duplicate groups by normalized-text hash: (key, kept doc id,
    * group size). `keep` = smallest id (deterministic). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("text_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** `df` minus exact duplicates (keeps the smallest id per text). */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keys = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keys, Seq(idCol), "left_semi")
  }

  /** MinHash signatures as a DataFrame op: (id, sig array<long> of k
    * minima of independently-salted hashes over word-`shingleN`-gram
    * shingle hashes).
    *
    * Implementation note (measured, not theoretical): building the
    * signature as nested higher-order functions is a trap — Spark's HOFs
    * (`transform`/`aggregate`) are interpreted, not codegen'd, and an outer
    * transform re-evaluates its argument subtree (tokenize → shingles →
    * O(n²) array_distinct) on EVERY lambda iteration: k=64 arms took 780 s
    * for 500 docs. The idiomatic scalable shape is explode → k codegen'd
    * `min` aggregates with map-side partial aggregation: the shingle chain
    * runs once per doc, the shuffle carries only (id, shingle-hash) pairs,
    * and everything stays in whole-stage codegen. */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, shingleN: Int = 3): DataFrame =
    minAggSignatures(shingleHashes(df, textCol, idCol, shingleN), k)

  /** MinHash signatures via the fused per-row kernel
    * ([[graft.functions.MinHashSignature]]): bit-identical output to
    * [[minhashSignatures]] (differential-spec'd) with ZERO shuffle — the
    * explode shape exchanges one (id, shingle-hash) row per corpus token
    * to run its k min-aggregates; the kernel computes the whole long[k]
    * signature inside the scan's WholeStageCodegen. Prefer this form at
    * scale; the explode form remains as the independent cross-check. */
  def minhashSignaturesFused(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // the fused kernel runs the whole k×shingles signature inside the
    // SCAN's codegen — a single-split scan would serialize the corpus
    // through one core (FanOut scaladoc)
    FanOut.fanOutSmall(df).select(col(idCol).as("id"),
      Bridge.column(graft.functions.MinHashSignature(
        Bridge.expression(TextOps.tokens(col(textCol))), k, shingleN)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** (id, h) shingle-hash pairs, fully codegen'd: posexplode the token
    * array hashing each token immediately (the window shuffle then carries
    * longs, not strings), form n-gram identities as hash-of-consecutive-
    * token-hashes with `lead` windows. The window and the downstream
    * per-doc min-aggregation share partitioning — ONE shuffle total, and
    * no dedup pass: `min` is idempotent to duplicate shingles, so MinHash
    * over the multiset equals MinHash over the set. Avoids per-row
    * interpreted `array_distinct` (O(n²) UTF8 comparisons) and HOF
    * slice/concat loops entirely. */
  private[operators] def shingleHashes(
      df: DataFrame, textCol: String, idCol: String, shingleN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), xxhash64(col("t")).as("h0"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withNexts = (1 until shingleN).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"h$j", lead(col("h0"), j).over(w))
    }
    val hashCols = (0 until shingleN).map(j => col(s"h$j"))
    // full n-grams, plus the pos-0 row for docs shorter than n tokens
    // (null-lead hashes coalesce to 0 → whole-short-doc shingle identity)
    withNexts
      .filter(col(s"h${shingleN - 1}").isNotNull || col("pos") === 0)
      .select(col("id"),
        xxhash64(hashCols.map(c => coalesce(c, lit(0L))): _*).as("h"))
  }

  private def minAggSignatures(hashed: DataFrame, k: Int): DataFrame = {
    // k independent permutations by re-salting the base hash (an affine
    // wrap-around family would be cheaper, but Spark 4's default ANSI mode
    // turns the deliberate long overflow into a runtime error)
    val aggs = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"_m$i"))
    hashed.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH band keys for a materialized minhash signature column: `bands`
    * hashes, each over `rows = k/bands` consecutive signature entries. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      xxhash64(slice(sig, j * rows + 1, rows), lit(j))
    }: _*)

  /** Candidate near-duplicate pairs (idA < idB) that share ≥1 LSH band.
    * The join input is `bands` rows per doc, not all-pairs.
    *
    * `blockCols` (optional) scopes candidates to equality blocks — e.g.
    * (lang, source) — WITHOUT an all-pairs block join: the block values
    * are hashed INTO each band key, so cross-block rows land in disjoint
    * buckets and never meet in the self-join. This is the scale-safe
    * replacement for [[blockPairs]] + post-filter: one hot block stays
    * O(n·bands) on the wire instead of O(n²). */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      fused: Boolean = false, blockCols: Seq[String] = Nil): DataFrame = {
    val rows = k / bands
    // fused: band keys come straight out of the one-pass kernel — routing
    // the fused SIGNATURE through bandKeys would re-evaluate it per band
    // slice (Catalyst inlines projected aliases into consumers; the
    // explode shape is protected by its aggregation barrier)
    val sig =
      if (fused) {
        import org.apache.spark.sql.graftbridge.Bridge
        // No persist: the LSH self-join reads this twice, so an explicit
        // repartition(id) plants one shuffle whose two canonically-equal
        // subtrees ReuseExchange collapses — the kernel (and the corpus
        // TEXT scan under it) runs ONCE and the second side reads the
        // first's shuffle files. Same single-scan guarantee a cache would
        // give, with no block to leak in a long-lived session, and it
        // holds in both join regimes (broadcast at small SF, sort-merge at
        // 100 TB). The shuffled payload is the compact (id, `bands`-long)
        // relation, not text. No isNotNull filter: it would re-inline the
        // kernel into the scan's filter (Catalyst inlines projected
        // aliases); the outer explode below handles null/empty arrays.
        // The reuse is plan-dependent (spark.sql.exchangeReuseEnabled,
        // on by default) — NtzRegressionSpec asserts ReusedExchange in
        // the executed plan so a config or AQE change that silently
        // re-runs the kernel fails the suite.
        df.select(col(idCol).as("id"),
          Bridge.column(graft.functions.MinHashBandKeys(
            Bridge.expression(TextOps.tokens(col(textCol))), k, shingleN,
            bands)).as("bk"))
          .repartition(col("id"))
      } else minhashSignatures(df, textCol, idCol, k, shingleN)
        .select(col("id"), bandKeys(col("sig"), bands, rows).as("bk"))
    // posexplode_OUTER, then drop the null rows: InferFiltersFromGenerate
    // skips outer generates, so no `size(bk)>0` predicate gets inferred,
    // pushed through the exchange, and alias-inlined into the fused
    // kernel (which would re-evaluate the whole minhash per row in the
    // scan filter). The post-explode null filter is a cheap attribute test.
    val bare = sig
      .select(col("id"), posexplode_outer(col("bk")).as(Seq("band", "key")))
      .filter(col("band").isNotNull)
    // Block scoping: fold the block values into the bucket key AFTER the
    // explode, via a compact (id, blockCols) join — both sig branches stay
    // untouched (the fused kernel's planted-exchange reuse in particular),
    // and the self-join below sees only the rekeyed long. The meta side of
    // the join carries a few small columns per doc, not text.
    val exploded =
      if (blockCols.isEmpty) bare
      else {
        val meta = df.select(col(idCol).as("id") +: blockCols.map(col): _*)
        bare.join(meta, "id")
          .select(col("id"), col("band"),
            xxhash64(blockCols.map(col) :+ col("key"): _*).as("key"))
      }
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** All in-block pairs (id_a < id_b) for equality blocking columns — the
    * oracle-able counterpart of LSH candidate generation, O(Σ blockᵢ²).
    *
    * The quadratic term is bounded by an explicit guard: if any block
    * exceeds `maxBlock` rows the job FAILS with the offending block sizes
    * instead of silently materializing a cartesian bomb (a single hot block
    * at 100 TB — one dominant (lang, source) — would otherwise produce
    * O(n²) join output; the scale-safe path is LSH candidates, see
    * `minhashCandidates`). The guard is one tiny aggregate over the
    * blocking columns — negligible next to the pair join it protects. */
  def blockPairs(
      df: DataFrame, blockCols: Seq[String], idCol: String,
      maxBlock: Long = 100000L): DataFrame = {
    val keys = blockCols.map(col)
    val oversize = df.groupBy(keys: _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBlock)
      .limit(5).collect()
    if (oversize.nonEmpty)
      throw new IllegalStateException(
        s"blockPairs: block(s) over maxBlock=$maxBlock rows: " +
          oversize.map(_.toSeq.mkString("(", ",", ")")).mkString(", ") +
          " — use an LSH candidate generator (minhashCandidates/" +
          "simhashCandidates/embeddingCandidates) for blocks this size")
    val keyed = df.select((col(idCol) +: keys): _*)
    val joinCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    keyed.as("a").join(keyed.as("b"), joinCond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs.
    * `pairs` has (id_a, id_b); output adds intersection/union sizes and
    * `jaccard_bp` (basis points, exact integer — engine-portable).
    *
    * `minThetaBp = Some(θ)` switches to verify-for-threshold mode: the
    * result is exactly the ≥θ pairs (what every LSH→verify pipeline
    * filters to anyway), which lets the size-ratio length filter prune
    * candidates BEFORE the intersection join — losslessly, since
    * J ≤ min(sa,sb)/max(sa,sb). Default `None` keeps report mode: one
    * output row per input pair, including disjoint ones. */
  def ngramJaccard(
      pairs: DataFrame, df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minThetaBp: Option[Long] = None): DataFrame = {
    // Shingle sets only for docs that appear in a candidate pair — at scale
    // the candidate set is orders of magnitude smaller than the corpus —
    // and set algebra as codegen'd joins over (id, shingle-hash) rows
    // rather than interpreted per-row array_intersect/array_union:
    // |A∩B| by equi-join on the hash, |A∪B| = |A|+|B|−|A∩B|.
    // materialize the candidate pairs once: they are referenced three times
    // below, and `pairs` is typically itself a multi-stage LSH pipeline.
    // LAZY checkpoints (round 19, guide §2.6): eager ones serialized a
    // chain of blocking driver jobs at construction time (q180's warm
    // profile: 3.8 s construction, 2.5 s job wall — the gap was the
    // driver waiting between eager steps); lazy keeps the same
    // compute-once reuse (the RDD caches on first computation inside the
    // one real action) while letting independent subtrees overlap.
    val p = pairs.localCheckpoint(false)
    val needed = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val sets = shingleHashes(df.join(needed.withColumnRenamed("id", idCol),
        Seq(idCol), "left_semi"), textCol, idCol, shingleN)
      .dropDuplicates("id", "h")
      .localCheckpoint(false) // reused 3×: two join sides + the size table
    val sizes = sets.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    minThetaBp match {
      case Some(theta) =>
        // verify-for-threshold mode: J ≤ min(sa,sb)/max(sa,sb), so pairs
        // whose set sizes differ beyond θ are pruned BEFORE the
        // intersection join (lossless for the ≥θ result the caller wants —
        // every LSH→verify pipeline here filters ≥θ downstream), and the
        // below-θ survivors drop at the end; carrying the sizes through
        // also replaces the two post-joins and the left-join/fill of the
        // report mode with one inner join on the pruned pair relation.
        val sized = p
          .join(sizes.select(col("id").as("id_a"), col("sz").as("_sza")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("_szb")), "id_b")
          .filter(col("_sza") * 10000L >= col("_szb") * theta &&
            col("_szb") * 10000L >= col("_sza") * theta)
          .localCheckpoint(false) // reused: intersection input + final report
        val inter = sized.select(col("id_a"), col("id_b"))
          .join(sets.select(col("id").as("id_a"), col("h")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
        sized.join(inter, Seq("id_a", "id_b"))
          .withColumn("n_union", col("_sza") + col("_szb") - col("n_inter"))
          .withColumn("jaccard_bp", expr("n_inter * 10000 DIV n_union"))
          .filter(col("jaccard_bp") >= theta)
          .drop("_sza", "_szb")
      case None =>
        // report mode: every input pair keeps a row (jaccard_bp = 0 for
        // disjoint pairs)
        val inter = p
          .join(sets.select(col("id").as("id_a"), col("h")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
        p
          .join(inter, Seq("id_a", "id_b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .join(sizes.select(col("id").as("id_a"), col("sz").as("_sza")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("_szb")), "id_b")
          .withColumn("n_union", col("_sza") + col("_szb") - col("n_inter"))
          .withColumn("jaccard_bp", expr("n_inter * 10000 DIV n_union"))
          .drop("_sza", "_szb")
    }
  }

  /** CROSS-CORPUS n-gram overlap — GPT-3-style fuzzy test-set
    * decontamination (Brown et al. 2005.14165 Appendix C use 13-gram
    * collisions): for every (test doc, train doc) pair sharing ≥
    * `minShared` exact word n-grams, the exact count of shared distinct
    * grams. Complements [[decontaminate]]/[[bloomDecontaminate]] (exact
    * WHOLE-doc matches): an n-gram hit still fires when the test passage
    * is embedded in a larger train document.
    *
    * Shape (100 TB): distinct (id, shingle-hash) sets per side — the
    * reused [[shingleHashes]] chain, one shuffle each — then a hash
    * equi-join on the gram hash and one pair-keyed count. Never all-pairs:
    * only pairs that actually share a gram reach the aggregate. `maxDf`
    * (default unlimited) optionally drops grams appearing in more than
    * that many TRAIN docs before the join — the standard hot-gram cap for
    * boilerplate-heavy corpora, where one stop-gram would otherwise fan
    * out |test|×|train| rows; leaving it unset performs the exact
    * uncapped join. */
  def crossNgramOverlap(
      train: DataFrame, test: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 13, minShared: Long = 1L,
      maxDf: Option[Long] = None): DataFrame = {
    val te = shingleHashes(test, textCol, idCol, shingleN)
      .dropDuplicates("id", "h").withColumnRenamed("id", "test_id")
    val tr0 = shingleHashes(train, textCol, idCol, shingleN)
      .dropDuplicates("id", "h").withColumnRenamed("id", "train_id")
    val tr = maxDf match {
      case Some(cap) =>
        val hot = tr0.groupBy(col("h")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select(col("h"))
        tr0.join(hot, Seq("h"), "left_anti")
      case None => tr0
    }
    te.join(tr, Seq("h"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT similarity self-join: every pair with shingle-set Jaccard
    * ≥ `thetaBp` — no LSH recall loss, via prefix filtering (AllPairs /
    * PPJoin family). Output (id_a, id_b, jaccard_bp), id_a < id_b.
    *
    * Sort each doc's shingles in one global canonical order — rarest
    * corpus-wide first — and keep only the first p = s − ⌈θ·s⌉ + 1 as its
    * "prefix". Any pair with J ≥ θ has intersection ≥ ⌈θ·max(sa,sb)⌉, and
    * two sets with overlap ≥ t must collide within their (size − t + 1)
    * prefixes under a shared total order (Bayardo et al., WWW'07) — so
    * joining prefixes only is LOSSLESS, while candidate volume collapses:
    * hot shingles land at the END of the order and never enter a prefix,
    * killing exactly the hot-key blowup that plagues naive token joins.
    * Verification then touches candidate pairs only.
    *
    * Scale shape: freq agg (hash) → rank window keyed by doc → prefix
    * self equi-join on shingle hash → exact-intersection equi-join. The
    * quadratic term is per-prefix-shingle, bounded by the rarest-first
    * order; everything else is hash joins/aggs on (id) or (h).
    *
    * `blockCols` (optional) scopes the join to equality blocks by
    * hashing the block values INTO each shingle hash: cross-block docs
    * then share no shingle — they never become candidates and contribute
    * zero intersection — while per-doc set sizes are untouched, so the
    * result is EXACTLY the per-block join. Bonus: shingle frequencies
    * (the rarest-first order) become per-block frequencies, which is the
    * sharper prefix order when block vocabularies differ. */
  def prefixJaccardJoin(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, thetaBp: Long = 5000L,
      blockCols: Seq[String] = Nil,
      posFilter: Option[Boolean] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Positional filter ON by default for n-gram shingles, OFF for
    // unigrams — a SHAPE property, not a tuning knob (measured 2× both
    // ways at sf0.1): with n-grams above-threshold pairs share sharp rare
    // shingles, so the first-match bound bites and halves the verify
    // load; with unigram sets near θ=0.5 the first common token is
    // usually an early rare one (ra, rb small → bound ≈ min size) — the
    // filter prunes almost nothing while its per-candidate payload
    // (rnk/cf/struct + min_by vs distinct) doubles candidate-stream cost
    // at any corpus size.
    val usePos = posFilter.getOrElse(shingleN >= 2)
    val bare = shingleHashes(df, textCol, idCol, shingleN)
      .dropDuplicates("id", "h")
    val sets = (if (blockCols.isEmpty) bare
      else {
        val meta = df.select(col(idCol).as("id") +: blockCols.map(col): _*)
        bare.join(meta, "id")
          .select(col("id"), xxhash64(blockCols.map(col) :+ col("h"): _*).as("h"))
      })
      .localCheckpoint(false) // reused 4×: freq, ranking, two verify sides (lazy, round 19)
    val sizes = sets.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val freq = sets.groupBy(col("h")).agg(count(lit(1)).as("cf"))
    val ranked = sets.join(freq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cf"), col("h"))))
    // p = s − ⌈θ·s⌉ + 1, all-integer: ⌈θ·s⌉ = (θbp·s + 9999) div 10000
    val prefixCols =
      if (usePos) Seq(col("id"), col("h"), col("cf"), col("rnk"), col("sz"))
      else Seq(col("id"), col("h"), col("sz"))
    val prefix = ranked.join(sizes, "id")
      .filter(col("rnk") <=
        col("sz") - expr(s"($thetaBp * sz + 9999) DIV 10000") + 1)
      .select(prefixCols: _*)
    // Candidate pruning, both LOSSLESS (Xiao et al., PPJoin, WWW'08):
    //  - length filter, inside the join condition (always on — one extra
    //    long per prefix row): J ≤ min(sa,sb)/max(sa,sb), so a pair whose
    //    sizes differ beyond θ is dropped before it even materializes;
    //  - positional filter (usePos): for the pair's FIRST matching prefix
    //    shingle under the global (cf, h) order, any OTHER common shingle
    //    ordered before it would itself be a prefix match in BOTH docs
    //    (prefixes are order-downward-closed), contradicting firstness —
    //    so overlap ≤ 1 + min(sa − ra, sb − rb), and pairs whose bound
    //    undershoots the required overlap ⌈θ·(sa+sb)/(1+θ)⌉ never reach
    //    the verify join. The bound rides the SAME groupBy that
    //    deduplicated multi-shingle candidates (min_by replaces
    //    distinct) — no extra shuffle, strictly fewer pairs verified.
    val lengthCond =
      col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        col("a.sz") * 10000L >= col("b.sz") * thetaBp &&
        col("b.sz") * 10000L >= col("a.sz") * thetaBp
    val cands =
      if (usePos)
        prefix.as("a").join(prefix.as("b"), lengthCond)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            (least(col("a.sz") - col("a.rnk"), col("b.sz") - col("b.rnk")) + 1)
              .as("ub"),
            struct(col("a.cf"), col("a.h")).as("ord"),
            (col("a.sz") + col("b.sz")).as("szsum"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(min_by(col("ub"), col("ord")).as("ub1"), first(col("szsum")).as("szsum"))
          .filter(col("ub1") >=
            expr(s"($thetaBp * szsum + ${10000L} + $thetaBp - 1) DIV (${10000L} + $thetaBp)"))
          .select(col("id_a"), col("id_b"))
      else
        prefix.as("a").join(prefix.as("b"), lengthCond)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
    val inter = cands
      .join(sets.select(col("id").as("id_a"), col("h")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("_sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("_sb")), "id_b")
      .withColumn("jaccard_bp",
        expr("n_inter * 10000 DIV (_sa + _sb - n_inter)"))
      .filter(col("jaccard_bp") >= thetaBp)
      .select(col("id_a"), col("id_b"), col("jaccard_bp"))
  }

  /** SimHash width: 60 bits — the fingerprint is built over the portable
    * md5-derived 60-bit token hash (TextOps.portableHash60) so any engine
    * with md5 reproduces it bit-for-bit (the DuckDB oracle recomputes it
    * with `&`/`>>` bit ops over the same hashes). */
  val SimBits = 60

  /** Bit masks 2^0..2^59 as one foldable array literal. */
  private val bitMasks: Column = array((0 until SimBits).map(i => lit(1L << i)): _*)

  /** SimHash fingerprint over token hashes. Pure map work, and a
    * SINGLE pass over the token array: one aggregate carries all 60 bit
    * counters (vs 60 separate aggregates, which would re-evaluate the
    * tokenize chain per bit — see minhashSignature note). */
  def simhash(textCol: Column): Column = {
    val hs = transform(array_distinct(TextOps.tokens(textCol)), t => TextOps.portableHash60(t))
    val counters = aggregate(
      hs,
      transform(sequence(lit(0), lit(SimBits - 1)), _ => lit(0)),
      (acc, h) => zip_with(acc, bitMasks,
        (a, mask) => a + when(h.bitwiseAND(mask) =!= 0L, 1).otherwise(-1)))
    aggregate(
      zip_with(counters, bitMasks, (c, mask) => when(c > 0, mask).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** SimHash fingerprints as a DataFrame op: explode token hashes → 60
    * codegen'd conditional-sum aggregates (same scalable shape as
    * minhashSignatures — map-side combinable, no interpreted HOF loops). */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NO fan-out (round 19, VERDICT r18): the map side is a cheap
    // explode + hash and the 60 conditional sums combine map-side into
    // the keyed groupBy(id) shuffle that follows — the round-18 extra
    // exchange regressed q21 3× at 32 cores
    val hashed = df.select(col(idCol).as("id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("t"))
      .select(col("id"), TextOps.portableHash60(col("t")).as("h"))
    val aggs = (0 until SimBits).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"_b$j")
    }
    hashed.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until SimBits).map(j => when(col(s"_b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  /** Near-duplicate pairs by SimHash hamming distance ≤ `maxDist`.
    * Pigeonhole on `maxDist + 1` chunks: hamming ≤ d means at most d chunks
    * can differ, so at least one of d+1 chunks is identical — candidate
    * generation is a (maxDist+1)-rows-per-doc equi-join, never all-pairs.
    * (Chunk count is DERIVED from maxDist; a fixed 4-chunk split would
    * silently lose valid pairs for any maxDist > 3.) */
  def simhashCandidates(
      df: DataFrame, textCol: String, idCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < SimBits, s"maxDist must be in [0, $SimBits)")
    val nChunks = maxDist + 1
    val width = (SimBits + nChunks - 1) / nChunks
    val mask = (1L << width) - 1
    val withSim = simhashes(df, textCol, idCol)
    val chunks = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until nChunks).map(j =>
        shiftrightunsigned(col("sim"), j * width).bitwiseAND(lit(mask))): _*)).as(Seq("chunk", "ckey")))
    val a = chunks.as("a")
    val b = chunks.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Connected components over a near-duplicate pair graph: the step that
    * turns candidate PAIRS into dedup GROUPS (keep one doc per component).
    * Returns (id, component) where component = smallest id reachable from
    * `id` (isolated nodes map to themselves).
    *
    * The verified pair set is normally a vanishing fraction of the corpus,
    * and the multi-round distributed fixpoint pays per-round job dispatch
    * whatever its size. So when [[graft.plans.DriverSide]] collects the
    * pairs (long/int ids only), a union-find on the driver labels them and
    * the labels are broadcast back: a count, a collect and one broadcast
    * join instead of diameter× rounds. Larger pair sets, and non-integral
    * ids, take the distributed min-label loop. */
  def connectedComponents(
      nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // The (usually LSH-verified) pair pipeline feeding this is multi-stage;
    // materialize it ONCE — both branches reuse the checkpoint.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val integral = p.schema.forall(f =>
      f.dataType == LongType || f.dataType == IntegerType)
    val small = if (!integral) None else graft.plans.DriverSide.collect(
      p.rdd.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
    small.fold(connectedComponentsDistributed(nodes, idCol, p, maxIter))(
      unionFind(nodes, idCol, _))
  }

  /** Min-label components of the collected `edges` by union-find. */
  private def unionFind(nodes: DataFrame, idCol: String,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // linking the larger root under the smaller keeps the invariant
    // "root = minimum of its set", so find() yields the min-label
    // component exactly as the distributed fixpoint does
    edges.foreach { case (x, y) =>
      val (a, b) = (find(x), find(y))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val members = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val spark = nodes.sparkSession
    import spark.implicits._
    val idType = nodes.schema(idCol).dataType
    val labelDf = members.toSeq.map(m => (m, find(m))).toDF("id", "_c")
      .select(col("id").cast(idType).as("id"), col("_c").cast(idType).as("_c"))
    nodes.select(col(idCol).as("id"))
      .join(broadcast(labelDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("_c"), col("id")).as("component"))
  }

  /** [[connectedComponents]] by distributed min-label propagation,
    * whatever the size: each round every node adopts the smallest label
    * among itself and its neighbors; converges in graph-diameter rounds
    * (checkpointed per round, same shape as the closure fixpoint). */
  private[graft] def connectedComponentsDistributed(
      nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    // Iterate ONLY over nodes that appear in an edge: an isolated node is
    // its own component with zero propagation, so the fixpoint's working
    // set is the duplicate SUBGRAPH (at 100 TB: ~1% of the corpus), not
    // the corpus — every round's join/agg/signature scales with |edges|.
    // Isolated nodes are merged back with one join at the end.
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    // convergence via an order-insensitive label-set signature (one narrow
    // aggregate per round instead of a self-join): labels only ever
    // decrease, so an unchanged signature ⇒ unchanged assignment
    def signature(df: DataFrame): String =
      // decimal accumulator: ANSI mode would reject the long wrap-around
      String.valueOf(df.select(
        sum(xxhash64(col("id"), col("component")).cast("decimal(38,0)")).as("sig"))
        .head().getDecimal(0))
    var sig = signature(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      val neighborLabels = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.select(col("id"), col("component"))
        .union(neighborLabels)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      labels = next
    }
    // Fail loudly (same philosophy as the blockPairs guard): an unconverged
    // exit means some component's min-label hasn't finished propagating —
    // silently returning those labels would be a WRONG grouping, and the
    // caller has no way to tell. Diameter > maxIter is a pathological
    // duplicate chain; raise maxIter deliberately, don't mask it.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter iterations — " +
          "a component has min-label propagation distance > maxIter; " +
          "raise maxIter for graphs with very long duplicate chains")
    // corpus side touched exactly once: isolated nodes label themselves
    nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("component", "_c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_c"), col("id")).as("component"))
  }

  /** Cross-document duplicate n-gram SPANS — the "repeated substring"
    * primitive of training-data dedup pipelines (find the maximal runs of
    * tokens shared verbatim between document pairs, e.g. boilerplate,
    * licenses, quoted passages; exact-duplicate docs surface as one
    * full-length span).
    *
    * Shape: token n-grams with their POSITIONS (posexplode + window leads
    * over token hashes, same one-shuffle construction as
    * `shingleHashes`), equi-joined on the gram hash across doc pairs, then
    * matching occurrences merged into maximal spans with the classic
    * diagonal-islands trick: matches on one diagonal (pos_a − pos_b) with
    * consecutive pos_a form one span; islands fall out of one
    * `pos_a − row_number()` window.
    *
    * Output: (id_a, id_b, a_start, a_end, b_start, b_end, n_tokens),
    * token positions 0-based inclusive, id_a < id_b.
    *
    * Scale guard: a gram occurring k times joins k² ways — one
    * pathological common gram ("lorem ipsum…" boilerplate at 100 TB)
    * floods the join. `maxOccurrences > 0` drops grams seen more than
    * that many times corpus-wide first (one extra hash-agg + semi-join;
    * the standard "too common to be interesting" cutoff). */
  /** (id, pos, gh) — hash of the token n-gram starting at position `pos`,
    * built with the one-shuffle posexplode + window-lead construction
    * (see `shingleHashes`); docs shorter than n tokens yield no rows. */
  private[operators] def positionalGramHashes(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), xxhash64(col("t")).as("h0"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withNexts = (1 until n).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"h$j", lead(col("h0"), j).over(w))
    }
    withNexts.filter(col(s"h${n - 1}").isNotNull)
      .select(col("id"), col("pos"),
        xxhash64((0 until n).map(j => col(s"h$j")): _*).as("gh"))
  }

  def duplicateNgramSpans(
      df: DataFrame, textCol: String, idCol: String, n: Int = 5,
      maxOccurrences: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams0 = positionalGramHashes(df, textCol, idCol, n)
    val grams =
      if (maxOccurrences <= 0) grams0
      else {
        val rare = grams0.groupBy(col("gh"))
          .agg(count(lit(1)).as("_k")).filter(col("_k") <= maxOccurrences)
          .select("gh")
        grams0.join(rare, Seq("gh"), "left_semi")
      }
    val matches = grams.as("a")
      .join(grams.as("b"), col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w2 = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("grp", col("pos_a") - row_number().over(w2))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("pos_a")).as("a_start"), max(col("pos_a")).as("a_last"))
      .select(col("id_a"), col("id_b"),
        col("a_start").cast("long").as("a_start"),
        (col("a_last") + n - 1).cast("long").as("a_end"),
        (col("a_start") - col("diag")).cast("long").as("b_start"),
        (col("a_last") - col("diag") + n - 1).cast("long").as("b_end"),
        (col("a_last") - col("a_start") + n).cast("long").as("n_tokens"))
  }

  /** Test-set DECONTAMINATION: per corpus document, how much of it appears
    * verbatim in a reference corpus (the eval/benchmark set), measured as
    * the fraction of its token n-grams found anywhere in the reference —
    * the overlap metric training pipelines use to drop contaminated
    * training documents before an eval.
    *
    * Output: (idCol, n_grams, n_dirty, contamination_bp) for every corpus
    * doc with ≥ 1 n-gram (docs shorter than n tokens have no measurable
    * grams and are omitted). `contamination_bp` is exact integer basis
    * points (engine-portable).
    *
    * Scale shape: the reference side reduces to a DISTINCT gram-hash set
    * (one hash-agg); the corpus side left-semi-joins against it, keyed by
    * the hash — when the reference is eval-set-sized, AQE turns that into
    * a broadcast join and the 100 TB corpus side never shuffles. */
  def crossCorpusContamination(
      corpus: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val cg = positionalGramHashes(corpus, textCol, idCol, n)
    val rg = positionalGramHashes(reference, textCol, idCol, n)
      .select("gh").distinct()
    val dirty = cg.join(rg, Seq("gh"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dirty"))
    cg.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
      .join(dirty, Seq("id"), "left")
      .na.fill(0L, Seq("n_dirty"))
      .select(col("id").as(idCol), col("n_grams"), col("n_dirty"),
        expr("n_dirty * 10000 DIV n_grams").as("contamination_bp"))
  }

  /** Distinct n-gram STRINGS per doc — the engine-portable gram identity
    * (md5-able text, unlike the xxhash64 relations used internally). Same
    * single-shuffle window shape as [[shingleHashes]]. */
  private[operators] def gramStrings(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "t0")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withNexts = (1 until n).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"t$j", lead(col("t0"), j).over(w))
    }
    withNexts.filter(col(s"t${n - 1}").isNotNull)
      .select(col("id"),
        concat_ws(" ", (0 until n).map(j => col(s"t$j")): _*).as("gram"))
      .distinct()
  }

  /** The 4 bloom bit positions of a gram: four disjoint 5-hex-char
    * (20-bit) slices of ONE md5 of the gram text — one
    * hash computation per gram, positions in [0, 2^20), reproducible on
    * any engine with md5 (`('0x' || substr(md5(g), 1+5i, 5))::BIGINT`). */
  private[operators] def bloomPositions(gram: Column): Seq[Column] =
    (0 until 4).map(i =>
      conv(substring(md5(gram), 1 + 5 * i, 5), 16, 10).cast("long"))

  /** Bloom-filter DECONTAMINATION: [[crossCorpusContamination]]'s
    * approximate counterpart — the reference gram set is collapsed into a
    * 2^20-bit bloom mask (128 KB, built by the mergeable
    * [[graft.functions.Bloom.BloomMaskAgg]] — map-side partial masks OR'd
    * through one single-row shuffle), broadcast, and probed by a
    * codegen'd bit test per corpus gram.
    *
    * vs the exact path: NO shuffle keyed by gram on the corpus side at
    * all (the exact semi-join must co-partition corpus grams with the
    * reference set unless AQE broadcasts it) — the corpus cost is a pure
    * scan, at the price of false positives. Those are DETERMINISTIC:
    * positions derive from md5 of the gram text ([[bloomPositions]]), so
    * the DuckDB oracle rebuilds the identical mask and reports identical
    * `n_maybe_dirty` — the driver hash-gate covers the false positives
    * too, not just the true hits.
    *
    * Output: (idCol, n_grams, n_maybe_dirty, contamination_bp) per corpus
    * doc with ≥ 1 n-gram; `n_maybe_dirty` counts distinct grams whose 4
    * bits are ALL set in the reference mask. */
  def bloomContamination(
      corpus: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val refPos = gramStrings(reference, textCol, idCol, n)
      .select(explode(array(bloomPositions(col("gram")): _*)).as("pos"))
    val mask = refPos
      .agg(graft.functions.Bloom.bloom_mask_agg(col("pos"), BloomMBits)
        .as("mask"))
    probeBloomMask(corpus, mask, textCol, idCol, n)
  }

  /** 2^20 bits = the fixed mask geometry [[bloomPositions]]' 20-bit
    * md5 slices address — shared by the inline build above and the
    * persisted index ([[DedupIndex.writeBloomIndex]]). */
  private[operators] val BloomMBits: Int = 1 << 20

  /** A gram's mask SHARD (round 16): the FIFTH 5-hex-char md5 slice,
    * mod `shards` — independent of the four bit-position slices (chars
    * 1–20), so sharding never correlates with bit placement, and
    * engine-reproducible the same way
    * (`('0x' || substr(md5(g), 21, 5))::BIGINT % shards`). */
  private[operators] def bloomShard(gram: Column, shards: Int): Column =
    pmod(conv(substring(md5(gram), 21, 5), 16, 10).cast("long"),
      lit(shards.toLong))

  /** Probe a SHARDED mask relation (shard, mask) — each gram tests its
    * own shard's mask only (gram-hash sharding: a gram lives in exactly
    * one shard, so per-shard fill drops ∝ 1/shards and the FP rate
    * collapses ≈ fill⁴ while membership stays exact — false negatives
    * remain impossible). The masks relation is `shards` rows
    * (shards × mBits/8 bytes) broadcast against one batch scan; a
    * shard with no reference grams has no row and its grams are clean
    * by the null-mask coalesce. Same output contract as
    * [[probeBloomMask]]. */
  private[operators] def probeBloomMaskSharded(
      corpus: DataFrame, masks: DataFrame,
      textCol: String, idCol: String, n: Int, shards: Int,
      mBits: Int = BloomMBits): DataFrame = {
    val cg = gramStrings(corpus, textCol, idCol, n)
      .withColumn("shard", bloomShard(col("gram"), shards))
    val hits = cg
      .join(broadcast(masks.select(col("shard"), col("mask"))),
        Seq("shard"), "left")
      .withColumn("_hit",
        coalesce(bloomPositions(col("gram"))
          .map(p => graft.functions.Bloom.bloom_contains(col("mask"),
            pmod(p, lit(mBits.toLong))))
          .reduce(_ && _), lit(false)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("_hit").cast("long")).as("n_maybe_dirty"))
    hits.select(col("id").as(idCol), col("n_grams"), col("n_maybe_dirty"),
      expr("n_maybe_dirty * 10000 DIV n_grams").as("contamination_bp"))
  }

  /** The probe half of [[bloomContamination]], factored (round 15) so
    * the persisted-mask path reuses it verbatim: broadcast the one-row
    * mask, codegen'd 4-bit-test per corpus gram, per-doc contamination
    * report. */
  private[operators] def probeBloomMask(
      corpus: DataFrame, mask: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val cg = gramStrings(corpus, textCol, idCol, n)
    val hits = cg.withColumn("_j", lit(1))
      .join(broadcast(mask.select(col("mask")).withColumn("_j", lit(1))), "_j")
      .withColumn("_hit",
        bloomPositions(col("gram"))
          .map(p => graft.functions.Bloom.bloom_contains(col("mask"), p))
          .reduce(_ && _))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("_hit").cast("long")).as("n_maybe_dirty"))
    hits.select(col("id").as(idCol), col("n_grams"), col("n_maybe_dirty"),
      expr("n_maybe_dirty * 10000 DIV n_grams").as("contamination_bp"))
  }

  /** Corpus-overlap matrix: exact distinct-shingle Jaccard between every
    * pair of corpus slices (e.g. the `source` column) — the report that
    * decides which sources to drop or down-weight before mixing a training
    * corpus (inter-source duplication is invisible to per-doc dedup rates).
    *
    * Scale shape: shingles are formed as the codegen'd gram-hash relation
    * ([[shingleHashes]] — longs through every shuffle, no interpreted HOF
    * string building), the corpus collapses to its DISTINCT (slice, hash)
    * relation (one map-side-combinable hash agg — the only pass over the
    * full text), and pair counts come from an inverted-index self-join
    * keyed by the 64-bit gram hash. The join output is bounded by
    * sum-over-grams of (slices sharing the gram choose 2) — with tens of
    * slices that is tens of rows per shared gram, never a doc-level cross
    * product. Counts are exact up to 64-bit gram-hash collisions (the same
    * basis as the MinHash/Jaccard verify path). */
  def sourceOverlap(
      df: DataFrame, textCol: String, idCol: String, sliceCol: String,
      shingleN: Int = 3): DataFrame = {
    val docSlice = df.select(col(idCol).as("id"), col(sliceCol).as("slice"))
    val grams = shingleHashes(df, textCol, idCol, shingleN)
      .join(docSlice, "id")
      .select(col("slice"), col("h")).distinct()
    val sizes = grams.groupBy("slice").agg(count(lit(1)).as("sz"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.h") === col("b.h") && col("a.slice") < col("b.slice"))
      .groupBy(col("a.slice").as("slice_a"), col("b.slice").as("slice_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("slice", "slice_a")
        .withColumnRenamed("sz", "sz_a"), "slice_a")
      .join(sizes.withColumnRenamed("slice", "slice_b")
        .withColumnRenamed("sz", "sz_b"), "slice_b")
      .select(col("slice_a"), col("slice_b"), col("n_inter"),
        (col("sz_a") + col("sz_b") - col("n_inter")).as("n_union"),
        expr("n_inter * 10000 DIV (sz_a + sz_b - n_inter)").as("jaccard_bp"))
  }

  /** Exact near-duplicate pairs by embedding cosine within equality blocks
    * (e.g. a label/cluster column): all in-block pairs scored with the
    * native cosine kernel. The blocking column bounds the quadratic term —
    * the engine-portable (oracle-able) counterpart of the hyperplane-LSH
    * variant below. */
  def blockedCosinePairs(
      df: DataFrame, vecCol: String, idCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val v = FanOut.fanOutSmall(
      df.select(col(idCol).as("id"), col(blockCol).as("blk"), col(vecCol).as("vec")))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.cosine(col("a.vec"), col("b.vec")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-duplicate pairs by embedding cosine ≥ `threshold` with
    * MULTI-TABLE random-hyperplane LSH — the banding construction (same
    * recall/precision lever as MinHash bands): `nTables` independent hash
    * tables of `planesPerTable` hyperplanes each; a pair is a candidate if
    * it shares a bucket in ANY table; exact cosine (rounded to 4 dp) is
    * computed on candidates only and filtered at `threshold`.
    *
    * Tuning: detection probability for angle θ is 1-(1-p^r)^T with
    * p = 1-θ/π, r = planesPerTable, T = nTables — r controls precision
    * (bucket width), T controls recall. The single-table variant below
    * cannot reach high recall at any useful precision.
    *
    * Scale shape: the bucket table is (id, table, bucket) longs — vectors
    * are NOT carried through the candidate join; they are re-joined only
    * for the surviving distinct pairs. */
  def embeddingCandidatesBanded(
      df: DataFrame, vecCol: String, idCol: String,
      dim: Int, nTables: Int = 20, planesPerTable: Int = 10,
      threshold: Double = 0.9, seed: Long = 42L): DataFrame = {
    // ALL nTables·planesPerTable hyperplanes as ONE foldable 2-D literal
    // fed to the fused vec_lsh_buckets kernel — one expression, one pass
    // per vector. (Building a separate vec_dot-vs-literal expression per
    // plane made the plan tree itself the bottleneck: 200 inline 64-dim
    // array literals truncated the plan string and planning/codegen cost
    // dominated the query.)
    val rnd = new scala.util.Random(seed)
    val planeMatrix: Seq[Seq[Double]] =
      Seq.fill(nTables * planesPerTable)(Seq.fill(dim)(rnd.nextGaussian()))
    val vecs = FanOut.fanOutSmall(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .localCheckpoint(false) // reused: bucket build + two pair-side re-joins (lazy, round 19)
    val buckets = vecs
      .select(col("id"), posexplode(graft.functions.VectorExpressions
        .vec_lsh_buckets(col("vec"), typedLit(planeMatrix), planesPerTable))
        .as(Seq("tbl", "bkt")))
    val a = buckets.as("a")
    val b = buckets.as("b")
    val pairs = a.join(b, col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("_va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("_vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("_va"), col("_vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style SEMANTIC deduplication (public method: Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with the deterministic
    * k-means quantizer (`Similarity.kmeansCentroids`), then inside each
    * cluster DROP every point that has a higher-priority (smaller-id)
    * cluster-mate within the cosine threshold — semantic near-copies
    * collapse to one representative even when their text n-grams share
    * nothing.
    *
    * Scale shape — the cluster bound IS the method: the all-pairs check
    * never crosses cluster boundaries, so after one broadcast-centroid
    * assignment (map-side `max_by` argmax, same as IVF) the self-join is
    * keyed by cluster id and each task's work is O(cluster²), not
    * O(corpus²). Deterministic end-to-end: mod-seeded exact-arithmetic
    * centroids, ties broken by id, cosine rounded to 4 dp before the
    * threshold so any engine reproduces the same keep/drop set.
    *
    * Output: (idCol, cluster, dropped 0/1), one row per corpus vector. */
  def semanticDedup(
      corpus: DataFrame, centroids: DataFrame, vecCol: String, idCol: String,
      threshold: Double, maxCluster: Long = 200000L): DataFrame = {
    val cents = centroids.select(col("cid"), col("cvec"))
    val assigned = FanOut.fanOutSmall(corpus)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.cosine(col("vec"), col("cvec")))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("cid"),
        first(col("vec")).as("vec"))
      .localCheckpoint() // reused: guard + both self-join sides + the output
    // same fail-loud contract as blockPairs: the within-cluster join is
    // O(cluster²) per task — one degenerate cluster (collapsed centroids,
    // an all-zeros embedding column) at 100 TB would otherwise cartesian-
    // bomb; SemDeDup presumes a k-means balanced enough that clusters fit
    val oversize = assigned.groupBy(col("cid")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxCluster).limit(5).collect()
    if (oversize.nonEmpty)
      throw new IllegalStateException(
        s"semanticDedup: cluster(s) over maxCluster=$maxCluster vectors: " +
          oversize.map(_.toSeq.mkString("(", ",", ")")).mkString(", ") +
          " — raise the centroid count (smaller clusters) or maxCluster")
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("b.id") < col("a.id") &&
          round(Similarity.cosine(col("a.vec"), col("b.vec")), 4) >= threshold)
      .select(col("a.id").as("id")).distinct()
      .withColumn("_d", lit(1))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid").as("cluster"),
        coalesce(col("_d"), lit(0)).cast("int").as("dropped"))
  }

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`, bucketed by
    * random-hyperplane signs (`planes` deterministic from `seed`), exact
    * cosine computed only within buckets. Single-table: cheap but low
    * recall — prefer `embeddingCandidatesBanded` when recall matters. */
  def embeddingCandidates(
      df: DataFrame, vecCol: String, idCol: String,
      dim: Int, nPlanes: Int = 12, threshold: Double = 0.95,
      seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planeMatrix: Seq[Seq[Double]] =
      Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
    // one fused kernel over one plane-matrix literal (single table ⇒ one
    // bucket: planesPerTable = nPlanes), no interpreted lambdas
    val bucket = element_at(graft.functions.VectorExpressions
      .vec_lsh_buckets(col(vecCol), typedLit(planeMatrix), nPlanes), 1)
    val bucketed = FanOut.fanOutSmall(df).select(col(idCol).as("id"),
      col(vecCol).as("vec"), bucket.as("bucket"))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.cosine(col("a.vec"), col("b.vec")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Canonical-document selection: the "which copy survives" step after
    * clustering. For each component, keep the member maximizing
    * `qualityCol` (ties → smallest id) — one map-side-combinable `max_by`
    * hash agg over the (id, component) relation, no window over the
    * corpus. Output: (component, group_size, kept_id, kept_quality). */
  def canonicalKeep(
      components: DataFrame, quality: DataFrame,
      idCol: String, qualityCol: String): DataFrame =
    components
      .join(quality.select(col(idCol).as("id"), col(qualityCol).as("_q")), "id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"),
        max_by(col("id"), struct(col("_q"), (-col("id")).as("_ni"))).as("kept_id"),
        max(col("_q")).as("kept_quality"))

  /** Character-level near-duplicate pairs: Levenshtein distance ≤
    * `maxDist` between documents agreeing on every `blockCols` value.
    *
    * Candidate generation is a LOSSLESS length-band equi-join, not
    * all-pairs: |len(a)−len(b)| lower-bounds edit distance, so (given
    * `bandWidth ≥ maxDist`) every qualifying pair lies in the same or an
    * adjacent `bandWidth`-char length band. Each doc joins its own band
    * against probes emitted at bands {lb, lb+1}; the cheap length filter
    * then prunes, and pairs found via both orientations are collapsed to
    * ONE canonical row, all BEFORE the O(len·maxDist) banded
    * `levenshtein(_, _, threshold)` runs (it abandons early at the
    * threshold — never the full O(len²) matrix). The expensive distance
    * runs exactly once per surviving candidate, and candidates are
    * band-bounded, never corpus-quadratic.
    */
  def editDistanceNearDup(
      df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], maxDist: Int = 40,
      bandWidth: Int = 64): DataFrame = {
    require(bandWidth >= maxDist,
      s"bandWidth=$bandWidth must be >= maxDist=$maxDist or adjacent-band " +
        "pairing loses qualifying pairs")
    val cols = Seq(col(idCol).as("_id"), col(textCol).as("_txt"),
      length(col(textCol)).as("_len")) ++ blockCols.map(col)
    val base = FanOut.fanOutSmall(df).select(cols: _*)
      .withColumn("_lb", expr(s"_len DIV $bandWidth"))
    val probe = base.withColumn("_lb", explode(array(col("_lb"), col("_lb") + 1)))
    val joinKeys = "_lb" +: blockCols
    val ordered = col("a._id") < col("b._id")
    base.as("a").join(probe.as("b"),
        joinKeys.map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col("a._id") =!= col("b._id"))
      .filter(abs(col("a._len") - col("b._len")) <= maxDist)
      .select(
        least(col("a._id"), col("b._id")).as("id_a"),
        greatest(col("a._id"), col("b._id")).as("id_b"),
        when(ordered, col("a._txt")).otherwise(col("b._txt")).as("_ta"),
        when(ordered, col("b._txt")).otherwise(col("a._txt")).as("_tb"))
      .dropDuplicates("id_a", "id_b") // collapse dual orientations pre-distance
      .withColumn("dist", levenshtein(col("_ta"), col("_tb"), maxDist))
      .filter(col("dist") >= 0) // threshold form returns -1 above maxDist
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** CLUSTER-AWARE train/val/test split report (round 10): assign every
    * document's ENTIRE near-duplicate cluster to one split, so no two
    * near-duplicates straddle a split boundary — the leakage mode that
    * inflates eval scores when a test document's near-twin sits in
    * training data (the reason decontamination papers pair dedup with
    * splitting). Input is a [[connectedComponents]]-style relation
    * (`id`, `component` where component = the cluster's min id; every
    * doc appears, singletons as their own component).
    *
    * Assignment is `component mod 10` against (trainBuckets,
    * valBuckets): deterministic, engine-portable (plain positive modulo
    * — DuckDB-oracle-able), and cluster-constant by construction. A
    * production run would hash-salt the component first so bucket sizes
    * don't correlate with id assignment order; the modulo form keeps the
    * operator bit-exact against the oracle and the correlation only
    * affects balance, never leakage.
    *
    * Output, one row per split: n_docs, n_clusters, and
    * naive_leaky_clusters = how many of this split's clusters the NAIVE
    * per-document rule (`id mod 10`) would have scattered across ≥2
    * splits — the measured leakage the cluster rule eliminates.
    *
    * Shape (100 TB): two map-side-combinable hash aggregates over the
    * compact (id, component) relation — no joins, no windows, nothing
    * corpus-quadratic. */
  def clusterAwareSplit(
      components: DataFrame, trainBuckets: Int = 8,
      valBuckets: Int = 1): DataFrame = {
    require(trainBuckets > 0 && valBuckets > 0 &&
      trainBuckets + valBuckets < 10,
      "need trainBuckets > 0, valBuckets > 0, trainBuckets + valBuckets < 10")
    def splitOf(c: org.apache.spark.sql.Column) = {
      val b = pmod(c, lit(10))
      when(b < trainBuckets, "train")
        .when(b < trainBuckets + valBuckets, "val")
        .otherwise("test")
    }
    components
      .select(col("id"), col("component"),
        splitOf(col("component")).as("split"),
        splitOf(col("id")).as("_naive"))
      .groupBy(col("component"), col("split"))
      .agg(count(lit(1)).as("_n"), count_distinct(col("_naive")).as("_nv"))
      .groupBy(col("split"))
      .agg(sum(col("_n")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("_nv") > 1, 1L).otherwise(0L)).as("naive_leaky_clusters"))
  }
}
