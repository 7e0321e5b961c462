package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PERSISTED ANN index + query-time serving — the
  * [[DedupIndex]] operational pattern applied to embeddings.
  *
  * Every ANN driver query ([[Similarity.ivfPqTopK]] and friends)
  * re-derives the corpus-side retrieval structure — coarse assignment
  * and PQ codes, the two passes that touch every raw vector — on every
  * run. A production retrieval system builds that structure ONCE
  * (offline, corpus-proportional) and serves query batches against it
  * at probed-fraction cost. This module persists the four IVF-PQ
  * relations as parquet:
  *
  *   - `centroids/` (cid, cvec) — the coarse quantizer, ~√N rows;
  *   - `codebook/`  (j, code, cvec) — the PQ cells, fixed-size;
  *   - `codes/`     (nid, j, code) **partitioned by cid** — each
  *     vector's coarse list membership fused with its m one-byte codes:
  *     the ONLY corpus-sized relation, m longs per vector (the raw
  *     corpus is ~32× bigger), and because the layout is
  *     `partitionBy(cid)`, a query batch's probe set prunes the SCAN to
  *     its inverted lists — dynamic partition pruning does at serving
  *     time what the in-memory operator needs a join for.
  *
  * Query-time plan ([[queryIvfPqIndex]]): two paths, one answer.
  *   - When the quantizer's rows plus the probed lists' rows, counted
  *     from parquet footers before any row ships, fit
  *     [[graft.plans.DriverSide]]'s one cutoff (200,000 rows), the
  *     driver serves ([[IvfPqOnDriver]]): one collect of the quantizer,
  *     probes picked in-process, one collect of only the probed lists'
  *     codes, ADC scoring and ranking in-process — two Spark jobs and no
  *     schema inference, returned as a local relation.
  *   - Over the cutoff, a Spark plan: probes and the ADC table are
  *     broadcast (both query-batch-sized); the codes relation is read
  *     ONLY at the probed cid partitions, scored by summing broadcast
  *     table entries, ranked by the k-bounded heap.
  * Neither path shuffles anything corpus-sized, re-reads raw vectors or
  * re-encodes — serving cost ∝ (probed fraction) × (m longs per
  * vector). Nothing is cached between calls: appends, folds and
  * compactions change the index between nearly every pair of query
  * batches in a day-2 loop, so a snapshot keyed by index version would
  * reload on almost every call, while reading only the probed lists
  * already bounds a call's cost. At extreme nlist (10⁶+ physical
  * partitions) swap `partitionBy` for bucketing; the join shape is
  * unchanged.
  *
  * Determinism: built from the same mod-seeded centroids, fixed-cell
  * codebook, two-level assignment and integer-exact ADC as the
  * in-memory operators, so index-served results are BYTE-IDENTICAL to
  * [[Similarity.ivfPqTopK]] over the same inputs (spec-asserted), and
  * the q176 DuckDB oracle is q102's verbatim. */
object AnnIndex {

  /** Build + persist the IVF-PQ index (corpus-proportional, run once).
    * `centroids` (cid, cvec) and `codebook` (j, code, cvec) are caller-
    * supplied — mod-seeded, k-means, or learned — and stored alongside
    * so the index is self-describing.
    *
    * A fresh root is written directly. Over a root that already holds
    * an index (`_graft_meta` exists) this is [[rebuildIvfPqIndex]]: the
    * new index is built complete at a sibling root and swapped in by two
    * renames, so a failed overwrite leaves the old index serving, and
    * nothing of the old root survives beside the new relations — not
    * `codes_stream/` (encoded against the old quantizer) nor
    * `_tombstones`. As in any rebuild, pending tombstones are applied to
    * `corpus` and the streaming checkpoint carries over. */
  def writeIvfPqIndex(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, path: String, twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val meta = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    if (meta.getFileSystem(corpus.sparkSession.sessionState.newHadoopConf())
        .exists(meta))
      rebuildIvfPqIndex(corpus, centroids, codebook, m, dim, path,
        twoLevel, idCol, vecCol)
    else buildIvfPqIndex(corpus, centroids, codebook, m, dim, path,
      twoLevel, idCol, vecCol)
  }

  /** [[writeIvfPqIndex]] into a root that holds no index. */
  private def buildIvfPqIndex(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, path: String, twoLevel: Boolean,
      idCol: String, vecCol: String): Unit = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    val cents = centroids.select(col("cid"), col("cvec"))
    val cb = codebook.select(col("j"), col("code"), col("cvec"))
    val (assign, supersWrite) =
      if (twoLevel) {
        val (supers, cmap) = Similarity.superStructure(cents)
        // PERSIST the super set: the routing anchors freeze at build
        // time like the centroids/codebook. Deriving supers from the
        // live centroid relation makes two-level hot-list splits
        // unsound — adding child centroids shifts the rank-based super
        // selection and re-routes UNRELATED lists' probes. With
        // `supers/` frozen, the centroid→super map
        // re-derives cheaply per use ([[Similarity.superMap]]) and a
        // split's children enter exactly one super's group while every
        // other group is untouched.
        (Similarity.coarseAssignTwoLevel(corpus, supers, cmap,
          idCol, vecCol, carryVec = false),
          Seq(() => supers.write.mode("overwrite").parquet(s"$path/supers")))
      } else
        (Similarity.coarseAssign(corpus, cents, idCol, vecCol,
          carryVec = false), Seq.empty[() => Unit])
    // the four relation writes are independent (the codes join consumes
    // the IN-MEMORY cents/cb/supers, never the written files) — overlap
    // them (FanOut.inParallel); meta stays LAST so a crash mid-build
    // never leaves a meta claiming a complete index.
    FanOut.inParallel(Seq(
      () => cents.write.mode("overwrite").parquet(s"$path/centroids"),
      () => cb.write.mode("overwrite").parquet(s"$path/codebook")) ++
      supersWrite ++ Seq(
      // fuse codes + assignment at BUILD time (one corpus-keyed join here
      // instead of one per query batch) and lay the result out by
      // inverted list: the serving scan prunes to the probed cids
      () => Similarity.pqEncode(corpus, broadcast(cb), dsub, idCol, vecCol)
        .join(assign, "nid")
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/codes")
      ): _*)
    DedupIndex.writeMeta(corpus.sparkSession, path, "ivfpq",
      Map("m" -> m, "dim" -> dim, "twoLevel" -> (if (twoLevel) 1 else 0)))
  }

  /** The two-level routing structure for a persisted index root:
    * prefer the PERSISTED super set at `path/supers` — frozen at build
    * time, so the routing stays stable while the centroid relation
    * evolves under [[splitHotLists]] — with the centroid→super map
    * derived per use over the CURRENT centroids
    * ([[Similarity.superMap]]: split children enter one group by the
    * same nearest-super rule; all other routings unchanged). A legacy
    * root without `supers/` falls back to the rank-derivation over the
    * centroid relation — identical while the centroid set is the
    * build-time one (the only state a legacy root can be in, since
    * splits REQUIRE the persisted set). [[IvfPqOnDriver]] mirrors both
    * branches. */
  private def superStructureAt(
      spark: org.apache.spark.sql.SparkSession, path: String,
      cents: DataFrame): (DataFrame, DataFrame) = {
    val sp = new org.apache.hadoop.fs.Path(s"$path/supers")
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(sp)) {
      val supers = spark.read.parquet(sp.toString)
      (supers, Similarity.superMap(cents, supers))
    } else Similarity.superStructure(cents)
  }

  /** Append a NEW vector batch to a persisted index (round 15 — closes
    * the build-once gap: a production retrieval system adds vectors
    * daily and cannot re-encode the corpus each time). The batch is
    * coarse-assigned and PQ-encoded against the index's OWN persisted
    * centroids/codebook — the structure is read back, never retrained —
    * so appended codes are byte-identical to what a full rebuild over
    * the union corpus would produce, and serving over base + appends
    * hash-matches [[Similarity.ivfPqTopK]] over the union (q179's
    * oracle is exactly that). Cost ∝ batch: the centroids (√N, or N^¼
    * routed two-level) and the fixed-size codebook broadcast against
    * ONE batch scan; the write appends new files under the existing
    * `codes/cid=` partitions (existing index data is never rewritten).
    *
    * `twoLevel` must match the build — corpus rows assigned by a
    * different quantizer routing would sit in different lists than the
    * query probe expects. NOT idempotent: replaying an append
    * double-counts the batch's (nid, j) rows in the ADC sum (unlike the
    * dedup indexes, where duplicate key rows are harmless) — run it
    * exactly-once (a scheduled maintenance job, not a foreachBatch), or
    * [[compactIvfPqCodes]] to repair.
    *
    * Maintenance policy (documented, not automated): appends reuse the
    * FROZEN coarse quantizer, so centroid drift — a new-data
    * distribution the old centroids explain poorly — degrades list
    * balance, not correctness (every vector still lands in some list;
    * ADC stays integer-exact). Monitor the appended batches' list-size
    * skew (`codes` group-by cid) and assignment similarity; when the
    * hot-list fraction grows past the serving budget, re-train and
    * rebuild offline ([[writeIvfPqIndex]]) and cut queries over — the
    * standard IVF re-index cycle (Jégou et al., PAMI 2011 §V treat the
    * quantizer as fixed at add time for the same reason). */
  def appendToIvfPqIndex(
      newVecs: DataFrame, path: String, m: Int, dim: Int,
      twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val spark = newVecs.sparkSession
    DedupIndex.checkMeta(spark, path, "ivfpq",
      Map("m" -> m, "dim" -> dim, "twoLevel" -> (if (twoLevel) 1 else 0)))
    val dsub = dim / m
    val cents = spark.read.parquet(s"$path/centroids")
    val cb = broadcast(spark.read.parquet(s"$path/codebook"))
    val assign =
      if (twoLevel) {
        val (supers, cmap) = superStructureAt(spark, path, cents)
        Similarity.coarseAssignTwoLevel(newVecs, supers, cmap,
          idCol, vecCol, carryVec = false)
      } else Similarity.coarseAssign(newVecs, cents, idCol, vecCol,
        carryVec = false)
    Similarity.pqEncode(newVecs, cb, dsub, idCol, vecCol)
      .join(assign, "nid")
      .write.mode("append").partitionBy("cid").parquet(s"$path/codes")
  }

  /** REBUILD a persisted index in place, atomically (round 15 — the
    * mechanism behind the centroid-drift policy the append path
    * documents: when the frozen quantizer's list balance degrades past
    * the serving budget, re-train offline and CUT OVER). The new index
    * — retrained `centroids`/`codebook`, `corpus` re-encoded — is built
    * COMPLETELY at a sibling `._rebuild_tmp` root (a full
    * [[writeIvfPqIndex]]; the live index serves untouched throughout),
    * then two FS-metadata renames swap the roots and the old index is
    * deleted LAST. Crash at any point leaves a complete index
    * recoverable: before the swap the live root is untouched; between
    * the renames the previous index sits at `._rebuild_old` and the
    * next call restores it first. Serving unavailability is the
    * two-rename metadata window.
    *
    * Pass the FULL current corpus — base plus every appended/streamed
    * era; the rebuild replaces everything under `path`, including
    * `codes_stream/` and the `_tombstones` set, and pending tombstones
    * are ENFORCED against the passed corpus (anti-join — a rebuild is
    * the physical application of every pending deletion whether or not
    * the caller remembered to exclude them). The streaming checkpoint
    * (`_stream_chk`) is
    * COPIED into the sibling build before the swap (so it travels with
    * the renames and survives a crash at any point): the rebuilt corpus
    * already contains the streamed vectors, so the checkpoint correctly
    * marks their source files processed and a post-rebuild
    * [[streamIvfPqIngest]] resumes with only genuinely-new files. */
  def rebuildIvfPqIndex(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, path: String, twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    rebuildIvfPqIndexWithHook(corpus, centroids, codebook, m, dim, path,
      twoLevel, idCol, vecCol, () => ())

  /** [[rebuildIvfPqIndex]] with a `preBuild` hook that runs INSIDE the
    * swap's build callback — i.e. after the entry tombstone snapshot.
    * [[rebuildIvfPqIndexFromStore]] propagates index tombstones to the
    * vector store there, so every file the swap clears has a durable
    * store record and every later-landing file is rescued as pending
    * (the round-17 resurrection-window closure). */
  private def rebuildIvfPqIndexWithHook(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, path: String, twoLevel: Boolean,
      idCol: String, vecCol: String, preBuild: () => Unit): Unit =
    // the swap protocol (entry recovery, old-sidecar salvage, pre-swap
    // sidecar copy, two renames, delete-old-last) is the SHARED
    // [[DedupIndex.atomicSwap]] — the round-15 checkpoint crash window
    // existed because this used to be a hand-copy of it. Sidecars: the
    // streaming checkpoint travels with the swap (so a post-rebuild
    // ingest resumes with only genuinely-new files after a crash at any
    // point); `_graft_meta` is listed for the salvage path only — the
    // sibling build writes its own fresh meta, so the pre-swap copy is
    // a no-op for it.
    DedupIndex.atomicSwap(corpus.sparkSession, path, "rebuild",
      Seq("_stream_chk", "_graft_meta")) { tmp =>
      preBuild()
      // pending tombstones are APPLIED here, never destroyed (round 16
      // follow-up): the swap deletes <path>/_tombstones with the old
      // root, so relying on the caller to have excluded the deleted
      // vectors would let a rebuild from a tombstone-unaware corpus
      // RESURRECT taken-down content with no error. The anti-join is
      // idempotent when the caller already excluded them. (Inside the
      // build callback: entry recovery has run, so a crash-restored
      // live root's tombstones are seen too.)
      val corpusSurv = DedupIndex.dropTombstoned(
        corpus.sparkSession, corpus, path, idCol)
      buildIvfPqIndex(corpusSurv, centroids, codebook, m, dim, tmp,
        twoLevel, idCol, vecCol)
    }

  /** Per-list occupancy report for a persisted index (round 16 — the
    * MONITOR half of the centroid-drift policy [[appendToIvfPqIndex]]
    * documents; [[rebuildIvfPqIndex]] is the act): one row per coarse
    * list over `codes/` ∪ `codes_stream/` — (cid, n_codes, share_bp,
    * hot_factor_bp) where share_bp is the list's fraction of all code
    * rows in basis points and hot_factor_bp its size relative to the
    * MEAN list (10000 = perfectly balanced). Serving cost ∝ the probed
    * lists' sizes, so the operative drift signal is the hot-list
    * factor: appends against a frozen quantizer that no longer fits
    * the data pile into few lists, and the probe budget buys ever less
    * recall.
    *
    * Cost: file-metadata bound — the aggregation reads ONLY the `cid`
    * partition column, so it decodes zero data pages (row counts come
    * from parquet row-group metadata). At production file sizes that
    * is orders of magnitude below any data scan; at toy file sizes the
    * per-file listing/footer overhead dominates BOTH and the report is
    * no cheaper than a column scan (IndexProbe row, measured honestly:
    * 11.4 s report vs 6.6 s data scan over 457 tiny-file lists at
    * 100×) — the claim is about bytes-not-decoded, which only matters
    * when files hold real data. */
  def listBalanceReport(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    DedupIndex.checkMeta(spark, path, "ivfpq", Map.empty)
    val sPath = new org.apache.hadoop.fs.Path(s"$path/codes_stream")
    val sFs = sPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hasStream = sFs.exists(sPath)
    val folded = if (hasStream) foldedBatchIds(sFs, s"$path/codes").toSeq
                 else Seq.empty
    val rels = Seq(spark.read.parquet(s"$path/codes").select("cid")) ++
      (if (hasStream) Seq({
        val st = spark.read.parquet(sPath.toString)
        (if (folded.isEmpty) st
         else st.filter(!col("ingest_batch").isin(folded: _*)))
          .select("cid")
      }) else Nil)
    val perList = rels.reduce(_ unionByName _)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_codes"))
    balanceArithmetic(perList)
  }

  /** The shared share/hot-factor arithmetic over a per-list (cid,
    * n_codes) relation — factored (round 17) so the scan-based and
    * footer-based reports are identical by construction. nLists/total
    * are one tiny cross-joined aggregate row (≤ nlist input rows), not
    * a driver collect. */
  private def balanceArithmetic(perList: DataFrame): DataFrame = {
    val totals = perList.agg(count(lit(1)).as("_n_lists"),
      sum(col("n_codes")).as("_n_total"))
    perList.crossJoin(broadcast(totals))
      .select(col("cid"), col("n_codes"),
        expr("n_codes * 10000 DIV _n_total").as("share_bp"),
        // the hot-factor numerator is n_codes × 10⁴ × nlist — at a
        // 10¹⁰-vector corpus with √N-ish nlist that product overflows
        // Long and would corrupt the shouldRetrain verdict exactly when
        // drift is worst; decimal(38,0) holds it at any physical scale.
        // DIV (IntegralDivide → long), not CAST(a/b AS BIGINT): decimal
        // division rounds HALF_UP at the result scale before the cast,
        // so a quotient within ~5e-7 below an integer would round up
        // and diverge by 1 from the oracle's `//` floor (round 17,
        // ADVICE)
        expr("CAST(n_codes AS DECIMAL(38,0)) * 10000 * _n_lists " +
          "DIV _n_total").as("hot_factor_bp"))
  }

  /** Hadoop Configuration is not Serializable; this minimal wrapper
    * ships it to the footer-reading tasks (the standard write/readFields
    * round-trip). */
  private class SerConf(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Data-file count over the codes layout (round 18 — the
    * maintenanceTick decision read): the driver lists only the `cid=`
    * partition DIRECTORIES (plus unfolded stream batch dirs); the
    * per-dir file listing runs inside tasks — the same posture as
    * [[listBalanceReportFromFooters]]. The first tick implementation
    * read [[DedupIndex.describeIndex]] instead, whose driver-side
    * recursive `fs.listFiles` crawl measured ~4 ms/file on LocalFS:
    * 39 s at 100× (9 000+ files) for a decision the footer report
    * makes in 0.5 s — measured, then replaced with this. */
  private[operators] def codesDataFileCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sessionState.newHadoopConf()
    val codes = new Path(s"$path/codes")
    val fs = codes.getFileSystem(hconf)
    def cidDirs(base: Path): Seq[String] =
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("cid=") =>
          st.getPath.toString
      }
    val sPath = new Path(s"$path/codes_stream")
    val folded = foldedBatchIds(fs, codes.toString)
    val dirs = cidDirs(codes) ++
      (if (!fs.exists(sPath)) Nil
       else fs.listStatus(sPath).toSeq.filter { st =>
           val n = st.getPath.getName
           st.isDirectory && n.startsWith("ingest_batch=") &&
             !folded.contains(n.stripPrefix("ingest_batch=").toLong)
         }
         .flatMap(st => cidDirs(st.getPath)))
    if (dirs.isEmpty) return 0L
    val ser = new SerConf(hconf)
    val slices = math.max(1, math.min(dirs.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(dirs, slices)
      .map { dir =>
        val dp = new Path(dir)
        dp.getFileSystem(ser.conf).listStatus(dp).count { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
            !n.endsWith(".crc")
        }.toLong
      }
      .fold(0L)(_ + _)
  }

  /** [[listBalanceReport]] computed from PARQUET FOOTERS instead of a
    * Spark scan — the metadata-bound monitor: per-list row counts come
    * from each file's footer `num_rows`, keyed by the `cid=` partition
    * directory the file sits in. Byte-identical values to the scan
    * report (the arithmetic is [[balanceArithmetic]], shared;
    * spec-asserted, and q194's oracle is q191's verbatim).
    *
    * Why it exists, and why the RAW read: the scan report measured no
    * cheaper than a data scan at toy file sizes (11.4 s vs 6.6 s over
    * 457 tiny-file lists at 100×) — Spark's per-file scan machinery
    * dominates when files are small. `ParquetFileReader.open` measured
    * worse still (7.3 ms/file warm — reader construction + full
    * metadata conversion, not IO); the raw footer read
    * ([[graft.sources.ParquetFiles.footer]]) measures 0.09 ms/file,
    * which makes the report cheap at ANY file granularity: exactly the
    * reference's footer-only planning (make-metadata.py:13-18). BOTH
    * the per-dir file listing and the footer reads run inside the
    * tasks: the driver only lists the `cid=` partition DIRECTORIES
    * (nlist entries, one listStatus per parent — a driver-side
    * recursive file crawl through Hadoop LocalFS measured ~4 ms/file
    * and dominated the whole report). */
  def listBalanceReportFromFooters(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    DedupIndex.checkMeta(spark, path, "ivfpq", Map.empty)
    val hconf = spark.sessionState.newHadoopConf()
    val codes = new Path(s"$path/codes")
    val fs = codes.getFileSystem(hconf)
    // driver work ∝ partition-DIR count: one listStatus of codes/ (and
    // per stream batch dir) yielding (cid, dir) pairs — never files
    def cidDirs(base: Path): Seq[(Long, String)] =
      fs.listStatus(base).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("cid=") =>
          (st.getPath.getName.stripPrefix("cid=").toLong,
            st.getPath.toString)
      }
    val sPath = new Path(s"$path/codes_stream")
    val folded = foldedBatchIds(fs, codes.toString)
    val dirs = cidDirs(codes) ++
      (if (!fs.exists(sPath)) Nil
       else fs.listStatus(sPath).toSeq.filter { st =>
           val n = st.getPath.getName
           st.isDirectory && n.startsWith("ingest_batch=") &&
             !folded.contains(n.stripPrefix("ingest_batch=").toLong)
         }
         .flatMap(st => cidDirs(st.getPath)))
    val ser = new SerConf(hconf)
    import spark.implicits._
    val slices = math.max(1, math.min(dirs.size,
      spark.sparkContext.defaultParallelism * 2))
    val perDir = spark.sparkContext
      .parallelize(dirs, slices)
      .mapPartitions { it =>
        val conf = ser.conf
        var raw: org.apache.hadoop.fs.FileSystem = null
        it.map { case (cid, dir) =>
          val dp = new Path(dir)
          if (raw == null) raw = graft.sources.ParquetFiles.raw(dp.getFileSystem(conf))
          var rows = 0L
          raw.listStatus(dp).foreach { f =>
            val name = f.getPath.getName
            if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
                !name.endsWith(".crc"))
              rows += graft.sources.ParquetFiles.footer(raw, f).getNum_rows
          }
          (cid, rows)
        }
      }
      .toDF("cid", "n")
    // a dir holding no data rows contributes no list — exactly like the
    // scan report, where an empty list simply has no rows to group
    balanceArithmetic(
      perDir.filter(col("n") > 0)
        .groupBy(col("cid")).agg(sum(col("n")).as("n_codes")))
  }

  /** The one-number re-train verdict over [[listBalanceReport]]: true
    * when the hottest list exceeds `hotFactor` × the mean list size —
    * the documented threshold at which the frozen quantizer's drift has
    * concentrated enough mass that probed-list serving cost/recall
    * degrade and an offline re-train + [[rebuildIvfPqIndex]] cutover is
    * due. 4× is a reasonable default for √N-ish list geometries; tune
    * against the serving budget. */
  def shouldRetrain(spark: org.apache.spark.sql.SparkSession,
      path: String, hotFactor: Double = 4.0): Boolean = {
    // footer-based (round 17): the verdict is a maintenance-loop poll —
    // it must stay wall-cheap at any file granularity; the footer
    // report's values are byte-identical to the scan report's
    val row = listBalanceReportFromFooters(spark, path)
      .agg(max(col("hot_factor_bp"))).head()
    !row.isNullAt(0) && row.getLong(0) > (hotFactor * 10000L).toLong
  }

  /** HOT-LIST SPLIT (round 17) — the list-proportional rebalance
    * BETWEEN full re-train cutovers: when drift concentrates mass into
    * a few lists but [[shouldRetrain]]'s global verdict has not tripped
    * (or a full [[rebuildIvfPqIndex]] is not affordable yet), locally
    * re-cluster ONLY the lists whose `hot_factor_bp` exceeds
    * `hotFactorBp`: each hot list's vectors re-assign to `splitInto`
    * child centroids seeded deterministically (the list's smallest
    * `splitInto` vector ids — no training pass), the children join the
    * coarse quantizer, the parent centroid retires. Jégou et al. (PAMI
    * 2011) §V treat the coarse quantizer as fixed at add time; the
    * practical variant splits overfull cells instead of retraining.
    *
    * Cost ∝ the HOT LISTS only: their raw vectors fetch from
    * `vecStorePath` by broadcast id semi-join, re-assign against
    * `splitInto` seeds, and their code rows rewrite with the new cid —
    * PQ codes themselves are UNCHANGED (the codebook is global, not
    * per-list, so ADC scores are bit-identical; only list routing
    * moves). Every other list's data is untouched. Serving equality:
    * a full-probe query (nProbe ≥ nlist) returns byte-identical top-k
    * before and after (spec-asserted); at small nProbe the probe set
    * changes exactly as the finer quantizer dictates (q195's oracle
    * re-derives the whole post-split structure).
    *
    * Crash ordering: (1) child partitions write FIRST (idempotent —
    * dynamic partition overwrite under deterministic child cids); they
    * are unreachable until (2) the centroid relation atomically swaps
    * (parent out, children in — [[DedupIndex.atomicRewrite]]); only
    * then (3) the parent `cid=` dirs delete. A crash leaves either the
    * pre-split index serving exactly as before (children unreachable)
    * or the post-split index with an unreachable parent dir; entry
    * cleanup removes any `cid=` dir not in the centroid relation, so a
    * re-run converges. Pending tombstones ride along untouched (the
    * split rewrites hot lists WITHOUT them — the partial physical
    * application compaction would do anyway; the set stays for the
    * other lists' anti-join).
    *
    * Scope limits (fail-loud): single-level indexes only — the
    * two-level super structure re-derives from the WHOLE centroid set,
    * so adding children would re-route unrelated lists' probes; and no
    * `codes_stream/` — fold streamed codes in with a rebuild first.
    * Returns a report (old_cid, new_cid, n_codes). */
  def splitHotLists(spark: org.apache.spark.sql.SparkSession,
      vecStorePath: String, path: String, m: Int, dim: Int,
      hotFactorBp: Long = 40000L, splitInto: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(splitInto >= 2, s"splitInto must be >= 2, got $splitInto")
    DedupIndex.checkMeta(spark, path, "ivfpq",
      Map("m" -> m, "dim" -> dim))
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // two-level roots are splittable since round 18 IF the super set is
    // PERSISTED (frozen routing anchors — children enter one super's
    // group by the nearest rule, every other group untouched). A legacy
    // two-level root derives supers from the live centroid relation, so
    // a split would shift the rank-based super selection and re-route
    // UNRELATED lists' probes — the round-17 rejection stands there.
    DedupIndex.readMeta(spark, path).foreach { case (_, params) =>
      if (params.getOrElse("twoLevel", 0) == 1)
        require(fs.exists(new Path(s"$path/supers")),
          s"splitHotLists: two-level index at $path has no persisted " +
            "super set (built before round 18) — deriving supers from " +
            "the post-split centroid relation would re-route unrelated " +
            "lists' probes; rebuild once (rebuildIvfPqIndex*) to " +
            "persist supers/ and enable local splits")
    }
    require(!fs.exists(new Path(s"$path/codes_stream")),
      s"splitHotLists: $path has codes_stream — run foldStreamIntoCodes " +
        "(or a rebuild) first so every row lives in the base cid= layout")
    // entry cleanup: cid= dirs not in the centroid relation are
    // unreachable residue of a crashed previous split (children before
    // their swap, parents after theirs) — remove them so counts and
    // re-runs are clean. The centroid id set is nlist-sized (~√N longs,
    // trivially driver-safe).
    val centIds = spark.read.parquet(s"$path/centroids")
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    fs.listStatus(new Path(s"$path/codes")).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("cid=") &&
          !centIds.contains(n.stripPrefix("cid=").toLong))
        fs.delete(st.getPath, true)
    }
    // hot set from the footer report (wall-cheap at any file size)
    val hot = listBalanceReportFromFooters(spark, path)
      .filter(col("hot_factor_bp") > hotFactorBp)
      .select(col("cid")).collect().map(_.getLong(0)).sorted
    if (hot.isEmpty) return Seq.empty[(Long, Long, Long)]
      .toDF("old_cid", "new_cid", "n_codes")
    val hotSet = hot.toSet
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cid").isin(hot: _*))
    // partial physical application of pending tombstones for the
    // rewritten lists only — exactly what compaction would do
    val liveRows = DedupIndex.dropTombstoned(spark, codes, path, "nid")
    // partition-column inference reads cid back as int — normalize
    val members = liveRows.select(col("cid").cast("long").as("cid"),
      col("nid")).distinct()
    // the store legitimately accretes DUPLICATE rows from at-least-once
    // appends (round-17 self-review: an equality check on the raw join
    // count failed spuriously on such a store) — dedupe by id first; the
    // duplicates are identical rows by the store contract
    val raw = spark.read.parquet(vecStorePath)
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .join(members.select(col("nid")).distinct(), Seq("nid"), "leftsemi")
      .dropDuplicates("nid")
    val nMembers = members.select(col("nid")).distinct().count()
    val nRaw = raw.count()
    require(nRaw == nMembers,
      s"splitHotLists: vector store at $vecStorePath holds $nRaw of the " +
        s"$nMembers live vectors in the hot lists — the store must carry " +
        "every admitted vector (was it compacted against a different " +
        "tombstone set?)")
    // deterministic seeds: the splitInto smallest nids per hot list via
    // the k-bounded heap aggregate (map-side partials — never a window
    // sort or a whole-list collect_list over a list that is hot
    // PRECISELY because it is huge). score = −nid as double is monotone
    // non-increasing in nid and the heap tie-breaks ascending nid, so
    // top-k-by-score = the k smallest ids even past 2^53. Seeds are
    // (hot lists × splitInto) rows — driver-small by construction;
    // child cids allocate densely after the current max centroid id in
    // (parent, seed) order.
    val maxCid = centIds.max
    val seeds = Similarity.rankTopK(
        members.select(col("cid").as("qid"), col("nid"),
          (-col("nid")).cast("double").as("score")), splitInto)
      .select(col("qid"), col("nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val children = seeds.zipWithIndex.map { case ((parent, seed), i) =>
      (parent, maxCid + 1 + i, seed)
    }.toSeq.toDF("parent", "child_cid", "seed_nid")
    val childVecs = children
      .join(raw.select(col("nid").as("seed_nid"), col("nvec").as("cvec")),
        Seq("seed_nid"))
    // local re-assignment: each hot-list vector to its OWN parent's
    // nearest child seed (ties → smallest child cid) — the same
    // aggregate argmax shape as coarseAssign, restricted by parent
    val assign = members.join(raw, Seq("nid"))
      .join(broadcast(childVecs.withColumnRenamed("parent", "cid")), Seq("cid"))
      .withColumn("csim", Similarity.cosine(col("nvec"), col("cvec")))
      .groupBy(col("nid"))
      .agg(max_by(col("child_cid"),
        struct(col("csim"), (-col("child_cid")).as("nc"))).as("new_cid"))
    // (1) child partitions: write to a dot-scratch sibling (a direct
    // dynamic-overwrite into codes/ would write the path being read),
    // then MOVE each cid= dir into codes/ — FS metadata only, no second
    // data pass. Unreachable until the centroid swap in (2); a crashed
    // run's residue is cleared above (scratch) / at entry (orphan cids).
    val scratch = new Path(s"$path/._split_tmp")
    if (fs.exists(scratch)) fs.delete(scratch, true)
    liveRows.join(assign, Seq("nid"))
      .select(col("nid"), col("j"), col("code"), col("new_cid").as("cid"))
      .write.mode("overwrite")
      .partitionBy("cid")
      .parquet(scratch.toString)
    fs.listStatus(scratch).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("cid=")) {
        val dst = new Path(s"$path/codes/${st.getPath.getName}")
        if (fs.exists(dst)) fs.delete(dst, true) // crashed-run residue
        require(fs.rename(st.getPath, dst),
          s"splitHotLists: could not move ${st.getPath} into codes/")
      }
    }
    fs.delete(scratch, true)
    // (2) the coarse quantizer swaps atomically: parents out, children in
    DedupIndex.atomicRewrite(spark, s"$path/centroids")(df =>
      df.filter(!col("cid").isin(hot: _*))
        .unionByName(childVecs.select(col("child_cid").as("cid"),
          col("cvec"))))
    // (3) the retired parents' dirs — unreachable since (2)
    hot.foreach(c => fs.delete(new Path(s"$path/codes/cid=$c"), true))
    spark.read.parquet(s"$path/codes")
      .join(broadcast(children.select(col("parent"), col("child_cid"))),
        col("cid") === col("child_cid"))
      .groupBy(col("parent").as("old_cid"), col("child_cid").as("new_cid"))
      .agg(count(lit(1)).as("n_codes"))
      .select(col("old_cid"), col("new_cid"), col("n_codes"))
      .orderBy(col("old_cid"), col("new_cid"))
  }

  /** [[rebuildIvfPqIndex]] fed from the maintained VECTOR STORE instead
    * of a caller-supplied corpus (round 16): the admission/streaming
    * paths (q185/q186) already keep `vecStorePath` = the raw rows of
    * exactly the admitted vectors, so the store IS the current corpus —
    * passing it explicitly invited the stale-corpus misuse (rebuilding
    * from a months-old snapshot silently drops every vector admitted
    * since). Tombstones pending on the store AND on the index are both
    * excluded, making this the one-call physical application of every
    * pending deletion — and an index-only takedown is first PROPAGATED
    * into the store's tombstone set (round 17: the rebuild clears the
    * index's set by applying it, so without the durable store record
    * the store — which still holds the raw vector until its own
    * compaction — would resurrect the deleted content on the NEXT
    * rebuild). Centroids/codebook stay caller-supplied — they
    * are the RE-TRAINED quantizer, the reason the rebuild is happening. */
  def rebuildIvfPqIndexFromStore(
      spark: org.apache.spark.sql.SparkSession, vecStorePath: String,
      centroids: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, path: String, twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val corpus = DedupIndex.dropTombstoned(spark,
      DedupIndex.dropTombstoned(spark,
        spark.read.parquet(vecStorePath), vecStorePath, idCol),
      path, idCol)
    rebuildIvfPqIndexWithHook(corpus, centroids, codebook, m, dim, path,
      twoLevel, idCol, vecCol,
      () => DedupIndex.propagateTombstones(spark, path, vecStorePath))
  }

  /** One micro-batch of the STREAMING ingest (round 15; factored so the
    * replay spec can drive it directly): encode the batch against the
    * persisted frozen centroids/codebook — identical derivation to
    * [[appendToIvfPqIndex]] — and OVERWRITE the batch's own
    * `ingest_batch=` partition under `codes_stream/` (dynamic partition
    * overwrite). Unlike the append path's plain parquet append, this IS
    * idempotent: an at-least-once foreachBatch replay rewrites the same
    * partition with the same rows, so streamed codes can never
    * double-count in the ADC sum. */
  private[graft] def ingestVecBatch(
      batch: DataFrame, batchId: Long, path: String, m: Int, dim: Int,
      twoLevel: Boolean, idCol: String, vecCol: String): Unit = {
    val spark = batch.sparkSession
    DedupIndex.checkMeta(spark, path, "ivfpq",
      Map("m" -> m, "dim" -> dim, "twoLevel" -> (if (twoLevel) 1 else 0)))
    val dsub = dim / m
    val cents = spark.read.parquet(s"$path/centroids")
    val cb = broadcast(spark.read.parquet(s"$path/codebook"))
    val assign =
      if (twoLevel) {
        val (supers, cmap) = superStructureAt(spark, path, cents)
        Similarity.coarseAssignTwoLevel(batch, supers, cmap,
          idCol, vecCol, carryVec = false)
      } else Similarity.coarseAssign(batch, cents, idCol, vecCol,
        carryVec = false)
    Similarity.pqEncode(batch, cb, dsub, idCol, vecCol)
      .join(assign, "nid")
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch", "cid")
      .parquet(s"$path/codes_stream")
  }

  /** STREAMING vector ingest into a persisted index (round 15) — the
    * online form of [[appendToIvfPqIndex]]: embedding batches arrive
    * through a streaming query and land as PQ codes encoded against the
    * index's frozen structure, exactly-once per batch (see
    * [[ingestVecBatch]] — partition overwrite makes replays rewrite,
    * not duplicate, which the plain append path cannot offer).
    * [[queryIvfPqIndex]] serves over base + streamed codes
    * transparently; each relation keeps its own partition-pruned scan.
    * Assumes each vector id arrives in exactly one batch (upstream
    * dedup — [[graft.streaming.StreamingOps.dedupIngestStream]]'s job);
    * the same frozen-quantizer drift policy as the batch append
    * applies. Runs synchronously over all currently-available input
    * (AvailableNow) — call again as new files land. */
  def streamIvfPqIngest(
      newVecs: DataFrame, path: String, m: Int, dim: Int,
      twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val q = newVecs.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$path/_stream_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) =>
        ingestVecBatch(b, id, path, m, dim, twoLevel, idCol, vecCol))
      .start()
    q.awaitTermination()
  }

  /** SemDeDup-style EMBEDDING near-dup ADMISSION against the persisted
    * index (completes the admission trilogy: exact text
    * [[DedupIndex.admitAgainstIndex]], verified text near-dup
    * [[DedupIndex.admitNearDupAgainstIndex]], and now semantic/embedding
    * near-dup): for every batch vector, the index proposes a `shortK`
    * ADC shortlist at probed-fraction cost ([[queryIvfPqIndex]]), the
    * top-1 is EXACTLY re-scored on raw vectors from `vecStore` (the
    * embeddings analog of the doc store — fetch ∝ shortlist,
    * [[Similarity.rerankTopK]]), and the doc is `dup_corpus` iff that
    * exact cosine ≥ `tauBp`/10000 (`keep_id` = the matched corpus
    * vector; ties → smallest nid), else `admitted` (`keep_id` = self).
    * Output: (idCol, status, keep_id).
    *
    * Exactness contract: a flagged dup is backed by an EXACT cosine ≥ τ
    * (the ADC approximation only proposes); a missed dup is the usual
    * ANN recall trade — a true near-dup outside the probed lists /
    * shortlist escapes, tuned by nProbe/shortK (RecallReport rows).
    * An exact-duplicate vector cannot escape: its twin shares its
    * coarse list and has ADC distance 0, so it tops the shortlist.
    * Intra-batch semantic dedup is deliberately out of scope here — run
    * the corpus-level SemDeDup ([[Dedup]] q52 machinery) on the batch
    * first; admission is the batch-vs-CORPUS half. After admission,
    * append the admitted vectors ([[appendToIvfPqIndex]] /
    * [[streamIvfPqIngest]]) and their raw rows to the vector store. */
  def admitEmbeddingsAgainstIndex(
      newVecs: DataFrame, vecStore: DataFrame, path: String,
      m: Int, dim: Int, shortK: Int = 20, nProbe: Int = 2,
      twoLevel: Boolean = false, tauBp: Long = 9900L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeIds: Option[DataFrame] = None): DataFrame = {
    require(shortK > 0, s"shortK must be positive, got $shortK")
    // excludeIds (replay safety for the streaming form): index
    // ids dropped from the shortlist BEFORE the exact re-score — a
    // replayed micro-batch excludes its own ids, so its earlier
    // codes_stream/vector-store appends can never make a vector its own
    // corpus match (the embedding analog of admitAgainstIndex's
    // keep_id exclusion; batch-sized broadcast anti-join on the
    // shortlist, which is already tiny)
    val shortlist0 = queryIvfPqIndex(newVecs, path, m, dim, shortK,
      nProbe, twoLevel, idCol, vecCol)
    val shortlist = excludeIds.fold(shortlist0)(ex =>
      shortlist0.join(
        broadcast(ex.select(ex.columns.head).toDF("_exid")),
        col("nid") === col("_exid"), "left_anti"))
    // decision arithmetic: the threshold is an INTEGER
    // basis-point comparison on the UNROUNDED exact cosine —
    // floor(cos·10⁴) ≥ tauBp ⟺ cos·10⁴ ≥ tauBp for integer tauBp, with
    // no display rounding in between (rankTopK's 4-decimal rounding
    // would flip a cosine in [τ−5e-5, τ) across the boundary and
    // diverge from any exact re-derivation — the q185/q186 oracles
    // compare the raw cosine). This matches the rest of the index
    // family's integer-exact boundaries.
    val top1 = Similarity.rerankTopK(vecStore, newVecs,
        shortlist.select(col("qid"), col("nid")), k = 1, idCol, vecCol,
        roundScore = false)
      .select(col("qid").as("id"), col("nid").as("_match"),
        floor(col("score") * 10000).cast("long").as("_cos_bp"))
    newVecs.select(col(idCol).as("id"))
      .join(broadcast(top1), Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("_cos_bp") >= tauBp, lit("dup_corpus"))
          .otherwise(lit("admitted")).as("status"),
        when(col("_cos_bp") >= tauBp, col("_match"))
          .otherwise(col("id")).as("keep_id"))
  }

  /** Tombstone vectors out of a persisted index (round 16 — takedown /
    * GDPR for the retrieval stack): `ids` (first column, cast long)
    * append to `<path>/_tombstones`; [[queryIvfPqIndex]] (and therefore
    * [[admitEmbeddingsAgainstIndex]]'s shortlist) anti-joins scored
    * candidates against the set (broadcast ∝ deletions since the last
    * compaction, never corpus-sized), and [[compactIvfPqCodes]] applies
    * the deletions PHYSICALLY to `codes/` and `codes_stream/` and
    * clears the set. Under globally-unique vector ids a tombstoned id
    * never returns, so no un-delete exists. The raw-vector STORE the
    * admission path re-scores against is a separate relation — take
    * the vector down there too ([[DedupIndex.deleteDocs]] on the store
    * path + [[DedupIndex.compactDocStore]] removes the bytes). */
  def deleteVectors(ids: DataFrame, path: String): Unit =
    DedupIndex.deleteDocs(ids, path)

  /** Compact the `codes/` relation of an append-accumulated index:
    * dedupes (nid, j, code) rows — an accidentally-replayed append
    * would otherwise double-count in the ADC sum — applies any
    * [[deleteVectors]] tombstones physically (both `codes/` and
    * `codes_stream/`, then clears the set — post-compaction the codes
    * are byte-identical to a fresh encode of the surviving corpus,
    * spec-asserted), and merges the small files appends accrete,
    * preserving the `cid=` serving layout. Crash-safe via
    * [[DedupIndex.atomicRewrite]]: the compacted relation is fully
    * written to a sibling tmp directory before two FS-metadata renames
    * swap it in, so the live index is never in a deleted state and a
    * crash at any point leaves a complete copy recoverable (the next
    * call restores it); a crash before the tombstone-set delete leaves
    * the anti-join a harmless no-op that the next compaction clears.
    * Run off the serving path. */
  def compactIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactIvfPqCodes(spark, path, () => ())

  /** Test seam (round 17): `midCompaction` runs after the base-codes
    * rewrite, before the tombstone clear — the window a concurrent
    * [[deleteVectors]] lands in. Production callers use the public
    * overload (no-op hook). */
  private[graft] def compactIvfPqCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String, midCompaction: () => Unit): Unit = {
    DedupIndex.checkMeta(spark, path, "ivfpq", Map.empty)
    // snapshot the tombstone FILE list first (round 17): the set lives
    // at the INDEX root — outside both swapped code relations — so the
    // final clear below, not the swap, is where a concurrent
    // deleteVectors used to be silently destroyed. Files in this
    // snapshot are guaranteed visible to both rewrites' tombstone reads
    // (which happen after it); only they are cleared — a takedown
    // landing mid-compaction stays PENDING for queries and the next
    // compaction.
    val ts = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val fs = ts.getFileSystem(spark.sessionState.newHadoopConf())
    val tsSnapshot: Set[String] =
      if (!fs.exists(ts)) Set.empty
      else fs.listStatus(ts).filter(_.isFile).map(_.getPath.getName).toSet
    DedupIndex.atomicRewrite(spark, s"$path/codes", Seq("cid"))(df =>
      DedupIndex.dropTombstoned(spark, df, path, "nid").distinct())
    midCompaction()
    val sPath = new org.apache.hadoop.fs.Path(s"$path/codes_stream")
    if (fs.exists(sPath))
      DedupIndex.atomicRewrite(spark, sPath.toString,
        Seq("ingest_batch", "cid"))(df =>
        DedupIndex.dropTombstoned(spark, df, path, "nid").distinct())
    // snapshotted deletions are now physical everywhere → clear exactly
    // them (idempotent: a crash before this line leaves a no-op
    // anti-join behind; newer files survive as pending)
    if (fs.exists(ts)) {
      tsSnapshot.foreach { n =>
        val f = new org.apache.hadoop.fs.Path(ts, n)
        if (fs.exists(f)) fs.delete(f, false)
      }
      if (fs.listStatus(ts).isEmpty) fs.delete(ts, true)
    }
  }

  /** The fold MARKER at `codes/_folded`: ingest-batch ids whose streamed
    * codes have been folded into the base `cid=` layout but whose
    * `codes_stream/ingest_batch=` partitions may still exist (the fold's
    * cleanup is after its swap). Serving and the balance reports SKIP
    * these stream partitions — the marker becomes visible atomically
    * WITH the folded base (written inside the swap's tmp), so no crash
    * point can double-count or lose a streamed row. Carried through
    * codes compactions as an [[DedupIndex.atomicRewrite]] sidecar. */
  private[operators] def foldedBatchIds(
      fs: org.apache.hadoop.fs.FileSystem, codesPath: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$codesPath/_folded")
    if (!fs.exists(p)) return Set.empty
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.toLong).toSet
    finally in.close()
  }

  private def writeFoldedMarker(fs: org.apache.hadoop.fs.FileSystem,
      codesPath: String, ids: Seq[Long]): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$codesPath/_folded"), true)
    try out.write(ids.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** FOLD streamed codes into the base layout (round 17): the streaming
    * ingest accretes `codes_stream/ingest_batch=B/cid=…` partitions
    * forever — every query serves TWO scan branches, and
    * [[splitHotLists]] refuses to operate while they exist. This
    * maintenance op rewrites `codes/` as base ∪ stream (preserving the
    * `cid=` serving layout — the streamed rows finally land in their
    * lists' own partitions) and retires the folded stream partitions.
    *
    * Crash safety is the marker protocol: the folded base and the
    * `_folded` marker (the batch ids now contained in it) become
    * visible in ONE rename — before the swap the stream partitions
    * serve as always; after it they are skipped by marker; the cleanup
    * deletes them at leisure. Every window re-serves byte-identical
    * results: marker ∧ partitions-present → skipped (no double count);
    * partitions deleted ∧ marker stale → the filter matches nothing.
    * A replayed ingest micro-batch that rewrites an already-folded
    * partition is likewise skipped by marker — which is exactly why
    * the marker is PERMANENT (round 18, ADVICE): the streaming ingest
    * writes `codes_stream/ingest_batch=B` inside foreachBatch and the
    * checkpoint commits AFTER, so a crash in that gap replays batch B
    * on restart. If the fold had deleted the marker once the folded
    * partitions were gone (round 17's cleanup), the replay recreated
    * the partition with no marker and the batch's rows served from
    * BOTH the folded base and the resurrected stream partition —
    * doubled ADC sums, corrupt top-k. The marker is a small sorted id
    * file (8 bytes/batch/fold-lifetime), already rides compactions as
    * an atomicRewrite sidecar, and its serving-side filter is a
    * planning-time partition-pruning predicate (an `IN`-set over batch
    * ids — InSet above the conversion threshold), so keeping it
    * forever costs nothing; the cleanup below deletes folded stream
    * PARTITIONS only. A replayed already-folded partition is thus
    * skipped by marker forever and physically removed by the next
    * fold's cleanup pass. NEW batches landing after the fold's listing
    * keep serving from the stream (their ids are not in the marker)
    * and fold next time. Single-maintainer op, like compaction — run
    * it off the serving path. */
  def foldStreamIntoCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    DedupIndex.checkMeta(spark, path, "ivfpq", Map.empty)
    val codes = s"$path/codes"
    val sPath = new Path(s"$path/codes_stream")
    val fs = sPath.getFileSystem(spark.sessionState.newHadoopConf())
    def presentIds(): Set[Long] =
      if (!fs.exists(sPath)) Set.empty
      else fs.listStatus(sPath).toSeq.collect {
        case st if st.isDirectory &&
            st.getPath.getName.startsWith("ingest_batch=") =>
          st.getPath.getName.stripPrefix("ingest_batch=").toLong
      }.toSet
    val already = foldedBatchIds(fs, codes)
    val present = presentIds()
    val toFold = (present -- already).toSeq.sorted
    if (toFold.nonEmpty) {
      // base ∪ the not-yet-folded stream partitions, swapped in WITH the
      // marker naming every batch the new base now contains
      DedupIndex.atomicSwap(spark, codes, "fold", Seq("_graft_meta")) { tmp =>
        val stream = spark.read.parquet(sPath.toString)
          .filter(col("ingest_batch").isin(toFold: _*))
          .select(col("nid"), col("j"), col("code"), col("cid"))
        spark.read.parquet(codes)
          .unionByName(stream)
          .write.mode("overwrite").partitionBy("cid").parquet(tmp)
        writeFoldedMarker(fs, tmp, (already ++ toFold).toSeq)
      }
    }
    // cleanup: folded partitions go; the MARKER STAYS (see scaladoc —
    // deleting it reopened a replay window where a crashed-checkpoint
    // ingest batch resurrected its folded partition unmarked); the
    // empty stream dir goes last. Each step idempotent — any crash here
    // leaves the marker protocol serving correctly until the next call.
    val folded = foldedBatchIds(fs, codes)
    folded.foreach { b =>
      val d = new Path(sPath, s"ingest_batch=$b")
      if (fs.exists(d)) fs.delete(d, true)
    }
    if (fs.exists(sPath) && presentIds().isEmpty &&
        !fs.listStatus(sPath).exists(f =>
          !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
      fs.delete(sPath, true)
  }

  /** Serve a query batch against the persisted index: top-k per query,
    * identical output contract (qid, nid, rank, score) and identical
    * results to [[Similarity.ivfPqTopK]] over the same corpus/centroids/
    * codebook. `twoLevel` shapes only the QUERY probe here (the corpus
    * assignment is baked into the index at build time) — pass the same
    * value as the build so probe and list geometry stay consistent.
    * `k` and `nProbe` must be positive.
    *
    * Which path answers ([[IvfPqOnDriver]]): when the quantizer's rows
    * and the probed lists' rows, counted from their parquet footers, fit
    * [[graft.plans.DriverSide]]'s one cutoff (200,000 rows), the driver
    * reads the quantizer in one collect, picks each query's probes,
    * reads only the probed lists in a second collect, scores and ranks,
    * and returns a local relation — two Spark jobs where the plan below
    * runs about fifteen. Over the cutoff the plan below runs. There is
    * no cache of index state across calls: in a day-2 loop an append
    * lands before nearly every query batch, so a snapshot keyed by
    * index version would reload on almost every call, and reading only
    * the probed lists already keeps a call's cost ∝ the lists probed.
    * The plan returns rows whose scan metrics show the lists it read; a
    * local relation has no scan. */
  def queryIvfPqIndex(
      queries: DataFrame, path: String, m: Int, dim: Int, k: Int,
      nProbe: Int = 2, twoLevel: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val spark = queries.sparkSession
    DedupIndex.checkMeta(spark, path, "ivfpq",
      Map("m" -> m, "dim" -> dim, "twoLevel" -> (if (twoLevel) 1 else 0)))
    val dsub = dim / m
    IvfPqOnDriver.serve(queries, path, dsub, k, nProbe, twoLevel, idCol, vecCol)
      .getOrElse(queryIvfPqPlan(queries, path, dsub, k, nProbe, twoLevel, idCol, vecCol))
  }

  /** [[queryIvfPqIndex]] as a Spark plan: probes and the ADC table are
    * broadcast (both query-batch-sized); the codes relation is read only
    * at the probed cid partitions, scored by summing broadcast table
    * entries and ranked by the k-bounded heap. */
  private def queryIvfPqPlan(
      queries: DataFrame, path: String, dsub: Int, k: Int, nProbe: Int,
      twoLevel: Boolean, idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val cb = broadcast(spark.read.parquet(s"$path/codebook"))
    val probes =
      (if (twoLevel) {
        val (supers, cmap) = superStructureAt(spark, path, cents)
        Similarity.queryProbesTwoLevel(queries, supers, cmap, nProbe,
          idCol, vecCol)
      } else Similarity.queryProbes(queries, cents, nProbe, idCol, vecCol))
        .select(col("qid"), col("cid"))
    val qtab = Similarity.pqQueryTable(queries, cb, dsub, idCol, vecCol)
    // base codes + (if present) the streaming ingest's codes_stream —
    // scored as SEPARATE branches so each scan keeps its own partition
    // pruning (a vector's rows live wholly in one relation, so the
    // per-branch (qid, nid) partial sums are complete sums and the
    // union feeds the ranker directly; pushing the probes join through
    // a relation-level union would depend on DPP applying under Union)
    val sPath = new org.apache.hadoop.fs.Path(s"$path/codes_stream")
    val sFs = sPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hasStream = sFs.exists(sPath)
    // stream partitions already FOLDED into the base are skipped by
    // marker (foldStreamIntoCodes) — a partition-pruning filter, so the
    // skipped batches' files are never touched
    val folded = if (hasStream) foldedBatchIds(sFs, s"$path/codes").toSeq
                 else Seq.empty
    val rels = Seq(spark.read.parquet(s"$path/codes")) ++
      (if (hasStream) Seq({
        val st = spark.read.parquet(sPath.toString)
        (if (folded.isEmpty) st
         else st.filter(!col("ingest_batch").isin(folded: _*)))
          .select(col("nid"), col("j"), col("code"), col("cid"))
      }) else Nil)
    val scored = rels.map { codes =>
      codes
        .join(broadcast(probes), "cid") // DPP prunes to the probed lists
        .join(broadcast(qtab), Seq("qid", "j", "code"))
        .filter(col("nid") =!= col("qid"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qdist")).as("adist"))
    }.reduce(_ unionByName _)
      .select(col("qid"), col("nid"),
        (-col("adist")).cast("double").as("score"))
    // tombstoned vectors (deleteVectors — takedowns awaiting physical
    // compaction) drop out HERE, on the per-query candidate pairs: one
    // broadcast anti-join against the deletions-sized set, identical
    // results to serving a physically-compacted index
    Similarity.rankTopK(
      DedupIndex.dropTombstoned(spark, scored, path, "nid"), k)
  }
}
