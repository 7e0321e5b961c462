package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-N maintenance AUTOPILOT (round 18). The maintenance vocabulary
  * was complete after round 17 — describe, fold, compact, split,
  * retrain-verdict, store-fed rebuild — but deciding and ordering those
  * calls was still a runbook (`OpsDemo` wired it by hand), the same
  * critique that motivated [[Takedown]] for deletion. `maintenanceTick`
  * is that runbook as ONE call per index root: read the cheap health
  * surfaces ([[DedupIndex.describeIndex]], and for ANN roots
  * [[AnnIndex.listBalanceReportFromFooters]] — both metadata-bound, the
  * reference's own footer-only planning posture, make-metadata.py:13-18),
  * decide the due actions in their one safe order, and either perform
  * them (`dryRun = false`) or return them as a plan.
  *
  * The ORDER is load-bearing for ANN roots:
  *
  *  1. **fold** — unfolded `codes_stream` partitions exist. Must run
  *     first: [[AnnIndex.splitHotLists]] fail-louds while stream
  *     partitions exist, and a fold rewrites `codes/` wholesale, which
  *     would waste a compaction run before it.
  *  2. **compact** — tombstone debt (pending deletions become physical)
  *     or file-count debt (avg data files per list above
  *     `maxFilesPerList` — small-file accretion from appends). Runs
  *     after the fold so the rewrite covers the folded layout; runs
  *     before the balance check so hot-factor sees post-deletion counts.
  *  3. **split / retrain verdict** — the footer balance report's
  *     hottest list vs `hotFactor`× the mean: single-level roots get a
  *     [[AnnIndex.splitHotLists]] (performed only when `vecStore` is
  *     supplied — the split fetches raw vectors for seeding; otherwise
  *     reported as `split_required`); two-level roots report
  *     `retrain_required` — re-training needs fresh centroids from an
  *     offline pass, which an autopilot must queue, not improvise.
  *
  * Dedup-family roots get the same treatment at their smaller
  * vocabulary: row-wise kinds (exact, minhash) compact on tombstone or
  * file debt; aggregate kinds (anchor, bloom) REBUILD from their
  * maintained store when tombstoned (performed when the store path is
  * supplied, else reported `rebuild_required` — the same loud queue as
  * [[Takedown]] phase 1 leaves); meta-less roots (doc/vector stores)
  * compact via [[DedupIndex.compactDocStore]].
  *
  * Scale posture: the DECISION reads are metadata-bound AND
  * distributed. The first implementation read
  * [[DedupIndex.describeIndex]] for the ANN branch too — its
  * driver-side recursive listing, then Hadoop's `listFiles`, measured
  * 39 s at 100× (9 000+ files at LocalFS's ~4 ms/file) for a decision
  * the footer report makes in 0.5 s; the ANN branch now reads only
  * `_graft_meta` (1 row), the tombstone id count (deletions-sized), the
  * distributed per-dir file
  * count ([[AnnIndex.codesDataFileCount]]) and the raw-thrift footer
  * balance report — the driver never lists files, only partition dirs.
  * Dedup-family roots keep the describe read (single-relation roots;
  * file counts are compaction-bounded). The performed actions have the
  * costs their own scaladocs state (fold/compact ∝ rewritten volume,
  * split ∝ hot lists); the tick adds nothing on top. Single-maintainer,
  * like every op it orders — run it off the serving path on the
  * maintenance schedule.
  *
  * Returns (seq, action, target, reason, performed): one row per due
  * action in execution order, plus a single `healthy` row when nothing
  * is due. `performed = false` rows are the dry-run plan, the
  * missing-store queues, or an `<action>_failed` row (the exception in
  * `reason`) after which the root's remaining actions are skipped —
  * the order is load-bearing, so a tick never acts past a failure. */
object Maintenance {

  /** The tick's thresholds. `hotFactor` mirrors
    * [[AnnIndex.shouldRetrain]]'s default; `maxFilesPerList` is the
    * small-file budget per `cid=` partition (appends accrete one file
    * per append per touched list); `maxStoreFiles` bounds meta-less
    * store roots where a per-list notion doesn't exist. */
  final case class TickPolicy(
      hotFactor: Double = 4.0,
      splitInto: Int = 2,
      maxFilesPerList: Long = 8L,
      maxStoreFiles: Long = 64L)

  /** The autopilot at PIPELINE scope (round 18): one call ticks every
    * root a [[PipelineRoots]] lists, in the one safe cross-root order,
    * with the store wiring each kind needs — the same one-call posture
    * [[Takedown]] gave deletion and [[maintenanceTick]] gave a single
    * root. Day-N operations on a production pipeline become: takedowns
    * via `Takedown(ids, roots)`, everything else via
    * `pipelineTick(roots)` on the maintenance schedule.
    *
    * CROSS-ROOT ORDER (load-bearing in two places):
    *
    *  1. **row-wise indexes** (exact, minhash) and the **ANN root**
    *     first — their compactions/folds are self-contained;
    *  2. **aggregate kinds** (anchor, bloom) next — a store-fed rebuild
    *     PROPAGATES the index's pending tombstones into its store's set
    *     ([[DedupIndex.propagateTombstones]]) before applying them;
    *  3. **stores last** (doc, ref, vector) — their compactions then
    *     absorb BOTH their own pending set and anything the rebuilds
    *     just propagated, leaving the whole pipeline with zero pending
    *     residue after one tick. Stores-first would leave the
    *     propagated files pending until the NEXT tick (harmless — the
    *     anti-join of already-absent rows is a no-op — but a tick
    *     should converge in one pass when nothing races it).
    *
    * Per-root failure isolation (the [[Takedown]] round-18 pattern): an
    * ACTION that throws becomes that root's `<action>_failed` row (the
    * per-action honesty [[maintenanceTick]] itself provides — earlier
    * performed actions stay reported, later ones are skipped); a root
    * whose DECISION phase throws (missing root, unreadable meta)
    * becomes a `tick_failed` row with the exception in `reason`. Either
    * way the other roots' outcomes are never hidden — every index op is
    * individually crash-safe ([[DedupIndex.atomicSwap]]), so a failed
    * root is merely still-due, never corrupt. Rows are re-sequenced
    * globally in execution order; per-root `healthy` rows are kept (the
    * operator sees every root's state, not just the busy ones).
    *
    * Scale posture: identical to [[maintenanceTick]] per root — the
    * decision reads are metadata-bound, the performed actions cost what
    * their own scaladocs state; pipeline scope adds sequencing only.
    * Roots are ticked sequentially on the caller's thread by design
    * (single-maintainer per root; the heavy actions are themselves
    * cluster-parallel jobs, so overlapping roots would contend for the
    * same executors, not finish sooner). */
  def pipelineTick(
      spark: SparkSession, roots: PipelineRoots,
      dryRun: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id",
      policy: TickPolicy = TickPolicy()): DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String, Boolean)]()
    def tick(rootOpt: Option[String],
        vecStore: Option[String] = None, docStore: Option[String] = None,
        refStore: Option[String] = None, id: String = idCol): Unit =
      rootOpt.foreach { p =>
        try
          maintenanceTick(spark, p, vecStore = vecStore,
              docStore = docStore, refStore = refStore, dryRun = dryRun,
              idCol = id, textCol = textCol, policy = policy)
            .orderBy(col("seq")).collect()
            .foreach(r => rows += ((r.getString(1), r.getString(3),
              r.getString(2), r.getBoolean(4))))
        catch { case scala.util.control.NonFatal(e) =>
          rows += (("tick_failed",
            s"${e.getClass.getSimpleName}: ${e.getMessage}", p, false))
        }
      }
    tick(roots.exactIndex)
    tick(roots.minhashIndex)
    tick(roots.annIndex, vecStore = roots.vecStore)
    tick(roots.anchorIndex, docStore = roots.docStore)
    tick(roots.bloomIndex, refStore = roots.refStore)
    tick(roots.docStore)
    tick(roots.refStore)
    tick(roots.vecStore, id = vecIdCol)
    import spark.implicits._
    rows.toSeq.zipWithIndex
      .map { case ((action, reason, target, performed), i) =>
        (i + 1, action, target, reason, performed) }
      .toDF("seq", "action", "target", "reason", "performed")
  }

  def maintenanceTick(
      spark: SparkSession, path: String,
      vecStore: Option[String] = None,
      docStore: Option[String] = None,
      refStore: Option[String] = None,
      dryRun: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text",
      policy: TickPolicy = TickPolicy()): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"maintenanceTick: no index at $path")
    val kind = DedupIndex.readMeta(spark, path).map(_._1).getOrElse("legacy")
    // dedup-family roots: one describe read (single-relation roots,
    // compaction-bounded file counts). Lazy — the ANN branch must NOT
    // pay describeIndex's driver-side recursive listing of every file
    // (see the scaladoc) and reads its surfaces distributed.
    lazy val desc = DedupIndex.describeIndex(spark, path).head()
    lazy val nFiles = desc.getLong(3)
    lazy val nTombstones = desc.getLong(5)
    val report =
      scala.collection.mutable.ArrayBuffer[(String, String, String, Boolean)]()
    // per-ACTION failure honesty (round 18, the Takedown pattern one
    // level down): an action that throws must not erase the actions
    // this tick already performed from the report. It becomes an
    // `<action>_failed` row with the exception in `reason`, and the
    // root's REMAINING actions are skipped — the order is load-bearing
    // (fold before compact before split), so acting past a failure
    // would run steps whose preconditions no longer hold; the next
    // tick re-decides from the actual state. Decision-phase throws
    // (missing root, unreadable meta) still propagate to the caller —
    // there is no partial report to protect yet.
    var abortedBy: String = null
    def act(action: String, reason: String, perform: Option[() => Unit]): Unit =
      if (abortedBy == null) {
        val performed = !dryRun && perform.isDefined
        if (performed)
          try perform.get.apply()
          catch { case scala.util.control.NonFatal(e) =>
            abortedBy = action
            report += ((s"${action}_failed",
              s"${e.getClass.getSimpleName}: ${e.getMessage}", path, false))
            return
          }
        report += ((action, reason, path, performed))
      }

    kind match {
      case "ivfpq" =>
        val meta = DedupIndex.readMeta(spark, path).get._2
        val (m, dim) = (meta("m"), meta("dim"))
        val twoLevel = meta.getOrElse("twoLevel", 0) == 1
        // 1. fold: unfolded stream batches present?
        val sPath = new Path(s"$path/codes_stream")
        val unfolded =
          (if (!fs.exists(sPath)) Set.empty[Long]
           else fs.listStatus(sPath).toSeq.collect {
             case st if st.isDirectory &&
                 st.getPath.getName.startsWith("ingest_batch=") =>
               st.getPath.getName.stripPrefix("ingest_batch=").toLong
           }.toSet) -- AnnIndex.foldedBatchIds(fs, s"$path/codes")
        if (unfolded.nonEmpty)
          act("fold", s"${unfolded.size} unfolded stream batch(es): " +
              s"${unfolded.toSeq.sorted.mkString(",")}",
            Some(() => AnnIndex.foldStreamIntoCodes(spark, path)))
        // 2. compact: tombstone debt, or small-file debt per list. All
        // three reads stay off the driver's file-listing path: the
        // tombstone id count is deletions-sized, the codes file count
        // lists only partition DIRS on the driver (per-dir listing in
        // tasks — codesDataFileCount), and the list count comes from
        // the footer report (already needed for the hot check below).
        val annTombstones = DedupIndex.tombstones(spark, path)
          .fold(0L)(_.select(col("id")).distinct().count())
        val codesFiles = AnnIndex.codesDataFileCount(spark, path)
        val balance = AnnIndex.listBalanceReportFromFooters(spark, path)
          .agg(count(lit(1)).as("n_lists"), max(col("hot_factor_bp"))).head()
        val nLists = balance.getLong(0)
        val hotBp = if (balance.isNullAt(1)) 0L else balance.getLong(1)
        val fileDebt =
          nLists > 0 && codesFiles / nLists > policy.maxFilesPerList
        if (annTombstones > 0 || fileDebt)
          act("compact",
            s"$annTombstones pending tombstone id(s), " +
              s"~${if (nLists > 0) codesFiles / nLists else codesFiles} " +
              s"files/list (budget ${policy.maxFilesPerList})",
            Some(() => AnnIndex.compactIvfPqCodes(spark, path)))
        // 3. hot-factor rule. The decision reuses the pre-action footer
        // report (the fold/compact above move bytes, not list totals —
        // fold only RELOCATES stream rows into their lists' partitions,
        // and the report already counts stream rows toward their cid;
        // compaction only subtracts the tombstoned rows counted above).
        if (hotBp > (policy.hotFactor * 10000L).toLong) {
          // two-level roots are locally splittable since round 18 IF
          // the super set is persisted (frozen routing anchors); a
          // LEGACY two-level root (no supers/) can only re-train —
          // deriving supers from the post-split centroid set would
          // re-route unrelated probes
          if (twoLevel && !fs.exists(new Path(s"$path/supers")))
            act("retrain_required",
              s"hottest list at ${hotBp} bp of the mean (budget " +
                s"${(policy.hotFactor * 10000L).toLong} bp); legacy " +
                "two-level index without a persisted super set — " +
                "re-train offline and rebuildIvfPqIndexFromStore",
              None)
          else if (vecStore.isDefined)
            act("split",
              s"hottest list at ${hotBp} bp of the mean (budget " +
                s"${(policy.hotFactor * 10000L).toLong} bp)",
              Some(() => { AnnIndex.splitHotLists(spark, vecStore.get, path,
                m = m, dim = dim,
                hotFactorBp = (policy.hotFactor * 10000L).toLong,
                splitInto = policy.splitInto); () }))
          else
            act("split_required",
              s"hottest list at ${hotBp} bp of the mean; pass vecStore " +
                "to let the tick perform the split", None)
        }

      case "exact" | "minhash" =>
        if (nTombstones > 0 || nFiles > policy.maxStoreFiles)
          act("compact",
            s"$nTombstones pending tombstone id(s), $nFiles data files " +
              s"(budget ${policy.maxStoreFiles})",
            Some(() => DedupIndex.compactIndex(spark, path, kind)))

      case "anchor" =>
        if (nTombstones > 0) {
          if (docStore.isDefined)
            act("rebuild", s"$nTombstones tombstone id(s) on an " +
                "aggregate-valued kind — store-fed rebuild",
              Some(() => DedupIndex.rebuildAnchorIndexFromStore(
                spark, docStore.get, path, textCol, idCol)))
          else act("rebuild_required", s"$nTombstones tombstone id(s); " +
            "pass docStore to let the tick perform the rebuild", None)
        } else if (nFiles > policy.maxStoreFiles)
          act("compact", s"$nFiles data files (budget " +
              s"${policy.maxStoreFiles})",
            Some(() => DedupIndex.compactIndex(spark, path, kind)))

      case "bloom" | "bloomsharded" =>
        if (nTombstones > 0) {
          if (refStore.isDefined)
            act("rebuild", s"$nTombstones tombstone id(s) on an " +
                "aggregate-valued kind — store-fed rebuild",
              Some(() => DedupIndex.rebuildBloomIndexFromRef(
                spark, refStore.get, path, textCol, idCol)))
          else act("rebuild_required", s"$nTombstones tombstone id(s); " +
            "pass refStore to let the tick perform the rebuild", None)
        }

      case _ => // meta-less store roots (doc store, vector store, ...)
        if (nTombstones > 0 || nFiles > policy.maxStoreFiles)
          act("compact",
            s"$nTombstones pending tombstone id(s), $nFiles data files " +
              s"(budget ${policy.maxStoreFiles})",
            Some(() => DedupIndex.compactDocStore(spark, path, idCol)))
    }

    if (report.isEmpty)
      report += (("healthy", s"kind=$kind: no tombstone debt, no " +
        "file-count debt, no stream debt, balance within budget",
        path, false))
    import spark.implicits._
    report.toSeq.zipWithIndex
      .map { case ((action, reason, target, performed), i) =>
        (i + 1, action, target, reason, performed) }
      .toDF("seq", "action", "target", "reason", "performed")
  }
}
