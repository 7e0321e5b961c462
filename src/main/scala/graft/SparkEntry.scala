package graft

import graft.operators.{Dedup, Events, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.sparql.{BgpPlanner, Sparql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract: one query per implemented operator (SURVEY.md §2 +
  * the LLM-pipeline extensions), each with a DuckDB oracle.
  *
  * Conventions for engine-portable results (hash-compared against DuckDB):
  * exact arithmetic only in comparable outputs — decimal sums cast to
  * double, integer basis-points instead of float ratios where possible,
  * row_number ranks cast to long, deterministic total ORDER BY everywhere.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The driver's `events.ts` is parquet TIMESTAMP(NANOS), which Spark's
    // TimestampType (µs) refuses outright. Read nanos as long and floor to
    // µs — exactly DuckDB's coercion of ns → its µs TIMESTAMP.
    if (name == "events") Tables.events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Stream an sf table by its shape. A directory-shaped table (the
    * scale-probe builds, any real warehouse) streams by its path: the
    * dir + pathGlobFilter form matches leaf file names and would
    * silently see zero input files. A flat single-file table (the sf
    * fixtures) must keep the glob-filter form, because the file source
    * needs a directory base path. */
  private def tableStream(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = s.read.parquet(path).schema
    if (new java.io.File(path).isDirectory)
      s.readStream.schema(schema).parquet(path)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Decimal-exact sum surfaced as double (identical in Spark and DuckDB). */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Persisted fixtures: the offline half of a query (a store, an index)
    * built once per (name, sf dir) per JVM, so the timed body measures
    * serving, not the build. Every build is deterministic, so the memo
    * cannot change a result. A build that throws is not memoized: the
    * next call builds again. */
  private val memo = scala.collection.concurrent.TrieMap[(String, String), Any]()

  private def memoized[A](name: String, dir: String)(make: => A): A =
    memo.getOrElseUpdate((name, dir), make).asInstanceOf[A]

  /** A fresh `graft_<name>_<uuid>` dir path under java.io.tmpdir,
    * registered with [[TempDirs]] for end-of-JVM cleanup. A query whose
    * build mutates its index (a stream appends to it) takes one per
    * invocation. */
  private def freshRoot(name: String): String =
    TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_${name}_${java.util.UUID.randomUUID()}")

  /** The root of fixture `name` over the sf tables at `dir`: a
    * [[freshRoot]] filled by `build` on the first call. */
  private[graft] def fixture(name: String, dir: String)(
      build: String => Unit): String =
    memoized(name, dir) {
      val root = freshRoot(name)
      build(root)
      root
    }

  /** BPE merge table: q126 (trainer output) and q133 (encoder input)
    * share the same 12 learned merges. Determinism is the trainer's
    * contract (tie-break freq desc, left asc, right asc). */
  private def bpeMergesFor(s: SparkSession, dir: String): Seq[operators.Bpe.Merge] =
    memoized("bpe", dir)(operators.Bpe.trainFromWordFreq(
      operators.Bpe.wordFreq(t(s, dir, "documents"), "text"), numMerges = 12))

  /** q111's partitioned events store, with its stats table at
    * `<root>-stats`. uuid = user_id % 100 caps the store at 100 stream
    * dirs at any scale factor (file creation, not data volume, dominates
    * a partitioned write of a small-file store); maxRecordsPerFile
    * targets ~3 time-disjoint files per stream so the stats cut still
    * prunes at file granularity inside matching streams.
    *
    * With `refresh` (q184) the store is written in two eras: even
    * event ids first, indexed by [[graft.sources.StatsIndex.build]];
    * odd ones later as appended fragments that
    * [[graft.sources.StatsIndex.refresh]] picks up. The era is keyed on
    * event_id, not user_id, so every uuid dir gets fragments from both
    * eras and the refresh must find new files inside existing partition
    * dirs, not just new dirs. q184's oracle is q111's verbatim, so a
    * refresh that misses a fragment or keeps a stale row breaks it. */
  private def statsStore(s: SparkSession, dir: String, refresh: Boolean): String =
    fixture(if (refresh) "statsrefresh" else "statscan", dir) { out =>
      val src = t(s, dir, "events")
      val nRows = src.count()
      val fact = src.select(
        col("ts").as("time"), col("value"),
        col("event_type").as("label"),
        lit("bench").as("collection"),
        format_string("00000000-0000-0000-0000-%012d",
          pmod(col("user_id"), lit(100))).as("uuid"),
        pmod(col("event_id"), lit(2)).as("_era"))
      def write(rows: DataFrame, mode: String): Unit =
        rows.drop("_era")
          .repartition(col("uuid")).sortWithinPartitions("uuid", "time")
          .write.mode(mode).partitionBy("collection", "uuid")
          .option("maxRecordsPerFile", math.max(10L, nRows / 100 / 3))
          .parquet(out)
      val stats = TempDirs.register(s"$out-stats")
      if (refresh) {
        write(fact.filter(col("_era") === 0), "overwrite")
        graft.sources.StatsIndex.build(s, out, stats)
        write(fact.filter(col("_era") === 1), "append")
        graft.sources.StatsIndex.refresh(s, out, stats)
      } else {
        write(fact, "overwrite")
        graft.sources.StatsIndex.build(s, out, stats)
      }
    }

  /** Persisted dedup indexes (q171–q173 and the probes after them) over
    * the corpus split (doc_id % 5 != 0): the timed bodies are the
    * incremental batch queries, the operational shape. `docstore` is
    * what the near-dup verify stage fetches candidate texts from (the
    * band index stores only ids). `bloom` is the benchmark-set mask
    * (reference = the src0 slice, q82's construction). `bloomsh` is
    * the sharded mask, deliberately over-full for one mask (mBits =
    * 2048 vs ~1.4k distinct src0 grams ≈ 5.4k positions: single-mask
    * fill ≈ 0.93 → FP ≈ 75%; per-shard fill ≈ 0.49 → FP ≈ 5%), so
    * q189's FP-for-FP oracle checks the shard routing itself, not just
    * membership. */
  private def dedupIndexes(s: SparkSession, dir: String): String =
    fixture("dedupidx", dir) { root =>
      val corpus = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      operators.DedupIndex.writeAnchorIndex(corpus, "text", "doc_id",
        s"$root/anchor", k = 3, w = 4)
      operators.DedupIndex.writeMinHashIndex(corpus, "text", "doc_id",
        s"$root/minhash", k = 64, bands = 16, shingleN = 3)
      operators.DedupIndex.writeExactIndex(corpus, "text", "doc_id",
        s"$root/exact")
      corpus.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$root/docstore")
      val ref = t(s, dir, "documents").filter(col("source") === "src0")
      operators.DedupIndex.writeBloomIndex(ref, "text", "doc_id",
        s"$root/bloom", n = 3)
      operators.DedupIndex.writeBloomIndexSharded(ref, "text", "doc_id",
        s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
    }

  /** q102's coarse quantizer: the √N-seeded centroids
    * (vec_id % ⌈√N⌉ == 0). */
  private def centroids(emb: DataFrame): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(Similarity.autoCentroidMod(emb))) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** q102's IVF-PQ quantizer: [[centroids]] plus the fixed-cell m = 8
    * codebook, whose seedMod derives as N/256 so the encode stage stays
    * data-linear (a fixed mod made the codebook grow with N). */
  private def quantizer(emb: DataFrame): (DataFrame, DataFrame) =
    (centroids(emb), Similarity.pqCodebook(emb, m = 8))

  /** Persist the m = 8, dim = 64 IVF-PQ index over `corpus` at `root`,
    * quantized from the full embeddings table `emb`. Every ANN fixture
    * builds this way, so serving over it is byte-identical to the
    * in-memory q102 operator over the same corpus. */
  private def writeAnn(emb: DataFrame, corpus: DataFrame, root: String,
      twoLevel: Boolean = true): Unit = {
    val (cents, cb) = quantizer(emb)
    operators.AnnIndex.writeIvfPqIndex(corpus, cents, cb, m = 8, dim = 64,
      root, twoLevel)
  }

  /** q102's 8-query batch (vec_id < 8) served top-5 at nProbe = 2 from
    * the persisted index at `root`. */
  private def serveAnn(s: SparkSession, dir: String, root: String,
      twoLevel: Boolean = true): DataFrame =
    operators.AnnIndex.queryIvfPqIndex(
        t(s, dir, "embeddings").filter(col("vec_id") < 8), root,
        m = 8, dim = 64, k = 5, nProbe = 2, twoLevel = twoLevel)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("qid", "rank")

  /** q176's index: q102's corpus structure, two-level assignment fused
    * with the PQ codes, laid out partitionBy(cid). */
  private def annIndex(s: SparkSession, dir: String): String =
    fixture("annidx", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb, root)
    }

  /** q179's index: built over the base era (vec_id % 5 != 0); the other
    * 20% arrives as an [[operators.AnnIndex.appendToIvfPqIndex]] batch
    * encoded against the persisted centroids/codebook. q179's oracle is
    * q102's verbatim, so any divergence in the appended codes or list
    * routing breaks the hash. */
  private def annAppendIndex(s: SparkSession, dir: String): String =
    fixture("annappend", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), root)
      operators.AnnIndex.appendToIvfPqIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), root,
        m = 8, dim = 64, twoLevel = true)
    }

  /** q185's index: codes cover only the corpus the batch is admitted
    * against (vec_id >= 16), while the quantizer derives from the full
    * table, so the oracle's cents/cb CTEs stay the generators'
    * defaults. */
  private def annAdmitIndex(s: SparkSession, dir: String): String =
    fixture("annadmit", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb.filter(col("vec_id") >= 16), root)
    }

  /** q188's index: q176's with the vec_id % 7 == 3 slice taken down by
    * [[operators.AnnIndex.deleteVectors]]. The oracle is q102's grammar
    * over the surviving nids, so the hash matches iff the anti-join
    * excludes exactly the deleted set. */
  private def annTombIndex(s: SparkSession, dir: String): String =
    fixture("anntomb", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb, root)
      operators.AnnIndex.deleteVectors(
        emb.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"), root)
    }

  /** A base index over 80% at `root`; the other 20% arrives through a
    * real file-source streaming query as exactly-once `codes_stream/`
    * codes ([[operators.AnnIndex.streamIvfPqIngest]]: partition
    * overwrite per ingest batch, so replays rewrite rather than
    * duplicate). Re-running the stream against its checkpoint is a
    * no-op (AvailableNow, exactly-once file source). */
  private def streamGrownAnn(s: SparkSession, dir: String, root: String): Unit = {
    val emb = t(s, dir, "embeddings")
    writeAnn(emb, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), root)
    operators.AnnIndex.streamIvfPqIngest(
      tableStream(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(5)) === 0),
      root, m = 8, dim = 64, twoLevel = true)
  }

  /** q183's index: [[streamGrownAnn]]. Its oracle is q102's verbatim,
    * so this checks the streaming encode path byte for byte. */
  private def annStreamIndex(s: SparkSession, dir: String): String =
    fixture("annstream", dir)(streamGrownAnn(s, dir, _))

  /** q196's index: [[streamGrownAnn]], then
    * [[operators.AnnIndex.foldStreamIntoCodes]] retires the streamed
    * partitions into the base `cid=` layout. Serving must stay
    * byte-identical through the fold (oracle: q102's verbatim). */
  private def annFoldIndex(s: SparkSession, dir: String): String =
    fixture("annfold", dir) { root =>
      streamGrownAnn(s, dir, root)
      operators.AnnIndex.foldStreamIntoCodes(s, root)
    }

  /** Plant a drift clump in the index at `root`: 300 re-embeddings of
    * vector 0 (ids 10⁹ + i) appended through the frozen quantizer. The
    * clump piles into vector 0's list and trips the 4× hot factor at
    * every sf. The vector store the split reads, the table plus the
    * clump, goes to `<root>-store`. Returns the clump and the store. */
  private def plantClump(s: SparkSession, emb: DataFrame, root: String,
      twoLevel: Boolean): (DataFrame, String) = {
    val planted = s.range(300)
      .select((col("id") + 1000000000L).as("vec_id"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding"))))
    operators.AnnIndex.appendToIvfPqIndex(planted, root, m = 8,
      dim = 64, twoLevel = twoLevel)
    val store = TempDirs.register(s"$root-store")
    emb.select(col("vec_id"), col("embedding"))
      .unionByName(planted.select(col("vec_id"), col("embedding")))
      .write.mode("overwrite").parquet(store)
    (planted, store)
  }

  /** q195's (single-level) and q198's (two-level) index: the full
    * index plus [[plantClump]], then ONE
    * [[operators.AnnIndex.splitHotLists]] call re-clusters the hot list:
    * children seeded at its two smallest member ids, the parent
    * centroid retires, codes rows move (PQ codes unchanged). Two-level
    * works because the build persists the super set (`supers/`): the
    * children enter exactly one super's group and every other group's
    * probes are untouched. The oracles re-derive plant, assignment, hot
    * detection, seeding, child allocation, local re-assignment and the
    * post-split probe from first principles. */
  private def annSplitIndex(s: SparkSession, dir: String,
      twoLevel: Boolean): String =
    fixture(if (twoLevel) "anntlsplit" else "annsplit", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb, root, twoLevel)
      val (_, store) = plantClump(s, emb, root, twoLevel)
      val rep = operators.AnnIndex.splitHotLists(s, store, root, m = 8,
        dim = 64, hotFactorBp = 40000L, splitInto = 2)
      require(rep.count() > 0,
        "hot-split fixture: the planted clump did not trip the hot rule")
    }

  /** q197's index: q195's single-level geometry over 80% accumulates all
    * three debt kinds: the planted clump (split debt), the other 20% as
    * an unfolded ingest batch (fold debt; the streaming wrapper is
    * q183/q196's path) and a vec_id ≡ 9 (mod 50) takedown, clump
    * included (compaction debt). Then ONE
    * [[operators.Maintenance.maintenanceTick]] must fold → compact →
    * split in that order. The oracle is q195's split re-derivation over
    * the survivors, so the hash matches iff the tick ordered and ran all
    * three actions as the hand-called operators would. */
  private def annTickIndex(s: SparkSession, dir: String): String =
    fixture("anntick", dir) { root =>
      val emb = t(s, dir, "embeddings")
      writeAnn(emb, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), root,
        twoLevel = false)
      val (planted, store) = plantClump(s, emb, root, twoLevel = false)
      operators.AnnIndex.ingestVecBatch(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), 0L, root,
        m = 8, dim = 64, twoLevel = false, "vec_id", "embedding")
      operators.AnnIndex.deleteVectors(
        emb.select(col("vec_id"))
          .unionByName(planted.select(col("vec_id")))
          .filter(pmod(col("vec_id"), lit(50)) === 9), root)
      val actions = operators.Maintenance.maintenanceTick(s, root,
          vecStore = Some(store))
        .orderBy("seq").collect()
        .map(r => (r.getString(1), r.getBoolean(4))).toSeq
      require(actions == Seq(("fold", true), ("compact", true),
          ("split", true)),
        s"q197 fixture: tick was expected to fold+compact+split, did $actions")
    }

  /** Construct independent probe relations in parallel driver threads:
    * each construction runs eager metadata / materialization work
    * (probeHint stats, the LSH candidate localCheckpoint, meta checks)
    * that otherwise serializes on the driver while executors idle. The
    * returned DataFrames are identical to sequential construction —
    * only the construction latency overlaps. */
  private def parallelCons(thunks: (() => DataFrame)*): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      // unbounded wait + await-all-before-rethrow (the FanOut.inParallel
      // contract): a construction that runs eager corpus-sized work must
      // not die at an arbitrary timeout the sequential code never had,
      // and the first failure must not leave sibling constructions
      // racing a caller's cleanup/retry
      val fs = thunks.map(th => Future(th()))
      val outcomes = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.collectFirst { case scala.util.Failure(e) => throw e }
      outcomes.map(_.get)
    } finally pool.shutdown()
  }

  /** The five-kind pipeline's roots under `root`. */
  private def pipelineRoots(root: String) = operators.PipelineRoots(
    exactIndex = Some(s"$root/exact"),
    minhashIndex = Some(s"$root/minhash"),
    docStore = Some(s"$root/docstore"),
    anchorIndex = Some(s"$root/anchor"),
    bloomIndex = Some(s"$root/bloomsh"),
    refStore = Some(s"$root/refstore"),
    annIndex = Some(s"$root/ann"),
    vecStore = Some(s"$root/vecstore"))

  /** Everything of the five-kind pipeline but the ANN index, under
    * `root`: exact, minhash and anchor indexes and the doc store over
    * the corpus split (doc_id % 5 != 0), the src0 reference store with
    * its sharded bloom mask, and the vector store. Returns the documents
    * and embeddings tables. */
  private def writePipeline(s: SparkSession, dir: String,
      root: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    operators.DedupIndex.writeExactIndex(corpus, "text", "doc_id",
      s"$root/exact")
    operators.DedupIndex.writeMinHashIndex(corpus, "text", "doc_id",
      s"$root/minhash", k = 64, bands = 16, shingleN = 3)
    operators.DedupIndex.writeAnchorIndex(corpus, "text", "doc_id",
      s"$root/anchor", k = 3, w = 4)
    corpus.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$root/docstore")
    val ref = docs.filter(col("source") === "src0")
    ref.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$root/refstore")
    operators.DedupIndex.writeBloomIndexSharded(ref, "text", "doc_id",
      s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
    val emb = t(s, dir, "embeddings")
    emb.write.mode("overwrite").parquet(s"$root/vecstore")
    (docs, emb)
  }

  /** q199's pipeline: q193's five kinds, but the debts are left pending
    * (direct deleteDocs/deleteVectors of ids ≡ 3 mod 20, not a
    * Takedown, whose phase 2 would do the rebuilds itself) plus an
    * unfolded ANN ingest batch (the other 20%; assignment parity through
    * the frozen two-level supers is q196/q198's guarantee). Then ONE
    * [[operators.Maintenance.pipelineTick]] must compact the row-wise
    * kinds, fold + compact the ANN root, store-feed-rebuild anchor and
    * bloom, and compact the three stores last (absorbing the rebuilds'
    * propagated tombstones). The oracle re-derives each surface over the
    * survivors, so the hash matches iff every performed action equals
    * the hand-called operator's. */
  private def pipelineTickFixture(s: SparkSession, dir: String): String =
    fixture("pipetick", dir) { root =>
      val (docs, emb) = writePipeline(s, dir, root)
      writeAnn(emb, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        s"$root/ann")
      operators.AnnIndex.ingestVecBatch(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), 0L, s"$root/ann",
        m = 8, dim = 64, twoLevel = true, "vec_id", "embedding")
      val delDocs = docs.filter(pmod(col("doc_id"), lit(20)) === 3)
        .select(col("doc_id"))
      Seq("exact", "minhash", "anchor", "bloomsh", "docstore", "refstore")
        .foreach(k => operators.DedupIndex.deleteDocs(delDocs, s"$root/$k"))
      val delVecs = emb.filter(pmod(col("vec_id"), lit(20)) === 3)
        .select(col("vec_id"))
      operators.AnnIndex.deleteVectors(delVecs, s"$root/ann")
      operators.AnnIndex.deleteVectors(delVecs, s"$root/vecstore")
      val actions = operators.Maintenance.pipelineTick(s, pipelineRoots(root),
          policy = operators.Maintenance.TickPolicy(hotFactor = 1000.0))
        .orderBy("seq").collect()
        .map(r => (r.getString(1), r.getBoolean(4))).toSeq
      val expected = Seq("compact", "compact", "fold", "compact",
        "rebuild", "rebuild", "compact", "compact", "compact")
      require(actions == expected.map((_, true)),
        s"q199 fixture: pipelineTick was expected to do $expected, did $actions")
    }

  /** q193's pipeline: all five index kinds plus their three stores, then
    * ONE [[operators.Takedown]] call removes every id ≡ 1 (mod 20),
    * document and vector: the row-wise kinds (exact, minhash, doc store,
    * ANN codes, vector store, reference store) are tombstoned, the
    * aggregate kinds (anchor grams, sharded bloom masks) rebuilt from
    * their stores with the deletions applied. The oracle re-derives
    * every status from the surviving corpus, so the hash matches iff no
    * path still serves (or wrongly drops) the deleted content. */
  private def takedownPipeline(s: SparkSession, dir: String): String =
    fixture("takedown", dir) { root =>
      val (docs, emb) = writePipeline(s, dir, root)
      writeAnn(emb, emb, s"$root/ann")
      val ids = docs.filter(pmod(col("doc_id"), lit(20)) === 1)
        .select(col("doc_id").as("id"))
        .unionByName(emb.filter(pmod(col("vec_id"), lit(20)) === 1)
          .select(col("vec_id").as("id")))
        .distinct()
      operators.Takedown(ids, pipelineRoots(root))
    }

  /** One probe per surface of a five-kind pipeline at `root` (q193's
    * and q199's timed body): exact admission, verified near-dup
    * admission, anchored spans, sharded-bloom contamination and the ANN
    * top-k serve, normalized to (surface, id, a, b, s). */
  private def probePipeline(s: SparkSession, dir: String, root: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val plain = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("_nt"))
    val exBatch = plain.join(neigh, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
          col("_nt")).otherwise(col("text")).as("text"))
    val sib = docs.select((col("doc_id") + 10).as("doc_id"),
      col("text").as("_bt"))
    val ndBatch = plain.join(sib, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(20)) === 15 && col("_bt").isNotNull,
          col("_bt")).otherwise(col("text")).as("text"))
    val probes = parallelCons(
      () => operators.DedupIndex.admitAgainstIndex(exBatch, "text",
        "doc_id", s"$root/exact")
      .select(lit("exact").as("surface"), col("doc_id").as("id"),
        col("keep_id").cast("long").as("a"), lit(0L).as("b"),
        col("status").as("s")),
      () => operators.DedupIndex.admitNearDupAgainstIndex(ndBatch,
        "text", "doc_id", s"$root/minhash", s"$root/docstore",
        k = 64, bands = 16, shingleN = 3, thetaBp = 5000L)
      .select(lit("neardup").as("surface"), col("doc_id").as("id"),
        col("keep_id").cast("long").as("a"), lit(0L).as("b"),
        col("status").as("s")),
      () => operators.DedupIndex.duplicateSpansAgainstIndex(plain,
        "text", "doc_id", s"$root/anchor", k = 3, w = 4)
      .select(lit("spans").as("surface"), col("doc_id").as("id"),
        col("span_start").cast("long").as("a"),
        col("span_end").cast("long").as("b"), lit("").as("s")),
      () => operators.DedupIndex.bloomContaminationAgainstShardedIndex(
        plain, "text", "doc_id", s"$root/bloomsh", n = 3, shards = 4,
        mBits = 2048)
      .select(lit("bloom").as("surface"), col("doc_id").as("id"),
        col("n_maybe_dirty").cast("long").as("a"),
        col("contamination_bp").cast("long").as("b"), lit("").as("s")),
      () => operators.AnnIndex.queryIvfPqIndex(
        emb.filter(col("vec_id") < 8), s"$root/ann", m = 8, dim = 64,
        k = 5, nProbe = 2, twoLevel = true)
      .select(lit("ann").as("surface"), col("qid").as("id"),
        col("nid").cast("long").as("a"), col("rank").cast("long").as("b"),
        lit("").as("s")))
    val Seq(ex, nd, sp, bl, an) = probes: @unchecked
    ex.unionByName(nd).unionByName(sp).unionByName(bl).unionByName(an)
      .orderBy("surface", "id", "a", "b")
  }

  /** q111/q184's timed body: the stats-pruned scan of 20 of the store's
    * 100 streams over a 10-day window, aggregated per stream. */
  private def statsPrunedScan(s: SparkSession, out: String): DataFrame = {
    val stats = s.read.parquet(s"$out-stats")
    val uuids = (0 until 100 by 5)
      .map(u => f"00000000-0000-0000-0000-$u%012d")
    graft.sources.StatsIndex.prunedScan(s, stats, out, uuids,
        "2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z")
      .groupBy("uuid")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("uuid")
  }

  /** TPC-H-derived RDF quads in one named graph: customer --p1--> nation
    * --p2--> region. With distinct predicates this is the BGP corpus; with
    * one shared predicate it exercises the `p*` closure path. */
  private def tpchQuads(s: SparkSession, dir: String,
      custPred: String, natPred: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      concat(lit("urn:c#"), col("c_custkey")).as("s"),
      lit(s"urn:p#$custPred").as("p"),
      concat(lit("urn:n#"), col("c_nationkey")).as("o"))
    val n = t(s, dir, "nation").select(
      concat(lit("urn:n#"), col("n_nationkey")).as("s"),
      lit(s"urn:p#$natPred").as("p"),
      concat(lit("urn:r#"), col("n_regionkey")).as("o"))
    c.union(n).withColumn("graph", lit("urn:tpch#"))
      .select("graph", "s", "p", "o")
  }

  /** Customer-derived quads with LITERAL objects (balance cents, market
    * segment) alongside IRI edges — the fixture FILTER/OPTIONAL queries
    * need values to compare, where [[tpchQuads]] is all-IRI. floor(bal*100)
    * is bit-identical across engines (IEEE double multiply + floor). */
  private def custQuads(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val subj = concat(lit("urn:c#"), col("c_custkey"))
    val bal = c.select(subj.as("s"), lit("urn:p#balCents").as("p"),
      floor(col("c_acctbal") * 100).cast("long").cast("string").as("o"))
    // string literals quote per the round-13 term encoding (numeric
    // shorthands like balCents stay bare — that IS their encoding)
    val mkt = c.select(subj.as("s"), lit("urn:p#mkt").as("p"),
      concat(lit("\""), col("c_mktsegment"), lit("\"")).as("o"))
    val nat = c.select(subj.as("s"), lit("urn:p#inNation").as("p"),
      concat(lit("urn:n#"), col("c_nationkey")).as("o"))
    bal.union(mkt).union(nat).withColumn("graph", lit("urn:tpch#"))
      .select("graph", "s", "p", "o")
  }

  /** Orders as quads with a synthesized xsd:dateTime lexical (date from
    * o_orderdate, time-of-day keyed off the order/customer keys so every
    * component is exercised) — the dateTime-accessor fixture (q154). */
  private def orderQuads(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val subj = concat(lit("urn:o#"), col("o_orderkey"))
    val ts = concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T"),
      lpad(pmod(col("o_orderkey"), lit(24)).cast("string"), 2, "0"), lit(":"),
      lpad(pmod(col("o_orderkey"), lit(60)).cast("string"), 2, "0"), lit(":"),
      lpad(pmod(col("o_custkey"), lit(60)).cast("string"), 2, "0"), lit("Z"))
    val placed = o.select(subj.as("s"),
      lit("urn:p#placedAt").as("p"),
      concat(lit("\""), ts, lit("\"")).as("o"))
    val pri = o.select(subj.as("s"),
      lit("urn:p#prio").as("p"),
      concat(lit("\""), col("o_orderpriority"), lit("\"")).as("o"))
    placed.union(pri).withColumn("graph", lit("urn:tpch#"))
      .select("graph", "s", "p", "o")
  }

  /** [[custQuads]] split across NAMED graphs by nation (urn:g#<key%5>) —
    * the GRAPH-keyword fixture, mirroring the reference's one-graph-per-
    * building layout (setup-graphs.py:13-19). */
  private def graphQuads(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val subj = concat(lit("urn:c#"), col("c_custkey"))
    val g = concat(lit("urn:g#"), pmod(col("c_nationkey"), lit(5)))
    val bal = c.select(g.as("graph"), subj.as("s"),
      lit("urn:p#balCents").as("p"),
      floor(col("c_acctbal") * 100).cast("long").cast("string").as("o"))
    val mkt = c.select(g.as("graph"), subj.as("s"),
      lit("urn:p#mkt").as("p"),
      concat(lit("\""), col("c_mktsegment"), lit("\"")).as("o"))
    bal.union(mkt).select("graph", "s", "p", "o")
  }

  /** Customer quads with ANNOTATED literals (round 11): a language-tagged
    * label (tag keyed off c_custkey so en / en-GB / de all occur), a
    * custom-datatype balance, and a plain code — the typed/lang-literal
    * fixture (q158/q159). Tags and datatypes ride the RdfTerms encoding
    * exactly as Turtle-loaded data would. */
  private def litQuads(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val subj = concat(lit("urn:c#"), col("c_custkey"))
    // tags lowercase-normalized like RdfTerms.encodeLang (round 12) —
    // "en-GB" in source data stores as en-gb, exactly as Turtle load does
    val tag = when(pmod(col("c_custkey"), lit(4)) === 1, lit("en-gb"))
      .when(pmod(col("c_custkey"), lit(4)) === 3, lit("de"))
      .otherwise(lit("en"))
    val label = c.select(subj.as("s"), lit("urn:p#label").as("p"),
      concat(lit("\""), col("c_name"), lit("\"@"), tag).as("o"))
    val bal = c.select(subj.as("s"), lit("urn:p#bal").as("p"),
      concat(lit("\""), floor(col("c_acctbal") * 100).cast("long"),
        lit("\"^^<urn:t#cents>")).as("o"))
    val code = c.select(subj.as("s"), lit("urn:p#code").as("p"),
      concat(lit("\"CUST"), col("c_custkey"), lit("\"")).as("o"))
    label.union(bal).union(code).withColumn("graph", lit("urn:tpch#"))
      .select("graph", "s", "p", "o")
  }

  /** Flagship on sf0.001: the full two-level mortar flow on in-memory
    * fixtures — Turtle → SPARQL (path star) → uuid set → pruned scan —
    * plus a real read of the driver's parquet. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ttl =
      """@prefix brick: <https://brickschema.org/schema/Brick#> .
        |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        |@prefix ns: <urn:fix#> .
        |brick:Zone_Air_Temperature_Sensor rdfs:subClassOf brick:Temperature_Sensor .
        |brick:Temperature_Sensor rdfs:subClassOf brick:Sensor .
        |brick:Sensor rdfs:subClassOf brick:Point .
        |ns:sen1 a brick:Zone_Air_Temperature_Sensor ;
        |  brick:timeseries [ brick:hasTimeseriesId "7" ] .
        |""".stripMargin
    val quads = graft.sources.Turtle.parse(ttl, "b1")
      .map { case (su, p, o) => Model.Quad("urn:b1#", su, p, o) }.toDF()
    val fact = t(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts").as("time"), col("value"),
        col("user_id").cast("string").as("uuid"))
    val engine = new Engine(spark, quads, fact)
    engine.dataSparql(
      """PREFIX brick: <https://brickschema.org/schema/Brick#>
        |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |SELECT ?id WHERE {
        |  ?p rdf:type/rdfs:subClassOf* brick:Point .
        |  ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
        |}""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference-parity operators (SURVEY §2) over the driver corpus ----
    "q01_pushdown_scan" -> ((s, dir) => {
      // P5+P6+P7+S2: id-set ∧ time-range conjunctive pushdown (client.py:70)
      t(s, dir, "events")
        .filter(col("user_id").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L) &&
          col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-20 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),
    "q02_stats_index" -> ((s, dir) => {
      // A3/S5: per-stream min/max/count stats table (make-metadata.py)
      t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), min("ts").as("min_ts"), max("ts").as("max_ts"),
          min("value").as("min_value"), max("value").as("max_value"))
        .orderBy("user_id")
    }),
    "q03_distinct" -> ((s, dir) => {
      // A1: DISTINCT id extraction (client.py:69)
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select("user_id").distinct().orderBy("user_id")
    }),
    "q04_limit" -> ((s, dir) => {
      // L1: exact limit (vs reference batch-granular overshoot)
      t(s, dir, "events").select("event_id", "ts", "user_id")
        .orderBy("event_id").limit(100)
    }),
    "q05_union_sites" -> ((s, dir) => {
      // U1: per-site frames tagged + concatenated (client.py:57-63)
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "purchase")
        .select(lit("purchases").as("site"), col("event_id"), col("value"))
        .unionByName(e.filter(col("event_type") === "signup")
          .select(lit("signups").as("site"), col("event_id"), col("value")))
        .orderBy("site", "event_id")
    }),
    "q06_string_cast" -> ((s, dir) => {
      // P8: stringification of every result column (client.py:43,53)
      t(s, dir, "nation")
        .select(col("n_nationkey").cast("string").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("string").as("n_regionkey"))
        .orderBy("n_name")
    }),
    "q07_uri_concat" -> ((s, dir) => {
      // F1/P3: uri synthesis urn:{collection}/{label} (transform.py:34)
      t(s, dir, "events")
        .select(col("event_id"),
          concat(lit("urn:"), col("event_type"), lit("/"),
            col("user_id").cast("string")).as("uri"))
        .orderBy("event_id")
    }),
    "q08_semi_join" -> ((s, dir) => {
      // J1: id-set semi-join driving a fact scan (client.py:69-71)
      val ids = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, dir, "lineitem").join(broadcast(ids), Seq("l_orderkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    "q09_star_join" -> ((s, dir) => {
      // J2-shape: multi-hop joins (BGP analogue); dims broadcast
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("gross"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy("r_name", "n_name")
    }),
    "q10_window_topn" -> ((s, dir) => {
      // top-k per group via ranking window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),
    "q11_agg_pricing" -> ((s, dir) => {
      // TPC-H Q1 shape: wide hash aggregation with exact decimal sums
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q12_sparql_bgp" -> ((s, dir) => {
      // §2.8 BGP: our SPARQL engine over TPC-H-derived quads, checked
      // against the equivalent relational join in DuckDB
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?r WHERE { ?c p:inNation ?n . ?n p:inRegion ?r . }")
      BgpPlanner.evaluate(tpchQuads(s, dir, "inNation", "inRegion"), q)
        .orderBy("c", "n", "r")
    }),
    "q13_sparql_path" -> ((s, dir) => {
      // §2.8 property path p* : zero-or-more closure, constant object
      val q = Sparql.parse("PREFIX p: <urn:p#> SELECT ?x WHERE { ?x p:partOf* <urn:r#2> . }")
      BgpPlanner.evaluate(tpchQuads(s, dir, "partOf", "partOf"), q).orderBy("x")
    }),
    "q14_closure" -> ((s, dir) => {
      // J4: distributed semi-naive fixpoint on a 3-level hierarchy
      val edges = t(s, dir, "orders")
        .select(concat(lit("urn:o#"), col("o_orderkey")).as("src"),
          concat(lit("urn:c#"), col("o_custkey")).as("dst"))
        .union(tpchQuads(s, dir, "x", "x")
          .select(col("s").as("src"), col("o").as("dst")))
      graft.plans.Closure.transitiveDistributed(edges)
        .orderBy("src", "dst")
    }),
    "q15_time_bucket" -> ((s, dir) => {
      // §2.9 batch form: event-time bucketed aggregation
      Events.timeBucketStats(t(s, dir, "events"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("bucket", "event_type")
    }),
    "q16_sessionize" -> ((s, dir) => {
      Events.sessionStats(t(s, dir, "events"), gapSeconds = 1800)
        .orderBy("user_id", "session_id")
    }),
    "q17_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Events.asOfJoin(
        e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "signup"),
        "user_id", "ts", "value")
        .filter(col("asof_ts").isNotNull)
        .select("event_id", "user_id", "ts", "asof_value", "asof_ts")
        .orderBy("event_id")
    }),
    // ---- LLM-pipeline extensions ----
    "q18_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("text_key")
    }),
    "q19_minhash_lsh" -> ((s, dir) => {
      // MinHash → LSH bands → candidate pairs → exact 3-gram Jaccard,
      // thresholded — a RECALL gate: the oracle computes the true pair set
      // (all pairs with 3-gram Jaccard ≥ 0.5) exhaustively, so the hash
      // matches iff LSH candidates ⊇ truth. 16 bands × 4 rows: the S-curve
      // midpoint (1/16)^(1/4) ≈ 0.5 MATCHES the verification threshold
      // (b=32/r=2 put it at 0.18 — candidates fired on pairs 3× below the
      // gate and the false-positive flood dominated the exact-verify cost);
      // detection at J=0.8 (the data's weakest true pair) is
      // 1-(1-0.8⁴)¹⁶ ≈ 0.9998, and the pipeline is deterministic (salted
      // xxhash64), so the recall oracle stays exact, not probabilistic.
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccard(
        Dedup.minhashCandidates(docs, "text", "doc_id", k = 64, bands = 16),
        docs, "text", "doc_id", shingleN = 3, minThetaBp = Some(5000L))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .orderBy("id_a", "id_b")
    }),
    "q20_token_jaccard" -> ((s, dir) => {
      // exact token-set Jaccard inside (lang, source) blocks — the guarded
      // block-pair generator fails loudly on a cartesian-bomb block
      val docs = t(s, dir, "documents")
      val pairs = Dedup.blockPairs(docs, Seq("lang", "source"), "doc_id")
      Dedup.ngramJaccard(pairs, docs, "text", "doc_id", shingleN = 1)
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .orderBy("id_a", "id_b")
    }),
    "q21_simhash" -> ((s, dir) => {
      Dedup.simhashes(t(s, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("sim").as("simhash"))
        .orderBy("doc_id")
    }),
    "q22_embed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q23_embed_ivf" -> ((s, dir) => {
      // real Lloyd's k-means quantizer (√N-seeded nlist since round 12;
      // round 13 bounds BOTH superlinear stages: training runs on the
      // deterministic ⌈√N⌉/8-mod sample — ~8·nlist vectors, data-linear
      // rounds — and the full-corpus assignment goes through the
      // two-level quantizer, ~2·N·N^¼ kernel evals instead of N^1.5.
      // Round 14 routes the QUERY probe through the same super level,
      // so nothing √N-sized is force-broadcast anywhere in the plan.
      // The oracle recomputes the identical moduli, sample, supers,
      // probe routing and tie orders, so assignments never drift.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, dim = 64, iters = 2,
        trainMod = 0)
      Similarity.ivfTopKWith(emb, emb.filter(col("vec_id") < 8), cents,
          k = 5, nProbe = 2, twoLevel = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q24_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextOps.langId(col("text")).as("guessed"))
        .orderBy("doc_id")
    }),
    "q25_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cols = TextOps.qualityColumns(col("text"))
        .filterNot(_._1 == "n_chars_m")
        .map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +:
        cols :+
        TextOps.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens") :+
        TextOps.md5Fingerprint(col("text")).as("fingerprint")): _*)
        .orderBy("doc_id")
    }),
    "q26_multimodal" -> ((s, dir) => {
      // binary columns in REAL container formats: build PNG/JPEG/WAV/AVI
      // payloads (dims derived from doc_id), then byte-parse them back —
      // the oracle checks construct∘parse = identity from the arithmetic
      Multimodal.sniff(
        Multimodal.packSynthetic(t(s, dir, "documents"), "doc_id", "text").toDF())
        .toDF()
        .select("media_id", "kind", "format", "width", "height",
          "sample_rate", "channels", "n_frames", "n_bytes")
        .orderBy("media_id")
    }),
    "q27_frame_sample" -> ((s, dir) => {
      // uniform frame sampling with an engine-portable fingerprint
      Multimodal.sampleFrames(
        Multimodal.packFromText(t(s, dir, "documents"), "doc_id", "text"), stride = 8)
        .orderBy("media_id", "frame_index")
    }),
    "q29_embed_neardup" -> ((s, dir) => {
      // exact label-blocked cosine near-dup pairs (engine-portable)
      Dedup.blockedCosinePairs(t(s, dir, "embeddings"), "embedding", "vec_id",
        "label", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    "q30_embed_lsh_neardup" -> ((s, dir) => {
      // planted-near-duplicate RECALL gate for hyperplane LSH: the corpus
      // has no high-cosine pairs (max ≈ 0.66, a smooth tail — no LSH can
      // separate cosine 0.5 from bulk at 0.45), so plant deterministic
      // near-copies (per-dimension scaling, cosine ≈ 0.999) derived from
      // the input; the oracle recomputes the same derivation and the TRUE
      // pair set ≥ 0.9 exhaustively. 20 tables × 10 planes: detection
      // at cosine 0.999 is 1-(1-0.99¹⁰)²⁰ ≈ 1-4e-22; bulk pairs land in a
      // shared bucket < 4% of the time.
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("vec"), (x, i) =>
            x * (lit(1.0) + (i % 7 - 3).cast("double") * lit(0.02))).as("vec"))
      Dedup.embeddingCandidatesBanded(base.unionByName(planted), "vec", "vec_id",
        dim = 64, nTables = 20, planesPerTable = 10, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "q31_sample_per_group" -> ((s, dir) => {
      // deterministic content-addressed downsampling: n docs per language
      operators.Sampling.perGroup(t(s, dir, "documents"), "lang", "doc_id", n = 20)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    }),
    "q32_normalize" -> ((s, dir) => {
      // cleaning normalization (lower, strip punct, collapse whitespace)
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.normalize(col("text")).as("normalized"))
        .orderBy("doc_id")
    }),
    "q35_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs (token Jaccard ≥ 0.5 inside (lang,source) blocks)
      // → connected components. Pair generation is the EXACT block-scoped
      // prefix filter (q78's machinery, block values hashed into the
      // shingle identity): the r10 probe measured the all-pairs blockPairs
      // generator at 14x under 10x data, and LSH is the wrong tool at a
      // unigram threshold (same-language docs share stopwords, so
      // background Jaccard crowds J=0.5 and recall-safe banding re-admits
      // nearly all pairs) — prefix filtering is lossless AND its candidate
      // volume tracks genuinely-similar mass, not vocabulary overlap.
      val docs = t(s, dir, "documents")
      val nearDups = Dedup.prefixJaccardJoin(docs, "text", "doc_id",
          shingleN = 1, thetaBp = 5000L, blockCols = Seq("lang", "source"))
        .select("id_a", "id_b")
      Dedup.connectedComponents(docs, "doc_id", nearDups)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "q137_cluster_split" -> ((s, dir) => {
      // cluster-aware train/val/test split (round 10): near-dup
      // components each land WHOLLY in one split, eliminating the
      // near-twin train/test leakage a per-document split allows; the
      // report quantifies exactly that (naive_leaky_clusters = clusters
      // the id-mod rule would scatter). Candidates come from the SCALE-
      // SAFE LSH path (q40's pipeline — the blockPairs generator is
      // quadratic in block size and measured 14x at the 10x probe);
      // then two hash aggs over the compact (id, component) relation.
      val docs = t(s, dir, "documents")
      val nearDups = Dedup.ngramJaccard(
          Dedup.minhashCandidates(docs, "text", "doc_id", k = 64, bands = 16),
          docs, "text", "doc_id", shingleN = 3, minThetaBp = Some(5000L))
        .select("id_a", "id_b")
      Dedup.clusterAwareSplit(
          Dedup.connectedComponents(docs, "doc_id", nearDups))
        .orderBy("split")
    }),
    "q40_dedup_clusters_lsh" -> ((s, dir) => {
      // the SCALE-SAFE dedup-cluster path: candidates from MinHash LSH
      // (no all-pairs block join anywhere) → exact 3-gram Jaccard ≥ 0.5
      // → connected components; the oracle recomputes the TRUE pair graph
      // exhaustively, so this is simultaneously a recall gate on LSH and
      // a correctness gate on the component propagation
      // (banding b=16/r=4 tuned to the J≥0.5 gate — see q19)
      val docs = t(s, dir, "documents")
      val nearDups = Dedup.ngramJaccard(
          Dedup.minhashCandidates(docs, "text", "doc_id", k = 64, bands = 16),
          docs, "text", "doc_id", shingleN = 3, minThetaBp = Some(5000L))
        .select("id_a", "id_b")
      Dedup.connectedComponents(docs, "doc_id", nearDups)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "q41_wav_decode" -> ((s, dir) => {
      // REAL audio decode: construct RIFF/WAVE payloads (PCM16, body = the
      // UTF-8 text bytes), then decode the sample stream back and aggregate
      // integer-exact stats — the oracle re-derives every sample from the
      // same bytes with hex arithmetic, so this checks the full chunk-walk
      // + s16le decode, not just the header parse
      Multimodal.wavFeatures(
        Multimodal.packSynthetic(t(s, dir, "documents"), "doc_id", "text").toDF())
        .toDF()
        .select("media_id", "sample_rate", "channels", "n_samples",
          "sum_samples", "sum_squares", "peak_abs")
        .orderBy("media_id")
    }),
    "q42_png_decode" -> ((s, dir) => {
      // REAL image decode: construct spec-compliant PNGs (RGBA8, pixel
      // bytes a deterministic function of the id, all five scanline filter
      // types, zlib IDAT, valid CRCs), then decode them back — inflate +
      // un-filter + integer-exact pixel stats. The oracle recomputes the
      // stats from the same pixel formula, so a hash match proves the
      // whole inflate/unfilter path reconstructs every byte exactly.
      Multimodal.pngFeatures(
        Multimodal.packPng(t(s, dir, "documents"), "doc_id").toDF())
        .toDF()
        .select("media_id", "width", "height", "n_bytes", "sum_bytes",
          "sum_squares", "max_r", "max_g", "max_b", "max_a")
        .orderBy("media_id")
    }),
    "q43_avi_decode" -> ((s, dir) => {
      // REAL (uncompressed) video decode: construct RIFF/AVI containers
      // with LIST-movi '00db' raw-BGR frame chunks, then walk the chunk
      // list back and decode every frame's bytes into per-frame
      // integer-exact stats — one output row per frame, executor-side
      Multimodal.aviFrameFeatures(
        Multimodal.packAvi(t(s, dir, "documents"), "doc_id").toDF())
        .toDF()
        .select("media_id", "frame_index", "n_bytes", "sum_bytes",
          "sum_squares", "peak")
        .orderBy("media_id", "frame_index")
    }),
    "q44_jpeg_decode" -> ((s, dir) => {
      // REAL entropy-coded image decode: construct baseline JPEGs (FDCT,
      // quantization, zig-zag, DC prediction, canonical Huffman, byte
      // stuffing — a full T.81 baseline codec, grayscale), decode them
      // back through Huffman → dequant → IDCT, and aggregate pixel stats.
      // Block-constant pixels make the lossy pipeline bit-exact (only the
      // DC coefficient survives), so the oracle recomputes the decoded
      // stats from the block formula.
      Multimodal.jpegFeatures(
        Multimodal.packJpeg(t(s, dir, "documents"), "doc_id").toDF())
        .toDF()
        .select("media_id", "width", "height", "n_pixels", "sum_bytes",
          "sum_squares", "max_px", "min_px")
        .orderBy("media_id")
    }),
    "q45_mjpeg_decode" -> ((s, dir) => {
      // REAL compressed video decode: Motion-JPEG AVIs (each movi chunk a
      // genuine baseline JPEG) decoded frame-by-frame through the full
      // Huffman → dequant → IDCT pipeline; block-constant frames make the
      // lossy path bit-exact, so the oracle recomputes per-frame stats
      Multimodal.mjpegFrameFeatures(
        Multimodal.packMjpeg(t(s, dir, "documents"), "doc_id").toDF())
        .toDF()
        .select("media_id", "frame_index", "width", "height", "n_pixels",
          "sum_bytes", "sum_squares", "peak")
        .orderBy("media_id", "frame_index")
    }),
    "q46_dup_spans" -> ((s, dir) => {
      // cross-document duplicate n-gram spans: verbatim repeated passages
      // between doc pairs as maximal (start,end) token ranges — the
      // repeated-substring primitive of corpus dedup; the oracle rebuilds
      // the same match matrix + diagonal-islands merge in SQL
      Dedup.duplicateNgramSpans(t(s, dir, "documents"), "text", "doc_id", n = 5)
        .orderBy("id_a", "id_b", "a_start", "b_start")
    }),
    "q47_decontaminate" -> ((s, dir) => {
      // test-set decontamination: docs with doc_id % 10 == 0 play the eval
      // set; every other doc reports what fraction of its 5-grams appears
      // verbatim in it (exact integer basis points)
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusContamination(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 5)
        .orderBy("doc_id")
    }),
    "q48_pack_sequences" -> ((s, dir) => {
      // sequence packing: docs → fixed-capacity training sequences by
      // global token offset, computed as a DISTRIBUTED prefix sum (the
      // naive unpartitioned window would run on one task); the oracle IS
      // that naive window — same numbers, scalable plan
      Packing.packSequences(t(s, dir, "documents"), "text", "doc_id",
          capacity = 2048)
        .orderBy("doc_id")
    }),
    "q49_range_join" -> ((s, dir) => {
      // point-in-interval range join via the bucketed equi-join shape
      // (never a nested-loop): 20 deterministic 12-hour windows spaced
      // 36 hours from the first event day, events aggregated per window
      val e = t(s, dir, "events")
      val base = e.agg(unix_timestamp(date_trunc("DAY", min(col("ts")))).as("s0"))
      val intervals = base
        .select(col("s0"), explode(sequence(lit(0L), lit(19L))).as("interval_id"))
        .select(col("interval_id"),
          timestamp_seconds(col("s0") + col("interval_id") * 129600L).as("w_start"),
          timestamp_seconds(col("s0") + col("interval_id") * 129600L + 43200L).as("w_end"))
      Events.rangeJoinBucketed(e, "ts", intervals, "w_start", "w_end",
          bucketWidth = 43200L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("interval_id")
    }),
    "q50_repetition" -> ((s, dir) => {
      // intra-doc repetition ratio (duplicate 3-gram fraction) — the
      // repetitiousness quality filter of large-corpus pipelines
      TextOps.repetitionStats(t(s, dir, "documents"), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),
    "q51_paragraph_dedup" -> ((s, dir) => {
      // sub-document (paragraph-level) exact dedup, CCNet-style: split on
      // sentence boundaries, hash each normalized paragraph, report every
      // hash shared by 2+ paragraphs with its canonical keeper. Boilerplate
      // sentences are appended to every doc (the oracle mirrors them) so
      // the duplicate-group path is actually exercised — the synthetic
      // corpus has no naturally shared paragraphs at small SF.
      val paras = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(
            concat(col("text"), lit(". all rights reserved. terms apply")),
            "\\. ")).as(Seq("para_idx", "para")))
        .filter(length(trim(col("para"))) > 0)
        .select(col("doc_id"), col("para_idx"),
          md5(trim(lower(col("para")))).as("ph"))
      paras.groupBy("ph")
        .agg(count(lit(1)).as("n_copies"),
          min(struct(col("doc_id"), col("para_idx"))).as("keep"))
        .filter(col("n_copies") >= 2)
        .select(col("ph"), col("n_copies"),
          col("keep.doc_id").as("keep_doc_id"),
          col("keep.para_idx").cast("long").as("keep_para_idx"))
        .orderBy("ph")
    }),
    "q52_semdedup" -> ((s, dir) => {
      // SemDeDup (cluster-then-prune SEMANTIC dedup): deterministic k-means
      // clusters (the q23 quantizer) + within-cluster smaller-id pruning at
      // cosine ≥ 0.95. Corpus = embeddings plus planted near-copies (the
      // q30 derivation, cosine ≈ 0.999 to their originals) so the drop path
      // is actually exercised — the raw corpus has no pairs above 0.95.
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * (lit(1.0) + (i % 7 - 3).cast("double") * lit(0.02))).as("embedding"))
      val cents = Similarity.kmeansCentroids(base, dim = 64, centroidMod = 37, iters = 2)
      Dedup.semanticDedup(base.unionByName(planted), cents, "embedding", "vec_id",
        threshold = 0.95)
        .orderBy("vec_id")
    }),
    "q53_pii_redact" -> ((s, dir) => {
      // PII detection + redaction (emails / phones / IPv4) in the RE2∩Java
      // regex subset so both engines see identical match sets. Deterministic
      // synthetic PII derived from doc_id is appended to every document
      // (mirrored by the oracle) so every pattern actually fires.
      val d = t(s, dir, "documents")
      val txt = concat(lower(col("text")),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit("."), (col("doc_id") % 250).cast("string"))
      val counts = TextOps.piiCounts(txt).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: counts :+
        md5(TextOps.redactPii(txt)).as("redacted_fp")): _*)
        .orderBy("doc_id")
    }),
    "q54_bpe_pairs" -> ((s, dir) => {
      // BPE vocabulary-learning step: corpus-wide adjacent character-pair
      // frequencies inside words; the top pair is the next merge rule
      TextOps.bpePairStats(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("pair")).limit(50)
    }),
    "q55_audio_frames" -> ((s, dir) => {
      // frame-level audio features over REAL decoded PCM: 256-sample
      // frames with energy (Σs, Σs²), peak, and zero-crossing counts —
      // the oracle re-derives every sample with hex arithmetic (as q41)
      // and re-aggregates per frame
      Multimodal.wavFrameFeatures(
        Multimodal.packSynthetic(t(s, dir, "documents"), "doc_id", "text").toDF(),
        frameLen = 256)
        .toDF()
        .select("media_id", "frame_index", "n_samples", "sum_samples",
          "sum_squares", "peak_abs", "n_crossings")
        .orderBy("media_id", "frame_index")
    }),
    "q56_image_resize" -> ((s, dir) => {
      // multimodal transform: nearest-neighbor 2× downsample on REAL
      // decoded PNG pixels (inflate + unfilter + sample), integer-exact
      // stats of the resized RGBA bytes
      Multimodal.pngResizeFeatures(
        Multimodal.packPng(t(s, dir, "documents"), "doc_id").toDF(), factor = 2)
        .toDF()
        .select("media_id", "src_w", "src_h", "width", "height", "n_bytes",
          "sum_bytes", "sum_squares", "max_px")
        .orderBy("media_id")
    }),
    "q57_mix_weights" -> ((s, dir) => {
      // temperature-scaled source mixing (α=0.5) with exact integer
      // largest-remainder apportionment of a 100k-doc sampling budget
      operators.Sampling.temperatureMixture(t(s, dir, "documents"), "source",
          budget = 100000L)
        .orderBy("source")
    }),
    "q58_shard_stats" -> ((s, dir) => {
      // deterministic training-shard assignment (portable hash mod 64) +
      // per-shard manifest (docs/tokens/chars/id-range)
      Packing.shardStats(t(s, dir, "documents"), "text", "doc_id", nShards = 64)
        .orderBy("shard")
    }),
    "q59_bigram_lm" -> ((s, dir) => {
      // corpus-conditional bigram LM quality score in exact basis points
      TextOps.bigramLmScores(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    "q138_lm_terciles" -> ((s, dir) => {
      // CCNet-style per-language perplexity bucketing (Wenzek
      // 1911.00359): head/middle/tail terciles of the bigram-LM fluency
      // score within each language — the sample-by-bucket alternative to
      // hard quality filtering. Exact integer tercile thresholds from
      // the bounded-domain histogram (no corpus sort; see
      // TextOps.scoreTerciles).
      val docs = t(s, dir, "documents")
      val scores = TextOps.bigramLmScores(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("avg_prob_bp"))
      TextOps.scoreTerciles(scores, Seq("lang"), "avg_prob_bp")
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_prob_bp")).as("min_bp"),
          max(col("avg_prob_bp")).as("max_bp"))
        .orderBy("lang", "bucket")
    }),
    "q139_tar_shards" -> ((s, dir) => {
      // WebDataset-style tar shard sink + source (round 10): the corpus
      // is packed into deterministic byte-level ustar shards (50 docs
      // each, one shuffle, one shard's bytes in memory at a time), read
      // BACK through the binaryFile source + pure parser, and the
      // per-shard stats of the roundtripped bytes must equal what DuckDB
      // computes from the original table — any header/padding/terminator
      // bug in the codec breaks entry counts or byte totals. GNU-tar
      // interop + corruption totality are spec-tested (TarShardsSpec).
      val out = TempDirs.create("graft-q139")
      graft.sources.TarShards.write(
        t(s, dir, "documents").select(
          expr("doc_id DIV 50").as("shard"),
          format_string("%012d.txt", col("doc_id")).as("name"),
          col("text").cast("binary").as("bytes")),
        "shard", "name", "bytes", out)
      graft.sources.TarShards.read(s, s"$out/*.tar")
        .select(
          regexp_extract(col("shard_file"), "shard-(\\d+)\\.tar", 1)
            .cast("long").as("shard"),
          length(col("content")).cast("long").as("_b"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_entries"), sum(col("_b")).as("total_bytes"))
        .orderBy("shard")
    }),
    "q151_orc_roundtrip" -> ((s, dir) => {
      // columnar-interchange sink + source (late round 11): the corpus
      // roundtrips through ORC — Spark's built-in non-parquet warehouse
      // format — partitioned by lang; per-(lang, source) stats INCLUDING
      // a sum of portable 60-bit text hashes must equal what DuckDB
      // computes from the original parquet, so any value/encoding/
      // partition-column infidelity across the format boundary breaks
      // the hash sum. Same roundtrip-oracle pattern as q139/q140.
      val out = TempDirs.create("graft-q151")
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").orc(out)
      s.read.orc(out)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          // per-doc hash reduced mod 2^31-1 BEFORE summing: raw 60-bit
          // terms overflow int64 after a handful of rows (ANSI throws)
          sum(pmod(TextOps.portableHash60(col("text")), lit(2147483647L)))
            .as("text_hash_sum"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    }),
    "q140_jsonl_robust" -> ((s, dir) => {
      // robust JSONL ingestion (round 10): the corpus roundtrips through
      // newline-delimited JSON (the crawl/vendor interchange format)
      // with 7 deterministic corrupt lines injected alongside — the
      // reader must quarantine exactly those (keeping their bytes) and
      // deliver every real row byte-lossless; totals are pinned against
      // the raw table. One text scan + codegen'd from_json — no
      // PERMISSIVE-mode cache workaround (SPARK-21610), nothing to leak.
      val out = TempDirs.create("graft-q140")
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite").json(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "part-corrupt.txt"),
        (1 to 7).map(i => s"""corrupt line $i {"unterminated": """)
          .mkString("\n").getBytes("UTF-8"))
      graft.sources.Jsonl.readRobust(s, out, docs.schema)
        .agg(
          sum(when(col("_ok"), 1L).otherwise(0L)).as("n_good"),
          sum(when(!col("_ok"), 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("_ok"), col("n_chars"))).as("sum_chars"),
          count_distinct(when(col("_ok"), col("lang"))).as("n_langs"))
    }),
    "q143_url_dedup" -> ((s, dir) => {
      // canonical-URL dedup (round 10): the cheapest crawl-dedup stage —
      // synthesized messy URLs (mixed-case host, default port, dup
      // slashes, trailing slash, tracking params, fragment) canonicalize
      // and group; each canonical page shows its crawl multiplicity.
      // Pure codegen'd column work + one hash aggregate.
      val docs = t(s, dir, "documents")
      val url = format_string(
        "HTTPS://WWW.Site%d.COM:443//Products//item-%d/?utm_source=feed&fbclid=x%d&id=%d#sec%d",
        pmod(col("doc_id"), lit(5)), pmod(col("doc_id"), lit(50)),
        col("doc_id"), pmod(col("doc_id"), lit(50)), pmod(col("doc_id"), lit(3)))
      docs.select(TextOps.canonicalUrl(url).as("canonical"))
        .groupBy("canonical").agg(count(lit(1)).as("n_urls"))
        .orderBy("canonical")
    }),
    "q169_token_budget_mix" -> ((s, dir) => {
      // the EXECUTION half of data mixing (round 13): per-source TOKEN
      // budgets (here a third of each source's token mass — the
      // DECISION half is temperatureMixture's apportionment) covered by
      // a deterministic md5-ordered document prefix; the budget-crossing
      // doc is included, so coverage ≥ budget and allocations are
      // monotone in the budget.
      val docs = t(s, dir, "documents")
      val budgets = docs
        .groupBy(col("source"))
        .agg(sum(size(split(trim(lower(col("text"))), "\\s+"))
          .cast("long")).as("_toks"))
        .select(col("source"), expr("_toks DIV 3").as("token_budget"))
      operators.Sampling.tokenBudgetSelect(docs, "text", "doc_id",
          "source", budgets)
        .orderBy("source", "doc_id")
    }),
    "q144_domain_cap" -> ((s, dir) => {
      // per-domain document cap (round 10, C4/RefinedWeb host-domination
      // rule): at most 50 docs per synthesized domain, lowest ids kept
      // deterministically via the k-bounded heap aggregate — <= k rows
      // per domain per partition on the wire, no corpus window sort, no
      // whole-domain-in-one-partition skew.
      val docs = t(s, dir, "documents")
      val withDomain = docs.select(col("doc_id"),
        format_string("www.site%d.com", pmod(col("doc_id"), lit(5))).as("domain"))
      operators.Sampling.domainCap(withDomain, "domain", "doc_id", 50)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("domain")
    }),
    "q145_sparql_negated_set" -> ((s, dir) => {
      // §9.1 negated property sets (round 11 — the last missing path
      // construct): !(p|^q) matches forward edges whose predicate avoids
      // the forward exclusions UNION reversed edges avoiding the inverse
      // exclusions. Over custQuads (3 predicates): forward part = mkt ∪
      // inNation edges, inverse part = reversed balCents ∪ reversed mkt.
      // Plan: two predicate-pruned scans (NOT IN pushes down like IN).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?x ?y WHERE { " +
          "?x !(p:balCents|^p:inNation) ?y . }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("x", "y")
    }),
    "q146_html_extract" -> ((s, dir) => {
      // HTML→text extraction (round 11): every doc is escaped and
      // wrapped in a realistic page (style block, comment, heading,
      // script whose string literal CONTAINS markup) and the extractor
      // must drop code wholesale and recover heading + original text
      // exactly (escape→decode roundtrip). The oracle recomputes the
      // expectation from the RAW text — it checks extraction semantics,
      // not regex-engine parity.
      val docs = t(s, dir, "documents")
      val page = concat(
        lit("<html><head><style type=\"text/css\">body { margin: 0; }" +
          "</style><!-- generator: fixture --></head><body><h1>Title</h1><p>"),
        TextOps.escapeHtml(col("text")),
        lit("</p><script type=\"text/javascript\">var s = \"<p>not text" +
          "</p>\";</script></body></html>"))
      docs.select(col("doc_id"), TextOps.stripHtml(page).as("extracted"))
        .orderBy("doc_id")
    }),
    "q147_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC hygiene (round 11): every doc gets a decomposed-form
      // prefix (e + COMBINING ACUTE, i + COMBINING DIAERESIS) and the
      // native codegen'd NfcNormalize expression must compose it
      // canonically — the oracle is DuckDB's own UAX #15 nfc_normalize
      // over an identically-constructed string, so both the composed
      // bytes and the post-NFC character count are cross-engine-pinned.
      val docs = t(s, dir, "documents")
      val mixed = concat(lit("Cafe\u0301 nai\u0308ve "), col("text"))
      docs.select(col("doc_id"),
          graft.functions.UnicodeNorm.nfc(mixed).as("text_nfc"))
        .withColumn("n_chars_nfc", length(col("text_nfc")).cast("long"))
        .orderBy("doc_id")
    }),
    "q148_dsir_resample" -> ((s, dir) => {
      // DSIR importance resampling (round 11, Xie et al. 2302.03169):
      // src18 plays the curated target domain; every other doc is scored
      // by target-vs-pool bigram-LM log-ratio (integer basis points) and
      // the top 50 are selected — deterministic top-k (TakeOrdered, no
      // corpus sort), all-integer weights so the oracle is bit-exact.
      val docs = t(s, dir, "documents")
      TextOps.dsirWeights(docs, "text", "doc_id", col("source") === "src18")
        .orderBy(col("dsir_bp").desc, col("doc_id"))
        .limit(50)
    }),
    "q60_quality_filter" -> ((s, dir) => {
      // composite Gopher/C4-style rule filter with a reason bitmask —
      // every rule in cross-multiplied integer form (no float ratios)
      TextOps.qualityFilter(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    "q61_quantize" -> ((s, dir) => {
      // symmetric int8 embedding quantization + fixed-point error report
      Similarity.quantizeInt8Stats(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy("vec_id")
    }),
    "q62_chunking" -> ((s, dir) => {
      // fixed-size token-window chunking with overlap (64-token windows
      // every 48) — doc → training/retrieval-window spans + fingerprints
      TextOps.chunkSpans(t(s, dir, "documents"), "text", "doc_id",
          chunkLen = 64, stride = 48)
        .orderBy("doc_id", "chunk_index")
    }),
    "q64_dedup_report" -> ((s, dir) => {
      // per-(lang, source) curation report: exact-duplicate rate and token
      // mass — the corpus-slice accounting every dedup run publishes.
      // Two hash aggregates + one join keyed by the text hash.
      val docs = t(s, dir, "documents")
      val keyed = docs.select(col("doc_id"), col("lang"), col("source"),
        md5(concat_ws(" ", TextOps.tokens(col("text")))).as("text_key"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val keepers = keyed.groupBy("text_key").agg(min("doc_id").as("keep_id"))
      keyed.join(keepers, "text_key")
        .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"),
          sum(col("n_toks")).as("n_tokens"))
        .withColumn("dup_bp", expr("n_dups * 10000 DIV n_docs"))
        .orderBy("lang", "source")
    }),
    "q63_ngram_counts" -> ((s, dir) => {
      // LM count-table construction: corpus 3-gram frequencies, singleton
      // tail pruned inside the aggregate, top-100 deterministic
      TextOps.ngramCounts(t(s, dir, "documents"), "text", "doc_id",
          n = 3, minCount = 3)
        .orderBy(col("n").desc, col("gram")).limit(100)
    }),
    "q65_winnow_fp" -> ((s, dir) => {
      // winnowing (MOSS) fingerprint index: distinct per-doc window-min
      // gram hashes — any shared ≥6-token passage produces a shared fp
      TextOps.winnowFingerprints(t(s, dir, "documents"), "text", "doc_id",
          k = 3, w = 4)
        .orderBy("doc_id", "fp")
    }),
    "q66_split_report" -> ((s, dir) => {
      // deterministic md5-bucket train/val/test split + per-(lang, source)
      // balance report in exact basis points
      Sampling.splitReport(t(s, dir, "documents"), "doc_id",
          Seq("lang", "source"), trainPct = 80, valPct = 10)
        .orderBy("lang", "source", "split")
    }),
    "q67_dim_stats" -> ((s, dir) => {
      // per-dimension embedding corpus stats (fixed-point exact):
      // normalization / dead-axis / scale-skew report
      Similarity.dimStats(t(s, dir, "embeddings"), "embedding")
        .orderBy("dim")
    }),
    "q68_vocab_coverage" -> ((s, dir) => {
      // corpus-head vocabulary coverage per doc — the corpus-driven
      // stopword-coverage quality filter
      TextOps.vocabCoverage(t(s, dir, "documents"), "text", "doc_id", k = 10)
        .orderBy("doc_id")
    }),
    "q69_order_priority" -> ((s, dir) => {
      // TPC-H Q3 shape: fact⋈fact shuffle join + broadcast dimension +
      // top-k by revenue. The big sides (lineitem, orders) hash-join on
      // the order key; the filtered customer dimension broadcasts.
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    }),
    "q70_zorder_layout" -> ((s, dir) => {
      // Z-order layout audit: Morton keys over (partkey, suppkey), then
      // per-key-range locality stats — each zbucket covers a bounded
      // rectangle of BOTH dimensions, which is what lets parquet footer
      // stats prune range predicates on either column after a rewrite
      // sorted by zkey. Pure foldable bit arithmetic, one hash agg.
      val z = operators.Layout.zorderKey(col("l_partkey"), col("l_suppkey"), bits = 16)
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), z.as("zkey"))
        .groupBy(shiftright(col("zkey"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("zbucket")
    }),
    "q71_source_overlap" -> ((s, dir) => {
      // corpus-overlap matrix: exact distinct-shingle Jaccard between
      // every source pair (inter-source duplication is invisible to
      // per-doc dedup reports) — inverted-index join, never doc×doc
      Dedup.sourceOverlap(t(s, dir, "documents"), "text", "doc_id", "source",
          shingleN = 3)
        .orderBy("slice_a", "slice_b")
    }),
    "q72_compaction_plan" -> ((s, dir) => {
      // small-file compaction planning over a per-file stats relation
      // (one row per (stream, day) "file"): sequential offset-bucket
      // bin-packing via one window cumsum — no driver loop
      val stats = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"))
      operators.Layout.compactionPlan(stats, "event_type", "day", "n_rows",
          targetRows = 500L)
        .orderBy("event_type", "day")
    }),
    "q73_heavy_hitters" -> ((s, dir) => {
      // shuffle-key skew report: top keys by exact share (bp) + the salt
      // factor that would level each one — measured BEFORE keying a big
      // shuffle; one hash agg, sort over |distinct keys| only
      operators.Skew.heavyHitterReport(t(s, dir, "events"), "user_id",
        k = 20, targetShareBp = 100L)
    }),
    "q74_embed_pq" -> ((s, dir) => {
      // product-quantization ANN (ADC): corpus encoded once as m=8 codes,
      // queries score against the codes relation only (32× smaller than
      // the raw vectors) — exact fixed-point distances, oracle re-derives
      // identical codes
      val emb = t(s, dir, "embeddings")
      // fixed-cell codebook (round 13): seedMod derives as N/256, so
      // the encode stage stays data-linear (a fixed mod measured 346x
      // wall at 100x data — the codebook itself was growing with N)
      val cb = Similarity.pqCodebook(emb, m = 8)
      Similarity.pqTopKWith(emb, emb.filter(col("vec_id") < 8), cb,
          m = 8, dim = 64, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q102_ivf_pq" -> ((s, dir) => {
      // IVF-PQ, the production two-stage ANN: coarse inverted lists
      // (q23's shape) restrict WHICH vectors each query scores; PQ codes
      // (q74's shape) decide HOW — the raw corpus is never re-read after
      // the two broadcast encode passes. √N-seeded nlist, same
      // derivation as q23's quantizer.
      val emb = t(s, dir, "embeddings")
      val (cents, cb) = quantizer(emb)
      // two-level coarse assignment, the same hierarchical quantizer as
      // q23: the flat corpus × nlist argmax was the one N^1.5 stage left
      // in the ANN family; the query probe routes through the super
      // level too (no √N broadcast anywhere)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), cents, cb,
          m = 8, dim = 64, k = 5, nProbe = 2, twoLevel = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q170_canonical_keep_lsh" -> ((s, dir) => {
      // the 100 TB configuration of q106 (round 13): the SAME keep rule
      // (one survivor per component — longest text, ties → smallest id)
      // but candidates from the banded-minhash pipeline instead of the
      // exact block-scoped prefix join. The exact join is
      // output-proportional (q106's 185 s / 49× probe row is its
      // documented boundary); the LSH path absorbs 100× data in ~5×
      // wall (q19/q40 family). The DuckDB oracle re-derives TRUE 3-gram
      // Jaccard pairs at the same threshold, which simultaneously
      // recall-gates the candidate generator.
      val docs = t(s, dir, "documents")
      val nearDups = Dedup.ngramJaccard(
          Dedup.minhashCandidates(docs, "text", "doc_id", k = 64, bands = 16),
          docs, "text", "doc_id", shingleN = 3, minThetaBp = Some(5000L))
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(docs, "doc_id", nearDups)
      Dedup.canonicalKeep(comp, docs, "doc_id", "n_chars")
        .select(col("component"), col("group_size"), col("kept_id"),
          col("kept_quality").cast("long").as("kept_quality"))
        .orderBy("component")
    }),
    "q171_anchor_index_batch" -> ((s, dir) => {
      // PERSISTED ExactSubstr index + incremental batch query (round
      // 14) — the operational 100 TB pattern: the corpus's winnowed
      // anchor grams live in a parquet index (built once, amortized
      // over every daily batch — the cached fixture here, like q111's
      // stats store); the timed body derives anchors for the BATCH
      // only (doc_id % 5 == 0, 20% of docs) and streams the index once
      // through a broadcast batch-gram probe. Cost ∝ batch + one index
      // scan; the corpus is never re-exploded.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      operators.DedupIndex.duplicateSpansAgainstIndex(batch, "text",
          "doc_id", s"$root/anchor", k = 3, w = 4)
        .orderBy("doc_id", "span_start")
    }),
    "q172_minhash_index_batch" -> ((s, dir) => {
      // doc-level analogue (round 14): the corpus's LSH band buckets
      // persisted; batch band rows probe the index for candidate
      // (batch, corpus) pairs, then exact 3-gram Jaccard verifies at
      // θ=0.5 over candidates only. The DuckDB oracle computes the
      // TRUE cross-split pair set exhaustively, so the hash matches
      // iff index candidates ⊇ truth — the q19 recall gate, applied
      // to the persisted-index path.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val cands = operators.DedupIndex.minhashCandidatesAgainstIndex(
        batch, "text", "doc_id", s"$root/minhash", k = 64, bands = 16)
      Dedup.ngramJaccard(cands, docs, "text", "doc_id", shingleN = 3,
          minThetaBp = Some(5000L))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .orderBy("id_a", "id_b")
    }),
    "q173_exact_index_batch" -> ((s, dir) => {
      // exact membership against the persisted key index (round 14):
      // the synthetic corpus has NO exact duplicates, so the batch
      // models a crawler re-fetching known pages — every doc_id % 10
      // == 0 batch doc carries the TEXT of its corpus neighbor
      // (doc_id + 1, which is % 5 == 1 → indexed). Output: the batch
      // docs the index already holds, with the surviving corpus id —
      // anti-join against this to admit only novel docs.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("_nt"))
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
            col("_nt")).otherwise(col("text")).as("text"))
      operators.DedupIndex.exactDuplicatesAgainstIndex(batch, "text",
          "doc_id", s"$root/exact")
        .select(col("doc_id"), col("text_key"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("doc_id")
    }),
    "q174_stream_dedup_ingest" -> ((s, dir) => {
      // §2.9 × the persisted index: STREAMING dedup-ingest — documents
      // arrive through a real file-source streaming query, each
      // micro-batch is admitted against the persisted exact index
      // (dup_corpus / dup_batch / admitted per doc), admitted keys are
      // appended so later batches dedup against earlier ones, and the
      // per-doc status relation is the output. Plants make all three
      // statuses observable: doc_id % 10 == 0 batch docs carry their
      // corpus neighbor's text (dup_corpus, q173's re-fetch plant);
      // doc_id % 20 == 15 docs carry batch sibling (doc_id − 10)'s text
      // (novel key seen twice IN the stream → the sibling admits, the
      // copy is dup_batch). Stream-static left joins plant against the
      // static table; the index is built fresh per invocation (the
      // stream APPENDS to it — the shared q171–q173 fixture must not
      // mutate). Single AvailableNow batch here = deterministic,
      // oracle-able; cross-batch admission is spec-tested with explicit
      // multi-batch runs (DedupIndexSpec).
      val root = freshRoot("q174")
      val docs = t(s, dir, "documents")
      operators.DedupIndex.writeExactIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id",
        s"$root/exact")
      val stream = tableStream(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
      val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("_nt"))
      val sib = docs.select((col("doc_id") + 10).as("doc_id"),
        col("text").as("_bt"))
      val planted = stream
        .join(neigh, Seq("doc_id"), "left")
        .join(sib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
            col("_nt"))
            .when(pmod(col("doc_id"), lit(20)) === 15 && col("_bt").isNotNull,
              col("_bt"))
            .otherwise(col("text")).as("text"))
      graft.streaming.StreamingOps.dedupIngestStream(planted, "text",
        "doc_id", s"$root/exact", s"$root/out")
      s.read.parquet(s"$root/out/status")
        .select(col("doc_id"), col("text_key"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("doc_id")
    }),
    "q175_pq_rerank" -> ((s, dir) => {
      // exact re-rank over the PQ shortlist (round 14) — the standard
      // production two-stage retrieval: ADC proposes 4k candidates per
      // query (q74's integer-exact machinery, shortlist k=20), then only
      // those pairs are scored exactly on the raw vectors and re-ranked
      // to the final top-5. Attacks the measured ADC ranking-distortion
      // ceiling (PLANS.md §ANN recall) at candidate-bounded cost: one
      // corpus scan fetches the shortlist vectors by broadcast probe.
      // The oracle re-derives the identical shortlist and the exact
      // cosine re-rank.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val cb = Similarity.pqCodebook(emb, m = 8)
      val shortlist = Similarity.pqTopKWith(emb, queries, cb,
        m = 8, dim = 64, k = 20)
      Similarity.rerankTopK(emb, queries,
          shortlist.select(col("qid"), col("nid")), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q176_ann_index_serve" -> ((s, dir) => {
      // PERSISTED ANN index + query serving — q102's IVF-PQ
      // retrieval split into its operational halves: the corpus-side
      // structure is a parquet index built once (cached fixture, like
      // q111's stats store and q171's dedup indexes), and the timed
      // body SERVES the 8-query batch against it — broadcast probes +
      // ADC table, the codes relation read only at the probed inverted
      // lists (partitionBy(cid) layout → dynamic partition pruning),
      // no corpus re-encode, no raw-vector re-read. Byte-identical to
      // q102's in-memory operator, so the oracle is q102's verbatim.
      serveAnn(s, dir, annIndex(s, dir))
    }),
    "q178_ann_serve_rerank" -> ((s, dir) => {
      // the COMPLETE production serving stack (round 14): persisted
      // IVF-PQ index → ADC shortlist (4k candidates per query, q176's
      // probed-fraction serving) → exact re-rank on raw vectors (q175's
      // candidate-bounded second stage). One parquet-index read at the
      // probed lists + one corpus scan for the shortlist vectors —
      // the two-stage retrieval a real deployment runs end-to-end.
      val root = annIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val shortlist = operators.AnnIndex.queryIvfPqIndex(queries, root,
        m = 8, dim = 64, k = 20, nProbe = 2, twoLevel = true)
      Similarity.rerankTopK(emb, queries,
          shortlist.select(col("qid"), col("nid")), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q177_ivfpq_residual" -> ((s, dir) => {
      // residual IVF-PQ — the PRODUCTION encoding: PQ codes
      // over each vector's residual to its assigned centroid (v − c),
      // query tables per probed list from (q − c). Residuals
      // concentrate the energy the coarse stage already explained, so
      // the same codebook budget resolves finer structure (measured
      // recall: PLANS.md §ANN). All residuals are IEEE double
      // subtractions and all distances integer fixed-point, so the
      // oracle re-derives identical codes and scores.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 8),
          centroids(emb), m = 8, dim = 64, k = 5, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    }),
    "q179_ann_index_append" -> ((s, dir) => {
      // APPEND-grown ANN index: the index was built over 80%
      // of the corpus and the rest appended against the persisted
      // frozen centroids/codebook (cost ∝ batch: two broadcast joins,
      // new files under the existing codes/cid= partitions — see the
      // annAppendIndex fixture). The timed body serves the same 8-query
      // batch as q176; the oracle is q102's VERBATIM, so the hash
      // matches iff append-encoded codes and list routing are
      // byte-identical to a full one-shot build over the union corpus.
      serveAnn(s, dir, annAppendIndex(s, dir))
    }),
    "q180_neardup_admit" -> ((s, dir) => {
      // NEAR-dup admission against the persisted band index (round 15 —
      // the missing half of the ingest story: a daily crawl dedups
      // near-dups, not just exact re-fetches). Batch = doc_id % 5 == 0;
      // the % 20 == 15 docs carry batch sibling (doc_id − 10)'s text
      // (novel text seen twice in the batch → the sibling admits or
      // resolves naturally, the copy is at least dup_batch); the
      // NATURAL cross-split near-dups (q172 finds 14 verified pairs at
      // sf0.01) drive dup_corpus. LSH candidates from the index probe
      // are VERIFIED by exact 3-gram Jaccard at θ=0.5 — candidate
      // corpus texts fetched from the doc store by broadcast semi-join,
      // cost ∝ candidates. The oracle re-derives the TRUE verified pair
      // set exhaustively and applies the same status rule, so the hash
      // matches iff LSH recall is total AND the admission rule agrees.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val sib = docs.select((col("doc_id") + 10).as("doc_id"),
        col("text").as("_bt"))
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .join(sib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(20)) === 15 && col("_bt").isNotNull,
            col("_bt")).otherwise(col("text")).as("text"))
      operators.DedupIndex.admitNearDupAgainstIndex(batch, "text",
          "doc_id", s"$root/minhash", s"$root/docstore",
          k = 64, bands = 16, shingleN = 3, thetaBp = 5000L)
        .select(col("doc_id"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("doc_id")
    }),
    "q181_stream_neardup_ingest" -> ((s, dir) => {
      // §2.9: STREAMING near-dup ingest — q174's file-source
      // pipeline with kind=minhash: each micro-batch is admitted by
      // LSH-candidates → exact-Jaccard verify against the CURRENT band
      // index + doc store, and admitted docs' band rows AND texts are
      // appended between batches (cross-batch near-dedup at
      // batch-proportional cost). Same plants as q174 (% 10 == 0
      // re-fetch → dup_corpus; % 20 == 15 batch sibling → dup_batch),
      // which near-dup verification also catches (J = 1); natural
      // near-dups surface as additional dup rows the oracle re-derives.
      // Index + doc store built fresh per invocation (the stream
      // appends — the shared fixture must not mutate). Single
      // AvailableNow batch = deterministic; multi-batch admission is
      // spec-tested (DedupIndexSpec).
      val root = freshRoot("q181")
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      operators.FanOut.inParallel(
        () => operators.DedupIndex.writeMinHashIndex(corpus, "text",
          "doc_id", s"$root/minhash", k = 64, bands = 16, shingleN = 3),
        () => corpus.select(col("doc_id"), col("text"))
          .write.parquet(s"$root/docstore"))
      val stream = tableStream(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
      val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("_nt"))
      val sib = docs.select((col("doc_id") + 10).as("doc_id"),
        col("text").as("_bt"))
      val planted = stream
        .join(neigh, Seq("doc_id"), "left")
        .join(sib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
            col("_nt"))
            .when(pmod(col("doc_id"), lit(20)) === 15 && col("_bt").isNotNull,
              col("_bt"))
            .otherwise(col("text")).as("text"))
      graft.streaming.StreamingOps.dedupIngestStream(planted, "text",
        "doc_id", s"$root/minhash", s"$root/out", kind = "minhash",
        docStorePath = s"$root/docstore", k = 64, bands = 16,
        shingleN = 3, thetaBp = 5000L)
      s.read.parquet(s"$root/out/status")
        .select(col("doc_id"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("doc_id")
    }),
    "q185_embed_admit" -> ((s, dir) => {
      // SemDeDup-style EMBEDDING near-dup admission (round 15 — the
      // admission trilogy's semantic member, after exact q174 and
      // text-near-dup q180/q181): a 16-vector batch — 8 natural novel
      // vectors plus 8 RE-EMBEDDED corpus copies (vec 100–107's
      // embeddings re-idied 8–15: the "same content re-crawled through
      // the same embedding model" plant) — is admitted against the
      // persisted corpus index: probed-fraction ADC shortlist (q176),
      // top-1 EXACT cosine re-score on the raw vector store (q175),
      // dup_corpus iff ≥ τ = 0.999. The oracle re-derives the whole
      // serve+rerank pipeline and the rule, so a flagged dup is backed
      // by an exact cosine both engines computed.
      val root = annAdmitIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 16)
      val batch = emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id").between(100, 107))
          .select((col("vec_id") - 92).as("vec_id"), col("embedding")))
      operators.AnnIndex.admitEmbeddingsAgainstIndex(batch, corpus, root,
          m = 8, dim = 64, shortK = 20, nProbe = 2, twoLevel = true,
          tauBp = 9990L)
        .select(col("vec_id"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("vec_id")
    }),
    "q186_stream_embed_ingest" -> ((s, dir) => {
      // §2.9 semantic ingest: q185's admission THROUGH a real
      // file-source streaming query — per micro-batch semantic near-dup
      // admission against the current ANN index + vector store, admitted
      // vectors extending both exactly-once/append between batches. Same
      // corpus split and re-embedded-copy plants as q185 (stream-static
      // join swaps ids 8–15's embeddings for vec 100–107's), one
      // AvailableNow batch = deterministic; multi-batch cross-admission
      // is spec-tested. Index + store built fresh per invocation (the
      // stream appends — the shared q185 fixture must not mutate).
      val root = freshRoot("q186")
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 16)
      operators.FanOut.inParallel(
        () => writeAnn(emb, corpus, s"$root/ann"),
        () => corpus.select(col("vec_id"), col("embedding"))
          .write.parquet(s"$root/store"))
      val stream = tableStream(s, dir, "embeddings")
        .filter(col("vec_id") < 16)
      val repl = emb.filter(col("vec_id").between(100, 107))
        .select((col("vec_id") - 92).as("vec_id"),
          col("embedding").as("_re"))
      val planted = stream.join(repl, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("_re"), col("embedding")).as("embedding"))
      graft.streaming.StreamingOps.embedIngestStream(planted,
        s"$root/ann", s"$root/store", s"$root/out", m = 8, dim = 64,
        shortK = 20, nProbe = 2, twoLevel = true, tauBp = 9990L)
      s.read.parquet(s"$root/out/status")
        .select(col("vec_id"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("vec_id")
    }),
    "q184_stats_refresh_scan" -> ((s, dir) => {
      // S5 maintained INCREMENTALLY: the q111 store written
      // in two eras — stats built over era 0, era 1 landing later as
      // appended fragments that StatsIndex.refresh picks up at
      // new-files-only cost (listing + fragment scan, never a store
      // re-scan). The timed body is q111's pruned-scan path planned
      // from the refresh-maintained table; the oracle recomputes from
      // raw events, so a refresh that misses a new fragment (wrong
      // counts) or resurrects a stale row breaks the hash.
      statsPrunedScan(s, statsStore(s, dir, refresh = true))
    }),
    "q183_ann_stream_ingest" -> ((s, dir) => {
      // §2.9 × the ANN index: STREAMING vector ingest — q179's
      // 20% split arrives through a real file-source streaming query
      // and is encoded exactly-once into codes_stream/ (per-batch
      // partition overwrite — replays rewrite, never duplicate; the
      // idempotence the batch append cannot offer). The timed body
      // serves over base + streamed codes (two partition-pruned
      // branches, one ranker); oracle = q102's VERBATIM, so the hash
      // matches iff the streaming encode path is byte-identical to a
      // one-shot build over the union.
      serveAnn(s, dir, annStreamIndex(s, dir))
    }),
    "q182_bloom_index_probe" -> ((s, dir) => {
      // PERSISTED decontamination bloom mask + batch probe (round 15):
      // q82's bloom semantics with the reference side amortized — the
      // benchmark set's (src0) gram mask lives in the index (one 128 KB
      // row, cached fixture), and the timed body is a pure batch scan:
      // mask broadcasts, 4 codegen'd bit tests per gram, per-doc
      // contamination report. No reference re-derivation, no
      // gram-keyed shuffle anywhere. Oracle rebuilds the identical
      // md5-position mask in DuckDB — false positives match too; false
      // negatives are impossible.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      operators.DedupIndex.bloomContaminationAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text",
          "doc_id", s"$root/bloom", n = 3)
        .orderBy("doc_id")
    }),
    "q187_tombstone_admit" -> ((s, dir) => {
      // INDEX DELETION / takedown (round 16): exact-dedup admission
      // against an index with planted tombstones. Corpus = doc_id % 5
      // != 0 indexed fresh per invocation (deletion mutates); the
      // % 20 == 1 keepers are then taken down (deleteDocs). Batch =
      // the q173 re-fetch plant (% 10 == 0 docs carry corpus neighbor
      // doc_id + 1's text): batch docs % 20 == 0 re-fetch a DELETED
      // neighbor (id % 20 == 1) and must now ADMIT — the takedown
      // semantics — while % 20 == 10 re-fetches (neighbor % 20 == 11,
      // alive) stay dup_corpus. The oracle re-derives the admission
      // rule over the surviving keeper set, so the hash matches iff
      // the tombstone anti-join excludes exactly the deleted keepers.
      val root = freshRoot("q187")
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      operators.DedupIndex.writeExactIndex(corpus, "text", "doc_id",
        s"$root/exact")
      operators.DedupIndex.deleteDocs(
        corpus.filter(pmod(col("doc_id"), lit(20)) === 1).select("doc_id"),
        s"$root/exact")
      val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("_nt"))
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
            col("_nt")).otherwise(col("text")).as("text"))
      operators.DedupIndex.admitAgainstIndex(batch, "text", "doc_id",
          s"$root/exact")
        .select(col("doc_id"), col("status"),
          col("keep_id").cast("long").as("keep_id"))
        .orderBy("doc_id")
    }),
    "q188_ann_tombstone_serve" -> ((s, dir) => {
      // ANN takedown: q176's serve over an index whose
      // vec_id % 7 == 3 slice was deleted (cached fixture — the
      // tombstone write is index maintenance, the timed body is the
      // filtered serve: one broadcast anti-join on the scored pairs).
      // Oracle = q102's grammar restricted to surviving nids, so the
      // hash matches iff served top-k equals a physically-rebuilt
      // survivor index's — deletion changes results, not just rows.
      serveAnn(s, dir, annTombIndex(s, dir))
    }),
    "q189_bloom_sharded_probe" -> ((s, dir) => {
      // SHARDED decontamination mask (round 16): q182's probe against
      // the scale-path index — src0's reference grams shard over 4
      // masks by an INDEPENDENT md5 slice (chars 21–25, disjoint from
      // the four bit-position slices), each gram testing only its own
      // shard's mask. The fixture mask is deliberately over-full for a
      // single mask (see dedupIndexes), so the oracle's exact
      // re-derivation of the sharded masks verifies the routing math
      // FP-for-FP — a gram probed against the wrong shard would flip
      // hits. The probe stays a pure batch scan: 4 × 256 B mask rows
      // broadcast on the shard key, 4 codegen'd bit tests per gram, no
      // gram-keyed shuffle at any corpus size.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      operators.DedupIndex.bloomContaminationAgainstShardedIndex(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text",
          "doc_id", s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
        .orderBy("doc_id")
    }),
    "q190_backfill_admit" -> ((s, dir) => {
      // BACKFILL plan mode (round 16): q173's exact-membership probe
      // with the broadcast budget forced to 0 at plan-construction
      // time, so the batch key set takes the memory-bounded SHUFFLE
      // path an oversized backfill batch switches to automatically
      // (DedupIndex.probeHint). Oracle = q173's VERBATIM — the hash
      // matches iff the shuffle-path plan is byte-identical to the
      // broadcast plan, oracling the fallback's join-order
      // independence, not just spec-asserting it.
      val root = dedupIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val neigh = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("_nt"))
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0 && col("_nt").isNotNull,
            col("_nt")).otherwise(col("text")).as("text"))
      s.conf.set(operators.DedupIndex.MaxBroadcastBytesKey, "0")
      try {
        operators.DedupIndex.exactDuplicatesAgainstIndex(batch, "text",
            "doc_id", s"$root/exact")
          .select(col("doc_id"), col("text_key"),
            col("keep_id").cast("long").as("keep_id"))
          .orderBy("doc_id")
      } finally s.conf.unset(operators.DedupIndex.MaxBroadcastBytesKey)
    }),
    "q191_ann_list_balance" -> ((s, dir) => {
      // ANN drift monitor (round 16): per-list occupancy of the shared
      // persisted index — the signal the documented re-train policy
      // watches (frozen-quantizer appends degrade list balance, not
      // correctness; rebuild cuts over when the hot-list factor breaks
      // the serving budget). The report reads ONLY the cid partition
      // column (footer-scale); the oracle re-derives the full two-level
      // corpus assignment and the integer share arithmetic, so the hash
      // matches iff the persisted lists hold exactly the vectors the
      // quantizer assigns.
      val root = annIndex(s, dir)
      operators.AnnIndex.listBalanceReport(s, root)
        .select(col("cid").cast("long").as("cid"), col("n_codes"),
          col("share_bp"), col("hot_factor_bp"))
        .orderBy("cid")
    }),
    "q196_ann_fold_serve" -> ((s, dir) => {
      // STREAM-FOLD: q183's stream-grown index with the
      // codes_stream partitions RETIRED into the base cid= layout
      // (foldStreamIntoCodes — marker-protocol swap, no crash point
      // double-counts or loses a streamed row). Serving is back to ONE
      // partition-pruned scan branch; oracle = q102's VERBATIM, so the
      // hash matches iff the fold preserved every code row exactly.
      serveAnn(s, dir, annFoldIndex(s, dir))
    }),
    "q195_ann_hot_split" -> ((s, dir) => {
      // HOT-LIST SPLIT: serving against the post-split
      // structure — the list-proportional rebalance between full
      // re-train cutovers (see annSplitIndex: a planted drift clump
      // trips the 4× hot factor; splitHotLists re-clusters ONLY that
      // list into two seeded children, PQ codes untouched). The oracle
      // re-derives the whole post-split geometry from first principles,
      // so the hash matches iff detection, seeding, child-id
      // allocation, local re-assignment AND the post-split probe all
      // agree exactly.
      serveAnn(s, dir, annSplitIndex(s, dir, twoLevel = false), twoLevel = false)
    }),
    "q198_ann_twolevel_split" -> ((s, dir) => {
      // TWO-LEVEL HOT-SPLIT: the production-scale geometry
      // (two-level = the ~N^¼-broadcast configuration) gets the local
      // rebalance too — sound because the build persists the super set,
      // so the split's children enter one frozen super's group and no
      // unrelated probe re-routes (see annSplitIndex). The oracle
      // re-derives supers from the ORIGINAL centroid set, the baked
      // two-level assignment, the whole split, and the post-split
      // two-level probe over the re-derived centroid→super map.
      serveAnn(s, dir, annSplitIndex(s, dir, twoLevel = true))
    }),
    "q197_maintenance_tick_serve" -> ((s, dir) => {
      // MAINTENANCE AUTOPILOT: an index with all three debt
      // kinds — unfolded stream batch, pending takedown tombstones, a
      // hot drift clump — resolved by ONE maintenanceTick call (fold →
      // compact → split, decided and ordered by the tick; see
      // annTickIndex). Serving the post-tick structure against q195's
      // split grammar over the SURVIVORS: the hash matches iff the
      // autopilot's ordering and each performed action are exactly the
      // hand-called operators' semantics.
      serveAnn(s, dir, annTickIndex(s, dir), twoLevel = false)
    }),
    "q194_ann_balance_footers" -> ((s, dir) => {
      // FOOTER-METADATA drift monitor (round 17): q191's report
      // computed from parquet row-group metadata alone — per-list
      // counts come from each file's footer keyed by its cid=
      // partition dir, read directly through the FS and distributed
      // over the cluster; NO Spark scan machinery touches the files.
      // The round-16 honest negative (the scan report was no cheaper
      // than a data scan at toy file sizes) is inverted: footers cost
      // one metadata read per file at ANY file granularity — the
      // reference's footer-only planning (make-metadata.py:13-18).
      // Oracle = q191's VERBATIM: the footer path must produce the
      // byte-identical report.
      val root = annIndex(s, dir)
      operators.AnnIndex.listBalanceReportFromFooters(s, root)
        .select(col("cid").cast("long").as("cid"), col("n_codes"),
          col("share_bp"), col("hot_factor_bp"))
        .orderBy("cid")
    }),
    "q192_bloom_append_probe" -> ((s, dir) => {
      // GROWING decontamination reference (round 16): the sharded mask
      // is built over HALF of src0 (doc_id % 2 == 0), the other half
      // arrives later as an appendToBloomIndexSharded OR-merge (a newly
      // released benchmark joining the reference set — no rebuild over
      // the union). Fresh per invocation (append mutates). Oracle =
      // q189's VERBATIM over the FULL src0 reference, so the hash
      // matches iff the OR-append is byte-equivalent to the one-shot
      // union build — any dropped or doubled bit flips an FP.
      val root = freshRoot("q192")
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("source") === "src0")
      operators.DedupIndex.writeBloomIndexSharded(
        ref.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id",
        s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
      operators.DedupIndex.appendToBloomIndexSharded(
        ref.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id",
        s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
      operators.DedupIndex.bloomContaminationAgainstShardedIndex(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text",
          "doc_id", s"$root/bloomsh", n = 3, shards = 4, mBits = 2048)
        .orderBy("doc_id")
    }),
    "q199_pipeline_tick" -> ((s, dir) => {
      // PIPELINE-SCOPE MAINTENANCE AUTOPILOT: a five-kind
      // pipeline with pending debts on EVERY root (deletions ≡ 3 mod
      // 20, an unfolded ANN stream batch) resolved by ONE pipelineTick
      // call — row-wise compactions, ANN fold + compact, store-fed
      // anchor/bloom rebuilds, stores compacted LAST so the rebuilds'
      // propagated tombstones are absorbed in the same pass (the
      // fixture require()s the exact nine-action order and zero
      // pending residue via the healthy re-tick in specs). The timed
      // body probes all five surfaces (q193's grammar); the oracle
      // re-derives each over the survivors, so the hash matches iff
      // every autopilot action equals the hand-called operator's.
      probePipeline(s, dir, pipelineTickFixture(s, dir))
    }),
    "q193_takedown_pipeline" -> ((s, dir) => {
      // ONE-CALL MULTI-INDEX TAKEDOWN: the fixture runs a
      // single Takedown(ids ≡ 1 mod 20) across a pipeline holding ALL
      // FIVE index kinds + three stores — row-wise kinds tombstoned,
      // anchor + sharded-bloom REBUILT from their stores with the
      // deletions applied. The timed body probes every surface once
      // (exact admission, verified near-dup admission, anchored spans,
      // sharded-bloom contamination, ANN top-k serve), results
      // normalized to (surface, id, a, b, s); the oracle re-derives
      // each surface's truth over the SURVIVING corpus, so the hash
      // matches iff the one call scrubbed every path — nothing serves
      // deleted content, nothing over-deletes survivors.
      probePipeline(s, dir, takedownPipeline(s, dir))
    }),
    "q106_canonical_keep" -> ((s, dir) => {
      // the keep rule after dedup clustering: one surviving doc per
      // component (best quality = longest, ties → smallest id) via a
      // max_by hash agg — never a window over the corpus; pairs from the
      // same exact block-scoped prefix filter as q35 (no all-pairs block
      // join, no LSH recall gamble)
      val docs = t(s, dir, "documents")
      val nearDups = Dedup.prefixJaccardJoin(docs, "text", "doc_id",
          shingleN = 1, thetaBp = 5000L, blockCols = Seq("lang", "source"))
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(docs, "doc_id", nearDups)
      Dedup.canonicalKeep(comp, docs, "doc_id", "n_chars")
        .select(col("component"), col("group_size"), col("kept_id"),
          col("kept_quality").cast("long").as("kept_quality"))
        .orderBy("component")
    }),
    "q107_sparql_filter" -> ((s, dir) => {
      // §2.8 FILTER: numeric comparison (typed-literal dispatch — the
      // string "999999" compares as a NUMBER because the other operand is
      // a numeric literal) && regex, both pushed into the BGP plan as
      // ordinary Catalyst predicates on the joined bindings
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b ?m WHERE { " +
          "?c p:balCents ?b . ?c p:mkt ?m . " +
          "FILTER(?b > 900000 && regex(?m, \"^BUI\")) }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("c")
    }),
    "q108_sparql_optional" -> ((s, dir) => {
      // §2.8 OPTIONAL with an inner FILTER — SPARQL LeftJoin(P1, P2, F):
      // the filter conditions the MATCH, never drops the left row, so
      // customers at/below the threshold survive with ?b unbound. The
      // unbound NULL is sentinel-filled only for engine-portable hashing;
      // SparqlSpec asserts the raw NULL semantics.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?b WHERE { " +
          "?c p:inNation ?n . " +
          "OPTIONAL { ?c p:balCents ?b . FILTER(?b > 500000) } }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
        .na.fill("unbound", Seq("b"))
        .orderBy("c")
    }),
    "q110_sparql_union" -> ((s, dir) => {
      // §2.8 UNION: branch BGPs with branch-scoped FILTERs, solutions
      // concatenated (bag union) with each branch's unshared var unbound
      // — sentinel-filled for engine-portable hashing (raw NULL semantics
      // are SparqlSpec-asserted)
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b ?m WHERE { " +
          "{ ?c p:balCents ?b . FILTER(?b > 950000) } UNION " +
          "{ ?c p:mkt ?m . FILTER(STRSTARTS(?m, \"BUI\")) } }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
        .na.fill("unbound", Seq("b", "m"))
        .orderBy("c", "b", "m")
    }),
    "q113_sparql_agg" -> ((s, dir) => {
      // §2.8 aggregates: GROUP BY + COUNT with a HAVING cut (inline
      // aggregate call) and ORDER BY DESC — the "points per equipment
      // class" shape every Brick user writes. Post-BGP this is a plain
      // Catalyst hash aggregate on the joined bindings: partial agg
      // map-side, one shuffle on the group key.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?n (COUNT(?c) AS ?cnt) WHERE { " +
          "?c p:inNation ?n . } GROUP BY ?n HAVING(COUNT(?c) >= 50) " +
          "ORDER BY DESC(?cnt) ?n")
      BgpPlanner.evaluate(tpchQuads(s, dir, "inNation", "inRegion"), q)
    }),
    "q157_sparql_var_predicate" -> ((s, dir) => {
      // variable predicates (round 11): the store-introspection query
      // every RDF user writes first — predicate histogram via `?s ?p ?o`.
      // The verb var binds the quads relation's own p column; the plan is
      // a scan + hash aggregate (no predicate pushdown EXISTS to miss —
      // the query names none).
      val q = Sparql.parse(
        "SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . } " +
          "GROUP BY ?p ORDER BY ?p")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q158_sparql_lang_tags" -> ((s, dir) => {
      // language-tagged literals (round 11): LANG() extraction +
      // LANGMATCHES RFC-4647 prefix filtering ("en" admits en and en-GB,
      // rejects de), with the rdflib-parity boundary stripping the tag
      // from the projected label. The tag survives evaluation (FILTER and
      // BIND see it); only the outermost SELECT projects through str().
      val q = Sparql.parse(
        "SELECT ?s ?name ?lang WHERE { ?s <urn:p#label> ?name . " +
          "BIND(LANG(?name) AS ?lang) " +
          "FILTER LANGMATCHES(LANG(?name), \"en\") } ORDER BY ?s")
      BgpPlanner.evaluate(litQuads(s, dir), q)
    }),
    "q159_sparql_typed_literals" -> ((s, dir) => {
      // typed literals (round 11): a custom-datatype term keeps its
      // annotation through evaluation — DATATYPE() recovers the IRI,
      // STR() the lexical — and STRLANG/STRDT construct annotated terms
      // whose accessors round-trip. All six projected columns exercise a
      // different accessor/constructor path over the same binding row.
      val q = Sparql.parse(
        "SELECT ?s ?dt ?bal ?flang ?tdt WHERE { " +
          "?s <urn:p#bal> ?b . ?s <urn:p#code> ?c . " +
          "BIND(DATATYPE(?b) AS ?dt) BIND(STR(?b) AS ?bal) " +
          "BIND(STRLANG(?c, \"fr\") AS ?f) BIND(LANG(?f) AS ?flang) " +
          "BIND(STRDT(?c, <urn:t#code>) AS ?tc) " +
          "BIND(DATATYPE(?tc) AS ?tdt) } ORDER BY ?s")
      BgpPlanner.evaluate(litQuads(s, dir), q)
    }),
    "q156_sparql_post_values" -> ((s, dir) => {
      // §18.2.4.7 trailing VALUES (round 11): the block joins the
      // SOLUTION SEQUENCE — after GROUP BY/COUNT, before order/slice —
      // the parameterized-report idiom (same query, caller-supplied key
      // list). Plan: hash aggregate, then a broadcast LocalRelation join.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?m (COUNT(?c) AS ?n) WHERE { " +
          "?c p:mkt ?m . ?c p:balCents ?b . FILTER(?b > 900000) } " +
          "GROUP BY ?m ORDER BY ?m " +
          "VALUES ?m { \"BUILDING\" \"MACHINERY\" \"AUTOMOBILE\" }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q160_sparql_numeric_minmax" -> ((s, dir) => {
      // numeric MIN/MAX dispatch (round 12, §18.5.1's ORDER-BY-`<`):
      // balCents terms are all numeric, so the extremes compare by VALUE
      // and keep the TERM — codepoint order would answer wrong on any
      // group whose lexical widths differ ("99999" vs "100000"). Plan:
      // one hash aggregate (min_by/max_by are map-side-combinable).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?m (MIN(?b) AS ?lo) (MAX(?b) AS ?hi) " +
          "(COUNT(?c) AS ?n) WHERE { ?c p:mkt ?m . ?c p:balCents ?b . } " +
          "GROUP BY ?m ORDER BY ?m")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q161_sparql_numeric_order" -> ((s, dir) => {
      // §15.1 numeric ordering (round 12): ORDER BY over an all-numeric
      // column sorts by VALUE — observable through the LIMIT slice (the
      // top-5 balances, not the lexically-largest strings). The IRI
      // secondary key makes ties deterministic on both engines.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b WHERE { ?c p:balCents ?b . } " +
          "ORDER BY DESC(?b) ?c LIMIT 5")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q162_substring_dedup" -> ((s, dir) => {
      // ExactSubstr-style duplicated-span detection (Lee et al.
      // 2107.06499): maximal per-doc character ranges covered by
      // 40-grams occurring >= 2 times corpus-wide — the byte ranges the
      // paper's dedup would cut. Exact gram equality (no hash step), one
      // gram shuffle + per-doc island windows.
      TextOps.duplicateSpans(t(s, dir, "documents"), "text", "doc_id",
          minLen = 40)
        .orderBy("doc_id", "span_start")
    }),
    "q165_substring_dedup_capped" -> ((s, dir) => {
      // q162 with the hot-gram cap armed (round 13): grams above the cap
      // are skip-listed out of the count window and emitted as hits
      // directly — byte-identical results (cap ≥ 2 ⇒ a capped gram IS a
      // duplicate), but no window partition can exceed the cap, so
      // boilerplate ("all rights reserved…" in half the corpus) costs a
      // broadcast probe instead of a straggler partition. The oracle is
      // q162's grammar verbatim: the cap is an execution strategy, not a
      // semantics change.
      TextOps.duplicateSpans(t(s, dir, "documents"), "text", "doc_id",
          minLen = 40, hotGramCap = 50L)
        .orderBy("doc_id", "span_start")
    }),
    "q164_substring_dedup_anchored" -> ((s, dir) => {
      // the winnowing-anchored ExactSubstr detector — q162's scale lever
      // as a first-class query: anchors are the window-min token 3-grams
      // (w=4), so any shared run of >= 6 tokens is guaranteed found at
      // ~2/(w+1) of the stride-1 gram volume; anchors count by exact
      // gram text. Token-position spans.
      TextOps.duplicateSpansAnchored(t(s, dir, "documents"), "text",
          "doc_id", k = 3, w = 4)
        .orderBy("doc_id", "tok_start")
    }),
    "q163_substring_cut" -> ((s, dir) => {
      // the ExactSubstr CUT phase over q162's spans: every duplicated
      // range removed from every doc (all occurrences, per the paper),
      // untouched docs pass through — the output corpus an ExactSubstr
      // pipeline trains on. n_cut makes the char accounting visible.
      val docs = t(s, dir, "documents")
      val spans = TextOps.duplicateSpans(docs, "text", "doc_id", minLen = 40)
      TextOps.cutSpans(docs, "text", "doc_id", spans)
        .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("_n")), "doc_id")
        .select(col("doc_id"), col("clean_text"),
          (col("_n") - length(col("clean_text"))).as("n_cut"))
        .orderBy("doc_id")
    }),
    "q166_substring_cut_anchored" -> ((s, dir) => {
      // the deployable ExactSubstr pipeline end-to-end (round 13): the
      // winnowing-anchored detector — the only detection path whose
      // gram volume works at 100 TB — emits CHAR spans (token offsets
      // carried through the explode) and feeds the SAME cut machinery
      // as q163: every anchored-detected duplicated range removed from
      // every doc, untouched docs pass through, n_cut makes the char
      // accounting visible.
      val docs = t(s, dir, "documents")
      val spans = TextOps.duplicateSpansAnchoredChars(docs, "text",
        "doc_id", k = 3, w = 4)
      TextOps.cutSpans(docs, "text", "doc_id", spans)
        .join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("_n")), "doc_id")
        .select(col("doc_id"), col("clean_text"),
          (col("_n") - length(col("clean_text"))).as("n_cut"))
        .orderBy("doc_id")
    }),
    "q168_substring_cut_anchored_capped" -> ((s, dir) => {
      // q166 with the hot-ANCHOR cap armed (round 13): winnowing reduces
      // gram volume but does not de-skew — every copy of a boilerplate
      // header selects the same anchor — so the 100 TB deployment runs
      // the anchored detector WITH the skip-list. Byte-identical results
      // (cap ≥ 2 ⇒ a capped anchor is a duplicate); the oracle is q166's
      // grammar verbatim.
      val docs = t(s, dir, "documents")
      val spans = TextOps.duplicateSpansAnchoredChars(docs, "text",
        "doc_id", k = 3, w = 4, hotAnchorCap = 50L)
      TextOps.cutSpans(docs, "text", "doc_id", spans)
        .join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("_n")), "doc_id")
        .select(col("doc_id"), col("clean_text"),
          (col("_n") - length(col("clean_text"))).as("n_cut"))
        .orderBy("doc_id")
    }),
    "q167_sparql_isiri" -> ((s, dir) => {
      // §17.4.1 term-class tests (round 13): the quoted string-literal
      // encoding makes isIRI/isLiteral decidable from stored bytes — the
      // classic Brick idiom of separating POINTS (IRIs) from LABELS
      // (literals) in one variable-predicate scan. Keeps IRI objects
      // (inNation edges) plus non-numeric literals (market segments);
      // numeric literals (balCents) drop via isNumeric.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?o WHERE { ?c ?p ?o . " +
          "FILTER(isIRI(?o) || (isLiteral(?o) && !isNumeric(?o))) }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("c", "o")
    }),
    "q114_sparql_values_minus" -> ((s, dir) => {
      // §2.8 VALUES + MINUS + LIMIT/OFFSET: the inline id list becomes a
      // broadcast join into the pattern scan (the parameterized-query
      // plan), MINUS a left-anti join on the shared variable, and the
      // ORDER BY ?c total order makes the OFFSET/LIMIT slice exact
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n WHERE { " +
          "?c p:inNation ?n . VALUES ?n { <urn:n#1> <urn:n#4> <urn:n#9> } " +
          "MINUS { ?c p:mkt \"BUILDING\" } } ORDER BY ?c LIMIT 50 OFFSET 10")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q119_cross_decontaminate" -> ((s, dir) => {
      // GPT-3-style fuzzy decontamination (2005.14165 App. C): exact
      // 13-gram collisions between a held-out corpus (source src0) and
      // the train split — catches test passages EMBEDDED in train docs,
      // which whole-doc exact/Bloom decontamination cannot. Inverted-
      // index join on shingle hashes; pairs sharing ≥1 gram only.
      val docs = t(s, dir, "documents")
      Dedup.crossNgramOverlap(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", shingleN = 13)
        .orderBy("test_id", "train_id")
    }),
    "q118_minhash_fused" -> ((s, dir) => {
      // q19's MinHash→LSH→exact-verify pipeline through the FUSED per-row
      // signature kernel (functions/MinHash.scala): zero signature
      // shuffle vs the explode shape. Signatures are bit-identical
      // (differential-spec'd), so the recall-gate oracle is q19's.
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccard(
        Dedup.minhashCandidates(docs, "text", "doc_id", k = 64, bands = 16,
          fused = true),
        docs, "text", "doc_id", shingleN = 3, minThetaBp = Some(5000L))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .orderBy("id_a", "id_b")
    }),
    "q117_dup_ngrams" -> ((s, dir) => {
      // cross-document repetition signal (Lee et al. 2107.06499): per-doc
      // fraction of 3-gram positions whose gram appears in ≥2 distinct
      // docs — catches boilerplate that whole-doc dedup misses. Exact
      // integer basis points; only the heavily-templated tail (≥70%).
      TextOps.corpusDupNgrams(t(s, dir, "documents"), "text", "doc_id",
          n = 3, minDocs = 2)
        .filter(col("dup_bp") >= 7000)
        .orderBy("doc_id")
    }),
    "q115_sparql_bind" -> ((s, dir) => {
      // §2.8 BIND: string builtins (STRAFTER extracts the key from the
      // IRI — the id-extraction idiom every Brick query ends with) +
      // integer arithmetic + CONCAT over an earlier alias. All pure
      // codegen'd projections over the joined bindings — zero shuffles
      // beyond the BGP join itself.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?key ?dbl ?tag WHERE { " +
          "?c p:balCents ?b . ?c p:mkt ?m . " +
          "BIND(STRAFTER(STR(?c), \"#\") AS ?key) " +
          "BIND(?b + ?b AS ?dbl) " +
          "BIND(CONCAT(LCASE(?m), \"-\", ?key) AS ?tag) " +
          "FILTER(?b > 900000) } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q149_sparql_select_expr" -> ((s, dir) => {
      // §2.8 SELECT expressions (round 11, SPARQL 1.1 §18.2.4.4): a
      // non-aggregate `(expr AS ?x)` in the projection — desugared by the
      // parser to a trailing BIND (identical Extend algebra for ungrouped
      // queries), so it rides the same codegen'd projection path.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> " +
          "SELECT ?c (?b + ?b AS ?dbl) (CONCAT(\"seg:\", LCASE(?m)) AS ?tag) " +
          "WHERE { ?c p:balCents ?b . ?c p:mkt ?m . " +
          "FILTER(?b > 900000) } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q150_sparql_substr_replace" -> ((s, dir) => {
      // §2.8 SUBSTR/REPLACE (round 11, §17.4.3): SUBSTR slices the IRI's
      // key digits (XPath 1-based = Spark substring), REPLACE rewrites
      // the market segment with a group reference — both codegen'd
      // projections over the joined bindings.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?head ?seg WHERE { " +
          "?c p:balCents ?b . ?c p:mkt ?m . " +
          "BIND(SUBSTR(STRAFTER(STR(?c), \"#\"), 1, 2) AS ?head) " +
          "BIND(REPLACE(LCASE(?m), \"^([a-z])\", \"seg-$1\") AS ?seg) " +
          "FILTER(?b > 900000) } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q152_sparql_numeric_fns" -> ((s, dir) => {
      // §2.8 numeric builtins (round 11, §17.4.4): ABS on the exact long
      // path; ROUND over a division result exercises the XPath
      // half-toward-+∞ rule on the xsd:double lexical — all codegen'd
      // column algebra over the joined bindings, no UDF.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?dist ?r7 WHERE { " +
          "?c p:balCents ?b . FILTER(isNumeric(?b)) " +
          "BIND(ABS(?b - 500000) AS ?dist) " +
          "BIND(ROUND(?b / 7) AS ?r7) " +
          "FILTER(?dist > 400000) } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q153_sparql_hash_uri" -> ((s, dir) => {
      // §2.8 hash + URI builtins (round 11, §17.4.6/§17.4.3.10): MD5 and
      // SHA256 of UTF-8 lexicals (Spark's codegen'd digest exprs), and
      // ENCODE_FOR_URI via the custom codegen'd Catalyst expression
      // (fn:encode-for-uri is neither URLEncoder nor url_encode —
      // functions/UriEncode.scala).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?h ?h2 ?e WHERE { " +
          "?c p:mkt ?m . ?c p:balCents ?b . FILTER(?b > 980000) " +
          "BIND(MD5(?m) AS ?h) " +
          "BIND(SHA256(CONCAT(?m, \"#\", ?c)) AS ?h2) " +
          "BIND(ENCODE_FOR_URI(CONCAT(?m, \" \", ?c)) AS ?e) " +
          "} ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q154_sparql_datetime" -> ((s, dir) => {
      // §2.8 dateTime accessors (round 11, §17.4.5): components are read
      // STRUCTURALLY from the literal's lexical form (its own timezone's
      // clock — a timestamp cast would shift into the session zone and
      // diverge from XPath's accessor semantics).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?o ?y ?hh ?mm ?sec ?tz WHERE { " +
          "?o p:placedAt ?t . " +
          "FILTER(MONTH(?t) = 3) FILTER(DAY(?t) <= 5) " +
          "BIND(YEAR(?t) AS ?y) BIND(HOURS(?t) AS ?hh) " +
          "BIND(MINUTES(?t) AS ?mm) BIND(SECONDS(?t) AS ?sec) " +
          "BIND(TZ(?t) AS ?tz) } ORDER BY ?o")
      BgpPlanner.evaluate(orderQuads(s, dir), q)
    }),
    "q126_bpe_merges" -> ((s, dir) => {
      // distributed BPE tokenizer training (Sennrich 1508.07909): the
      // corpus is touched ONCE (word-freq hash agg to the Heaps-law-
      // sublinear distinct-word relation); every merge round then runs on
      // that vocab-sized relation only — explode bigrams, map-side-
      // combinable count, 1-row argmax to the driver, one codegen'd
      // regexp rewrite. Iterative (argmax feeds the next round) → no SQL
      // oracle CAN pin the result: the merge table is a pure function of
      // the corpus, so the expected relation is a literal VALUES oracle
      // generated by an INDEPENDENT (non-Spark) implementation of the
      // paper's algorithm over the same parquet — BpeSpec additionally
      // proves trainer AND encoder bit-equal to a plain-Scala
      // transcription on arbitrary corpora. lhs/rhs instead of the
      // reserved words left/right so the oracle needs no quoting.
      // Merges come from the per-dir cache shared with q133's encoder.
      val spark2 = s
      import spark2.implicits._
      bpeMergesFor(s, dir)
        .map(m => (m.rank, m.left, m.right, m.freq))
        .toDF("rank", "lhs", "rhs", "freq")
        .orderBy("rank")
    }),
    "q128_sparql_nested_optional" -> ((s, dir) => {
      // §2.8 nested groups (round 9): OPTIONAL inside OPTIONAL — SPARQL
      // algebra LeftJoin(P1, LeftJoin(P2, P3, F_in), F_out). The inner
      // left-join runs INSIDE the outer group, so ?m can only bind where
      // ?b did; both filters condition their own join, never dropping
      // left rows. Two broadcast left joins over graph-sized relations —
      // no new shuffle shape vs flat OPTIONAL. Unbound → sentinel-filled
      // for engine-portable hashing (raw NULLs spec-asserted).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?b ?m WHERE { " +
          "?c p:inNation ?n . " +
          "OPTIONAL { ?c p:balCents ?b . FILTER(?b > 500000) " +
          "OPTIONAL { ?c p:mkt ?m . FILTER(?m != \"BUILDING\") } } }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
        .na.fill("unbound", Seq("b", "m"))
        .orderBy("c")
    }),
    "q129_sparql_graph_var" -> ((s, dir) => {
      // §2.8 GRAPH ?g (round 9): the graph column rides every atom as a
      // join variable, so both patterns must match within the SAME named
      // graph and ?g joins the projection — the reference's per-building
      // graph scoping (setup-graphs.py:13-19) as a query construct
      // instead of an API parameter
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?g ?c ?b WHERE { " +
          "GRAPH ?g { ?c p:balCents ?b . ?c p:mkt \"BUILDING\" . " +
          "FILTER(?b > 900000) } }")
      BgpPlanner.evaluate(graphQuads(s, dir), q).orderBy("g", "c")
    }),
    "q130_sparql_graph_iri" -> ((s, dir) => {
      // §2.8 GRAPH <iri> with a NESTED OPTIONAL inside (round 9): the
      // constant-graph group re-scopes matching to one named graph's
      // triples and evaluates the full recursive group there — scoping +
      // nesting composed in one query
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b ?m WHERE { " +
          "GRAPH <urn:g#2> { ?c p:balCents ?b . FILTER(?b > 800000) " +
          "OPTIONAL { ?c p:mkt ?m . FILTER(?m != \"BUILDING\") } } }")
      BgpPlanner.evaluate(graphQuads(s, dir), q)
        .na.fill("unbound", Seq("m"))
        .orderBy("c")
    }),
    "q131_sparql_group_scoped" -> ((s, dir) => {
      // §2.8 group-scoped VALUES + BIND (round 9): the VALUES block joins
      // INSIDE the optional group (conditioning the match, not the outer
      // rows — a broadcast LocalRelation into the group's BGP), and the
      // BIND alias computed there surfaces through the left join only
      // where the group matched. Unbound → sentinel-filled for hashing.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?lbl WHERE { " +
          "?c p:inNation ?n . " +
          "OPTIONAL { ?c p:mkt ?m . VALUES ?m { \"BUILDING\" \"MACHINERY\" } " +
          "BIND(LCASE(?m) AS ?lbl) } }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
        .na.fill("unbound", Seq("lbl"))
        .orderBy("c")
    }),
    "q132_sparql_values_undef" -> ((s, dir) => {
      // §2.8 VALUES with UNDEF (§10.2.2, round 9): each row constrains
      // only its DEFINED cells — (n#1, UNDEF) admits any segment within
      // nation 1, (UNDEF, BUILDING) admits any nation with segment
      // BUILDING — and a solution compatible with BOTH rows appears twice
      // (bag join). Compiles to a broadcast nested-loop over the 2-row
      // LocalRelation with a null-or-equal condition per column.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?m WHERE { " +
          "?c p:inNation ?n . ?c p:mkt ?m . " +
          "VALUES (?n ?m) { (<urn:n#1> UNDEF) (UNDEF \"BUILDING\") } }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("c", "n", "m")
    }),
    "q133_bpe_encode" -> ((s, dir) => {
      // BPE APPLICATION at corpus scale (the q126 trainer's other half):
      // merges learned from the FULL corpus replay per DISTINCT word
      // (chained codegen'd rewrites), then the word→tokens map broadcast-
      // joins back onto the rows — the chained-rewrite cost is paid
      // |vocab| times, not |corpus| times. Oracle pins per-doc token
      // counts + the first 5 tokens for doc_id < 20, generated by the
      // same independent non-Spark implementation as q126's merge table.
      val docs = t(s, dir, "documents")
      operators.Bpe.encode(docs.filter(col("doc_id") < 20),
          "doc_id", "text", bpeMergesFor(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(" ", slice(col("tokens"), 1, 5)).as("head_toks"))
        .orderBy("doc_id")
    }),
    "q134_sparql_division" -> ((s, dir) => {
      // §2.8 BIND division (round 10, replacing a named rejection):
      // SPARQL §17.3 integer ÷ integer → xsd:decimal. Exact-integral
      // quotients render as plain integers (canonical decimal lexical);
      // fractional quotients as shortest-round-trip doubles — the /4
      // divisor keeps every fractional digit IEEE-exact (.25/.5/.75) so
      // engine and oracle agree digit-for-digit; ÷0 is a SPARQL error →
      // alias unbound on every row (sentinel-filled for portable hashing,
      // raw NULL spec-asserted in SparqlSpec). Pure codegen'd projection
      // over the BGP join — no new shuffle.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?quarter ?z WHERE { " +
          "?c p:balCents ?b . BIND(?b / 4 AS ?quarter) " +
          "BIND(?b / 0 AS ?z) FILTER(?b > 980000) } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
        .na.fill("unbound", Seq("z"))
    }),
    "q135_sparql_graph_structural" -> ((s, dir) => {
      // §2.8 nested structure inside GRAPH ?var (round 10): OPTIONAL +
      // FILTER within the graph-scoped body — evaluated per named graph
      // (the spec's own §13.3 definition) and bag-unioned with ?g bound
      // to the branch's graph name. The per-graph union is the right
      // shape HERE: quads are building metadata (5 graphs in this
      // fixture, one per site in the reference), not the 100 TB
      // timeseries; a >512-graph store is rejected loudly and the plain
      // BGP body keeps its single-plan path.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?g ?c ?m WHERE { " +
          "GRAPH ?g { ?c p:balCents ?b . FILTER(?b > 985000) " +
          "OPTIONAL { ?c p:mkt ?m . FILTER(?m != \"BUILDING\") } } } " +
          "ORDER BY ?c")
      BgpPlanner.evaluate(graphQuads(s, dir), q)
        .na.fill("unbound", Seq("m"))
    }),
    "q136_sparql_graph_in_optional" -> ((s, dir) => {
      // §2.8 GRAPH inside a sub-group (round 10): OPTIONAL { GRAPH ?g
      // { … } } — "which site has this point, if any". The inner body is
      // a plain BGP, so it keeps the single-plan graph-column path (one
      // plan regardless of graph count); the graph relation left-joins
      // the outer solution on ?c.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b ?g WHERE { " +
          "?c p:balCents ?b . FILTER(?b > 990000) " +
          "OPTIONAL { GRAPH ?g { ?c p:mkt \"MACHINERY\" } } } ORDER BY ?c")
      BgpPlanner.evaluate(graphQuads(s, dir), q)
        .na.fill("unbound", Seq("g"))
    }),
    "q141_sparql_from" -> ((s, dir) => {
      // §13.2 dataset clauses (round 10): FROM <g1> FROM <g3> merges two
      // named graphs into the query's default graph — the cross-site
      // scoping idiom (query exactly these buildings) without the GRAPH
      // keyword. Plan shape: one isin() partition-prunable filter over
      // the quads scan, then the ordinary BGP join.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?b FROM <urn:g#1> FROM <urn:g#3> " +
          "WHERE { ?c p:balCents ?b . FILTER(?b > 985000) } ORDER BY ?c")
      BgpPlanner.evaluate(graphQuads(s, dir), q)
    }),
    "q142_sparql_from_named" -> ((s, dir) => {
      // §13.2 FROM NAMED: the dataset's named-graph side is exactly the
      // listed set — GRAPH ?g ranges over <urn:g#2> only, and the
      // default graph is EMPTY (the spec's rule when any dataset clause
      // is present).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?g ?c FROM NAMED <urn:g#2> " +
          "WHERE { GRAPH ?g { ?c p:mkt \"BUILDING\" . ?c p:balCents ?b . " +
          "FILTER(?b > 900000) } } ORDER BY ?c")
      BgpPlanner.evaluate(graphQuads(s, dir), q)
    }),
    "q127_sparql_describe" -> ((s, dir) => {
      // §2.8 DESCRIBE form (the 4th and last SPARQL query form): the
      // WHERE bindings of ?c become the described-resource set, which
      // broadcast-semi-joins the quads scan on the subject position —
      // every triple about each matching customer comes back
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> DESCRIBE ?c WHERE { " +
          "?c p:mkt \"BUILDING\" . ?c p:balCents ?b . FILTER(?b > 980000) }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("s", "p", "o")
    }),
    "q120_sparql_exists" -> ((s, dir) => {
      // §2.8 FILTER EXISTS / NOT EXISTS (§8.1 pattern negation): the
      // positive group compiles to a LEFT SEMI join, the negative to a
      // LEFT ANTI — both on the shared ?c, both broadcast (graph-sized
      // right side), and neither can duplicate a solution row the way a
      // rewrite through inner joins would
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n WHERE { " +
          "?c p:inNation ?n . " +
          "FILTER EXISTS { ?c p:balCents ?b . FILTER(?b > 500000) } " +
          "FILTER NOT EXISTS { ?c p:mkt \"BUILDING\" } } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q121_sparql_group_concat" -> ((s, dir) => {
      // §2.8 GROUP_CONCAT/SAMPLE: concat order is implementation-defined
      // by the spec, so values are SORTED (deterministic, oracle =
      // string_agg ... ORDER BY); SAMPLE's "any value" is MIN. One hash
      // aggregate on the group key, collect_set stays group-bounded.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?n " +
          "(GROUP_CONCAT(DISTINCT ?m; SEPARATOR=\",\") AS ?mkts) " +
          "(SAMPLE(?c) AS ?rep) (COUNT(?c) AS ?cnt) WHERE { " +
          "?c p:inNation ?n . ?c p:mkt ?m . } GROUP BY ?n ORDER BY ?n")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q122_sparql_subquery" -> ((s, dir) => {
      // §2.8 subqueries (§18.2.1): the inner aggregated SELECT evaluates
      // first and joins the outer BGP on its projected ?n — group-key-
      // sized, so Catalyst broadcasts it into the customer scan; only
      // projected variables are visible outside
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?n ?cnt WHERE { " +
          "?c p:inNation ?n . " +
          "{ SELECT ?n (COUNT(?c2) AS ?cnt) WHERE { ?c2 p:inNation ?n . } " +
          "GROUP BY ?n HAVING(COUNT(?c2) >= 7) } } ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q123_sparql_ask" -> ((s, dir) => {
      // §2.8 ASK form: LIMIT-1-bounded existence probe → one true/false
      // row (any one solution settles it; the scan short-circuits)
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> ASK { ?c p:mkt \"BUILDING\" . " +
          "?c p:balCents ?b . FILTER(?b > 990000) }")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q124_sparql_construct" -> ((s, dir) => {
      // §2.8 CONSTRUCT form: template instantiated once per solution,
      // bag-unioned and DISTINCT'd (a graph is a set of triples) — one
      // projection per template triple over the shared binding relation
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> CONSTRUCT { " +
          "?c <urn:p#segment> ?m . ?c <urn:p#richFlag> \"rich\" } " +
          "WHERE { ?c p:mkt ?m . ?c p:balCents ?b . FILTER(?b > 950000) }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("s", "p", "o")
    }),
    "q155_construct_where" -> ((s, dir) => {
      // §16.2.4 CONSTRUCT WHERE shortcut (round 11): the WHERE BGP is
      // the template — the two-pattern join restricts to customers with
      // both edges, then BOTH matched triples instantiate. Same
      // projection-union-distinct plan as the explicit form (q124).
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> CONSTRUCT WHERE { " +
          "?c p:inNation ?n . ?c p:mkt ?m }")
      BgpPlanner.evaluate(custQuads(s, dir), q).orderBy("s", "p", "o")
    }),
    "q125_sparql_in" -> ((s, dir) => {
      // §2.8 IN + STRENDS: IN compiles to the spec's own =-disjunction
      // (inherits FCmp's NULL/type-error semantics), STRENDS to a
      // codegen'd suffix test — both plain predicates in the BGP plan
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?m WHERE { ?c p:mkt ?m . " +
          "FILTER(?m IN (\"BUILDING\", \"MACHINERY\") && STRENDS(?c, \"7\")) } " +
          "ORDER BY ?c")
      BgpPlanner.evaluate(custQuads(s, dir), q)
    }),
    "q116_sparql_zero_or_one" -> ((s, dir) => {
      // §2.8 `p?` zero-or-one path: no fixpoint — single-step edges ∪
      // identity, so each VALUES customer yields itself (zero steps) and
      // its nation (one step). The VALUES block broadcast-joins into the
      // edge∪identity relation.
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?c ?t WHERE { " +
          "?c (p:inNation)? ?t . " +
          "VALUES ?c { <urn:c#1> <urn:c#2> <urn:c#3> } } ORDER BY ?c ?t")
      BgpPlanner.evaluate(tpchQuads(s, dir, "inNation", "inRegion"), q)
    }),
    "q112_sparql_path_ops" -> ((s, dir) => {
      // §2.8 extended property paths in one query: inverse (^p) binds
      // each customer through the REVERSED inNation edge, and the
      // (p|q)+ alternative closure keeps only customers whose nation
      // lies in region 2 — the `+` form rides the same targeted-BFS
      // plan as `*` but without the zero-length row, so the constant
      // <urn:r#2> itself can never appear as a binding of ?c
      val q = Sparql.parse(
        "PREFIX p: <urn:p#> SELECT ?n ?c WHERE { " +
          "?n ^p:inNation ?c . ?c (p:inNation|p:inRegion)+ <urn:r#2> . }")
      BgpPlanner.evaluate(tpchQuads(s, dir, "inNation", "inRegion"), q)
        .orderBy("n", "c")
    }),
    "q111_stats_pruned_scan" -> ((s, dir) => {
      // S5 as a PLANNING input, not just a report: partitioned store →
      // stats table → explicit-file pruned scan (StatsIndex.prunedScan) —
      // the reference's consolidated-_metadata planning path
      // (make-metadata.py:8-22, README.md:56). maxRecordsPerFile splits
      // each time-sorted stream into time-disjoint fragments, so the
      // stats cut prunes at FILE granularity inside matching streams;
      // planning I/O is O(matching fragments), independent of store size.
      // The store fixture builds ONCE per (sf dir, JVM) — the timed body
      // is the pruning path itself (stats query + explicit-file scan),
      // not the partitioned write that creates the fixture.
      statsPrunedScan(s, statsStore(s, dir, refresh = false))
    }),
    "q109_stream_interval_join" -> ((s, dir) => {
      // §2.9 streaming in the correctness gate: the SAME watermarked
      // stream-stream interval join that runs online processes the events
      // table through a real file-source streaming query (AvailableNow),
      // and its output must equal DuckDB's batch range join — the
      // backfill/online parity a lambda-free pipeline depends on. The
      // watermark far exceeds the data span so nothing is late: parity is
      // exact, not approximate (cross-batch lateness is spec-tested).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      def side(tp: String) = {
        val raw = tableStream(s, dir, "events")
        // withWatermark wants TimestampType: NANOS files read as long
        // (floored to µs), µs-NTZ files cast (session tz is a label only —
        // the join bound and the grouped output are tz-invariant)
        val ts = raw.schema("ts").dataType.typeName match {
          case "long" => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
          case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
          case _ => raw
        }
        ts.filter(col("event_type") === tp).select("event_id", "user_id", "ts")
      }
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        side("purchase"), side("click"), "user_id", "ts",
        watermark = "87600 hours", boundSeconds = 3600L)
      // unique sink per invocation: bench times two passes in one session.
      // 4 state partitions: the stream-stream join's per-partition state
      // stores dominate wall time at toy scale (see runToMemory note) —
      // sized to the data, as a production deployment would (hundreds at
      // 100 TB; 4 covers this SF's per-user state with store setup cost
      // measured 8.7 s -> ~4 s vs the 32-partition session default).
      val sink = "q109_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.StreamingOps.runToMemory(joined, sink,
        statePartitions = Some(4))
      s.table(sink)
        .groupBy(col("l_event_id").as("event_id"), col("l_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    }),
    "q105_grouped_topk" -> ((s, dir) => {
      // general grouped top-k via the k-bounded heap aggregate (q22's
      // TopK machinery on a relational domain): partials put ≤ k rows per
      // group per partition on the wire, where the window formulation
      // would shuffle-and-sort every (type, user) row.
      // Scores ride the heap as doubles: exact for |spend_m| < 2^53
      // (milli-units of a 1e15 budget — comfortably beyond any event
      // stream); NULL spend (all-NULL value group) is filtered on BOTH
      // sides because the heap drops NULLs while row_number ranks them.
      val spend = t(s, dir, "events")
        .groupBy("event_type", "user_id")
        .agg(sum(floor(col("value") * 1000).cast("long")).as("spend_m"))
        .filter(col("spend_m").isNotNull)
      spend.groupBy(col("event_type"))
        .agg(graft.functions.TopK.top_k_by_score(
          col("user_id"), col("spend_m").cast("double"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("r", "e")))
        .select(col("event_type"), (col("r") + 1).cast("long").as("rank"),
          col("e.nid").as("user_id"), col("e.score").cast("long").as("spend_m"))
        .orderBy("event_type", "rank")
    }),
    "q103_winsorize" -> ((s, dir) => {
      // EXACT order-statistic winsorization: median and p99 as integer
      // rank statistics (no interpolation, no float), capped sums — the
      // outlier-capping report interpolated percentiles can't oracle
      operators.Events.winsorizeReport(t(s, dir, "events"), capBp = 9900)
        .orderBy("event_type")
    }),
    "q104_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: reciprocal-rank fusion of the lexical BM25
      // list (q75's scorer) and a dense embedding top-k list (q22's),
      // fused in exact integer milli-points
      val bm = TextOps.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          terms = Seq("dup", "spark", "hash"), k = 50)
        .select(col("doc_id").as("id"),
          // constant partition key (pmod, not lit — foldable keys get
          // optimizer-stripped): ranking a ≤k-row top-k relation — the
          // single partition is the point, not an accident (and the
          // "No Partition Defined" warning should stay meaningful)
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("bm25_m"), lit(1)))
            .orderBy(col("bm25_m").desc, col("doc_id"))).cast("long").as("rank"))
      val emb = t(s, dir, "embeddings")
      val nn = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), k = 50)
        .select(col("nid").as("id"), col("rank").cast("long").as("rank"))
      Similarity.rrfFuse(Seq(bm, nn), kRrf = 60, k = 20)
        .select(col("id").as("doc_id"), col("rrf_m"))
    }),
    "q75_bm25" -> ((s, dir) => {
      // BM25 relevance top-k against a seed term set — quality-targeted
      // data selection. All-integer rational BM25 (k1=6/5, b=3/4, log-free
      // idf ratio): exact, engine-portable, aggregation-order independent
      TextOps.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          terms = Seq("dup", "spark", "hash"), k = 20)
        .orderBy(col("bm25_m").desc, col("doc_id"))
    }),
    "q76_funnel" -> ((s, dir) => {
      // ordered funnel view→click→purchase within 7 days of first view:
      // per-stage hash aggs over a shrinking user-keyed relation
      operators.Events.funnelReport(t(s, dir, "events"),
          steps = Seq("view", "click", "purchase"),
          windowSeconds = 7L * 86400L)
        .orderBy("step_idx")
    }),
    "q77_retention" -> ((s, dir) => {
      // weekly cohort retention triangle: cohort = week of first event
      operators.Events.cohortRetention(t(s, dir, "events"))
        .orderBy("cohort_week", "week_offset")
    }),
    "q78_setjoin_exact" -> ((s, dir) => {
      // EXACT Jaccard≥0.5 similarity self-join via prefix filtering —
      // the lossless counterpart of the q19/q40 LSH path (oracle is the
      // literal all-pairs join; prefix filtering must lose nothing)
      Dedup.prefixJaccardJoin(t(s, dir, "documents"), "text", "doc_id",
          shingleN = 3, thetaBp = 5000L)
        .orderBy("id_a", "id_b")
    }),
    "q79_json_extract" -> ((s, dir) => {
      // semi-structured pipeline: JSON path extraction from the raw props
      // payload → typed column → per-type aggregate (map-side combinable)
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),
    "q80_transitions" -> ((s, dir) => {
      // event-type Markov transition matrix per user timeline:
      // one user-partitioned window + one hash agg
      operators.Events.transitionMatrix(t(s, dir, "events"))
        .orderBy("prev_type", "next_type")
    }),
    "q81_cdc_upsert" -> ((s, dir) => {
      // CDC log compaction: latest state per key via one max_by hash agg
      // (no sort, no window) — upsert semantics over an append-only log
      operators.Events.latestState(t(s, dir, "events"))
        .orderBy("user_id")
    }),
    "q82_bloom_decontaminate" -> ((s, dir) => {
      // bloom-filter decontamination: reference grams → one 2^20-bit mask
      // (mergeable custom aggregate) → broadcast → codegen'd bit probes on
      // the corpus scan; false positives deterministic + oracle-replicated
      val docs = t(s, dir, "documents")
      Dedup.bloomContamination(docs,
          docs.filter(col("source") === "src0"), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),
    "q83_moving_window" -> ((s, dir) => {
      // trailing 7-row window sums over the per-(type, day) rollup —
      // the window runs over |types|×|days| rows, never raw events
      operators.Events.movingDailyStats(t(s, dir, "events"), windowDays = 7)
        .orderBy("event_type", "day")
    }),
    "q84_hll_sketch" -> ((s, dir) => {
      // mergeable distinct-count sketch: per-(type, register) max-ρ over
      // the PORTABLE md5-60-bit hash — the registers ARE the artifact
      // (merge = MAX across any split); estimation is client-side
      operators.Sketches.hllRegisters(t(s, dir, "events"), "user_id",
          Seq("event_type"))
        .orderBy("event_type", "register")
    }),
    "q85_pagerank" -> ((s, dir) => {
      // 3-iteration integer PageRank over the part↔supplier bipartite
      // graph (undirected: both edge directions); exact milli-unit scores
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      val edges = pairs
        .select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
        .unionByName(pairs
          .select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
      operators.Graph.pageRank(edges, iters = 3)
        .orderBy(col("score_m").desc, col("node")).limit(30)
    }),
    "q86_anomaly" -> ((s, dir) => {
      // integer z-score outliers (|x−μ| > 3σ per event type) — one hash
      // agg builds the moment table, broadcast back; no float boundary
      operators.Events.anomalyReport(t(s, dir, "events"), k = 3)
        .orderBy("event_id")
    }),
    "q87_editdist_neardup" -> ((s, dir) => {
      // character-level near-dup: banded Levenshtein within (lang, source)
      // blocks; length-band equi-join candidates are LOSSLESS (length
      // diff lower-bounds edit distance), proven by the all-pairs oracle
      Dedup.editDistanceNearDup(t(s, dir, "documents"), "text", "doc_id",
          blockCols = Seq("lang", "source"), maxDist = 40, bandWidth = 64)
        .orderBy("id_a", "id_b")
    }),
    "q88_char_diversity" -> ((s, dir) => {
      // Simpson character-diversity quality signal in exact basis points
      TextOps.charDiversity(t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    "q89_phrase_search" -> ((s, dir) => {
      // positional inverted index: exact consecutive-token phrase counts
      TextOps.phraseMatches(t(s, dir, "documents"), "text", "doc_id",
          phrase = Seq("key", "scan"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    "q90_regional_revenue" -> ((s, dir) => {
      // TPC-H Q5 shape: the two facts hash-join on orderkey; supplier
      // joins on (suppkey, nationkey) enforcing the local-supplier
      // constraint; nation/region broadcast
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      val n = t(s, dir, "nation").join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))
      val c = t(s, dir, "customer").join(broadcast(n),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q91_value_histogram" -> ((s, dir) => {
      // fixed-width distribution histogram per event type (25-unit bins)
      operators.Events.valueHistogram(t(s, dir, "events"), widthM = 25000L)
        .orderBy("event_type", "bucket")
    }),
    "q92_salted_agg" -> ((s, dir) => {
      // skew-proof two-phase aggregation: salted partials → final combine.
      // The oracle is the PLAIN group-by — a hash match proves the salted
      // decomposition is algebraically lossless
      operators.Skew.saltedCountByKey(t(s, dir, "events"), "user_id",
          saltOn = "user_id", factor = 8)
        .orderBy("user_id")
    }),
    "q93_cube" -> ((s, dir) => {
      // CUBE lattice over (type, day-of-month): all four grouping sets in
      // one pass — the multi-marginal profile a mixture report reads
      t(s, dir, "events")
        .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("dom"),
          floor(col("value") * 1000).cast("long").as("_v"))
        .cube(col("event_type"), col("dom"))
        .agg(count(lit(1)).as("n"), sum(col("_v")).as("sum_m"))
        .orderBy(col("event_type").asc_nulls_first, col("dom").asc_nulls_first)
    }),
    "q94_image_phash" -> ((s, dir) => {
      // image near-dup fingerprint: perceptual average-hash over REAL
      // decoded PNG pixels (8×8 block means vs global mean, exact integer
      // cross-multiplication). The oracle recomputes the 64 bits from the
      // generator's pixel formula, so a hash match proves decode +
      // blocking + thresholding byte-exact end to end
      Multimodal.pngPerceptualHashes(
        Multimodal.packPng(t(s, dir, "documents"), "doc_id").toDF())
        .toDF()
        .select("media_id", "width", "height", "ahash_hi", "ahash_lo")
        .orderBy("media_id")
    }),
    "q95_profile" -> ((s, dir) => {
      // table profiling: per-column completeness + exact cardinality in
      // one aggregate pass (Expand under the hood); approx HLL variant is
      // the 100 TB path, exact here because the oracle must hash-match
      operators.Profiling.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"))
        .orderBy("column_name")
    }),
    "q96_gap_fill" -> ((s, dir) => {
      // time-series densification: complete (type, day) grid over the
      // sparse high-value rollup, zero-filled + marked — the step a
      // trailing window needs before its denominator means anything
      operators.Events.gapFillDaily(
          t(s, dir, "events").filter(col("value") >= 200))
        .orderBy("event_type", "day")
    }),
    "q97_cm_sketch" -> ((s, dir) => {
      // mergeable Count-Min frequency sketch: exact counters over salted
      // portable hashes (merge = SUM by cell), the frequency-sketch
      // counterpart of q84's HLL registers
      operators.Sketches.cmSketch(t(s, dir, "events"), "user_id",
          depth = 4, width = 256)
        .orderBy("depth", "width_pos")
    }),
    "q98_rank_quartiles" -> ((s, dir) => {
      // ranking-window coverage: dense_rank over tied lengths + ntile
      // quartile assignment per language partition
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          dense_rank().over(org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy("n_chars")).cast("long").as("dr"),
          ntile(4).over(org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy("n_chars", "doc_id"))
            .cast("long").as("quartile"))
        .orderBy("doc_id")
    }),
    "q99_vocab_setops" -> ((s, dir) => {
      // INTERSECT / EXCEPT coverage: slice vocabularies as sets — shared
      // tokens and src0-only tokens in one labeled relation
      val tk = t(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      val v0 = tk.filter(col("source") === "src0").select("tok").distinct()
      val v1 = tk.filter(col("source") === "src1").select("tok").distinct()
      v0.intersect(v1).select(lit("shared").as("rel"), col("tok"))
        .unionByName(v0.except(v1).select(lit("only_src0").as("rel"), col("tok")))
        .orderBy("rel", "tok")
    }),
    "q100_incremental_rollup" -> ((s, dir) => {
      // incremental materialized-view maintenance: base and delta rollups
      // merged by re-aggregation. The oracle is the FULL recompute — a
      // hash match proves incremental == full, the property that lets a
      // 100 TB rollup refresh from the delta alone
      val ev = t(s, dir, "events")
      val base = operators.Events.dailyRollup(ev.filter(col("event_id") % 2 === 0))
      val delta = operators.Events.dailyRollup(ev.filter(col("event_id") % 2 === 1))
      operators.Events.mergeRollups(base, delta)
        .orderBy("event_type", "day")
    }),
    "q101_salted_join" -> ((s, dir) => {
      // skew-proof salted join: small side replicated ×factor, large side
      // salted by row hash — oracled against the PLAIN join, proving the
      // replication+salt decomposition exact
      val ev = t(s, dir, "events")
      val dims = ev.groupBy("user_id").agg(count(lit(1)).as("user_n"))
      operators.Skew.saltedJoin(
          ev.select("event_id", "user_id"), dims, "user_id",
          saltOn = "event_id", factor = 4)
        .select("event_id", "user_id", "user_n")
        .orderBy("event_id")
    }),
    "q39_rolling_fp" -> ((s, dir) => {
      // order-sensitive Rabin-Karp fingerprint (mod 2^31-1 over portable
      // md5-60-bit token hashes) + the content-addressed md5 fingerprint
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.rollingFingerprint(col("text")).as("rolling_fp"),
          TextOps.md5Fingerprint(col("text")).as("md5_fp"))
        .orderBy("doc_id")
    }),
    "q33_distinct_agg" -> ((s, dir) => {
      // distinct-aggregate shape (exact)
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),
    "q34_rollup" -> ((s, dir) => {
      // grouping sets: ROLLUP subtotals over returnflag/linestatus
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q38_tfidf" -> ((s, dir) => {
      // TF-IDF scoring + top-3 terms per document
      val scored = TextOps.tfIdf(t(s, dir, "documents"), "text", "doc_id")
      val w = Window.partitionBy("id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("id").as("doc_id"), col("term"), col("rank"), col("score"))
        .orderBy("doc_id", "rank")
    }),
    "q36_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles per group via the histogram path
      // (Events.exactPercentiles, late round 11): bit-identical to
      // Spark's percentile() but two hash aggs + a distinct-value-sized
      // window instead of an ObjectHashAggregate buffering every group
      // value in one task's heap — the per-group OOM trap at 100 TB
      val ev = t(s, dir, "events")
      val pct = Events.exactPercentiles(ev, Seq("event_type"), "value",
          Seq(0.5, 0.9))
        .select(col("event_type"),
          round(col("p0"), 4).as("p50"), round(col("p1"), 4).as("p90"))
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      pct.join(n, "event_type")
        .select("event_type", "p50", "p90", "n")
        .orderBy("event_type")
    }),
    "q37_pivot" -> ((s, dir) => {
      // pivot: daily event counts, one column per event type
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")
    }),
    "q28_ingest_roundtrip" -> ((s, dir) => {
      // S4+S2: partitioned write + hive-discovery read-back (unique dir:
      // a run-to-run shared path would leave a prior invocation's cached
      // file index pointing at overwritten part files)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip_${java.util.UUID.randomUUID()}"
      t(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }))

  /** DuckDB CTE fragments shared by the dedup oracles: distinct 3-gram
    * word shingles per document (short docs → one whole-text shingle —
    * mirrors Dedup.shingleHashes) and exact pair stats via an
    * inverted-index join (never per-row list_intersect over all pairs). */
  private val shingleStatsCte: String =
    """tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh
      |  FROM tk),
      |sh AS (SELECT doc_id, unnest(list_distinct(sh0.sh)) AS g FROM sh0),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |stats AS (
      |  SELECT id_a, id_b, n_inter, sa.sz + sb.sz - n_inter AS n_union,
      |    n_inter * 10000 // (sa.sz + sb.sz - n_inter) AS jaccard_bp
      |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)""".stripMargin

  /** q21 oracle, generated: SimHash re-expressed in DuckDB bit ops over
    * the same portable md5-60-bit token hashes (Dedup.SimBits conditional
    * sums, one per bit). */
  private def simhashOracle: String = {
    val bits = (0 until Dedup.SimBits).map(j =>
      s"CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END")
      .mkString("\n    + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok)
       |SELECT doc_id,
       |    $bits AS simhash
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q23 oracle, generated: the SAME deterministic k-means — mod-seeded
    * centroids, `iters` unrolled assign/update rounds with the exact
    * integer-space mean (floor(x·10⁶) summed, then two IEEE divisions) —
    * followed by the IVF probe/score. Bit-identical to
    * Similarity.kmeansCentroids because every step is order-independent. */
  /** WITH-clause fragment computing the deterministic Lloyd's centroids
    * c0 … c`iters` over the embeddings table — shared by the q23 IVF and
    * q52 SemDeDup oracles (identical arithmetic to
    * `Similarity.kmeansCentroids`). */
  /** `mod` is a SQL expression: a literal ("37") or the √N auto
    * derivation (the same ⌈√count⌉ as `Similarity.autoCentroidMod` —
    * correctly-rounded IEEE sqrt, engine-exact). */
  private def autoModSql(table: String): String =
    s"(SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM $table)"

  /** Mirrors [[Similarity.autoTrainMod]]: ⌈√N⌉ // 8 floored at 1 — the
    * same correctly-rounded sqrt/ceil and integer division, so both
    * engines train on the identical id-mod sample. */
  /** Mirrors [[Similarity.autoPqSeedMod]]: count // 256 floored at 1 —
    * the fixed-cell PQ codebook modulus. */
  private def autoPqModSql(table: String): String =
    s"(SELECT GREATEST(1, count(*) // 256) FROM $table)"

  private def autoTrainModSql(table: String): String =
    s"(SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT) // 8) FROM $table)"

  /** `trainMod` other than "1" restricts each Lloyd's round to the
    * deterministic `vec_id % trainMod = 0` sample — the round-13
    * data-linear training path (Similarity.kmeansCentroids trainMod). */
  private def kmeansRoundsSql(dim: Int, iters: Int, mod: String,
      trainMod: String = "1"): String = {
    def meanList = (0 until dim).map(i =>
      s"(sum(floor(nvec[${i + 1}] * 1000000))::DOUBLE / count(*)) / 1000000.0")
      .mkString("[", ", ", "]")
    val trainFilter = if (trainMod == "1") "" else s" WHERE e.vec_id % $trainMod = 0"
    def assign(prev: String, step: Int): String =
      s"""a$step AS (
         |  SELECT nid, cid, nvec FROM (
         |    SELECT e.vec_id AS nid, c.cid, e.embedding::DOUBLE[] AS nvec,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cid) AS cr
         |    FROM (SELECT * FROM embeddings e$trainFilter) e, $prev c) WHERE cr = 1),
         |c$step AS (SELECT cid, $meanList AS cvec FROM a$step GROUP BY cid)""".stripMargin
    val rounds = (1 to iters).map(s => assign(s"c${s - 1}", s)).mkString(",\n")
    s"""c0 AS (
       |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $mod = 0),
       |$rounds""".stripMargin
  }

  /** The two-level corpus assignment (Similarity.coarseAssignTwoLevel)
    * re-derived over a centroid relation `cents(cid, cvec)`: supers =
    * every ⌈√nlist⌉-th centroid in cid rank order, centroid → nearest
    * super, vector → nearest super → group-local nearest centroid, all
    * ties to the smallest id. Emits CTEs ending in `corpus_assign(nid,
    * cid)`. */
  /** q173's oracle — also q190's VERBATIM (the backfill shuffle-path
    * fallback must be byte-identical to the broadcast plan): index =
    * corpus-side normalized-text keys with their keep ids; batch = the
    * re-fetch plant (doc_id % 10 == 0 docs carry the corpus neighbor's
    * text); output = batch docs the index holds. */
  private val exactIndexBatchOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |batch AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
      |      THEN n.text ELSE d.text END AS text
      |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
      |  WHERE d.doc_id % 5 = 0),
      |ckg AS (
      |  SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key,
      |    min(doc_id) AS keep_id
      |  FROM corpus GROUP BY 1),
      |bk AS (
      |  SELECT doc_id,
      |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key
      |  FROM batch)
      |SELECT b.doc_id, b.text_key, CAST(g.keep_id AS BIGINT) AS keep_id
      |FROM bk b JOIN ckg g USING (text_key)
      |ORDER BY b.doc_id""".stripMargin

  /** q189's oracle — also q192's VERBATIM (the OR-append path must
    * probe identically to the one-shot union build), and q193's with
    * the reference restricted to takedown survivors: the sharded masks
    * re-derived exactly — shard = the independent 5th md5 slice mod 4,
    * positions = the four bit slices mod 2048; a probe gram hits iff
    * all four positions are set in ITS OWN shard's mask, so the
    * frequent FPs (by the over-full fixture sizing) match iff the
    * engine's shard routing equals this construction. */
  private def bloomShardedProbeOracle(
      refPred: String = "source = 'src0'"): String =
    s"""WITH tk AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
      |sh AS (SELECT DISTINCT doc_id, source, array_to_string(toks[p:p+2], ' ') AS gram FROM g),
      |refpos AS (
      |  SELECT DISTINCT ('0x' || substr(md5(gram), 21, 5))::BIGINT % 4 AS shard,
      |    ('0x' || substr(md5(gram), 1 + 5*i, 5))::BIGINT % 2048 AS pos
      |  FROM (SELECT DISTINCT gram FROM sh WHERE $refPred) refg,
      |       unnest([0, 1, 2, 3]) AS t(i)),
      |probe AS (
      |  SELECT doc_id, gram,
      |    ('0x' || substr(md5(gram), 21, 5))::BIGINT % 4 AS shard,
      |    ('0x' || substr(md5(gram), 1, 5))::BIGINT % 2048 AS p0,
      |    ('0x' || substr(md5(gram), 6, 5))::BIGINT % 2048 AS p1,
      |    ('0x' || substr(md5(gram), 11, 5))::BIGINT % 2048 AS p2,
      |    ('0x' || substr(md5(gram), 16, 5))::BIGINT % 2048 AS p3
      |  FROM sh WHERE doc_id % 5 = 0),
      |hit AS (
      |  SELECT doc_id,
      |    CASE WHEN EXISTS (SELECT 1 FROM refpos r WHERE r.shard = probe.shard AND r.pos = probe.p0)
      |      AND EXISTS (SELECT 1 FROM refpos r WHERE r.shard = probe.shard AND r.pos = probe.p1)
      |      AND EXISTS (SELECT 1 FROM refpos r WHERE r.shard = probe.shard AND r.pos = probe.p2)
      |      AND EXISTS (SELECT 1 FROM refpos r WHERE r.shard = probe.shard AND r.pos = probe.p3)
      |      THEN 1 ELSE 0 END AS h
      |  FROM probe)
      |SELECT doc_id, count(*) AS n_grams, CAST(sum(h) AS BIGINT) AS n_maybe_dirty,
      |  CAST(sum(h) AS BIGINT) * 10000 // count(*) AS contamination_bp
      |FROM hit GROUP BY 1 ORDER BY doc_id""".stripMargin

  private def twoLevelAssignSql(cents: String): String =
    s"""tl_smod AS (
       |  SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m
       |  FROM $cents),
       |tl_crk AS (
       |  SELECT cid, cvec, row_number() OVER (ORDER BY cid) - 1 AS rk
       |  FROM $cents),
       |tl_supers AS (
       |  SELECT cid AS sid, cvec AS svec FROM tl_crk
       |  WHERE rk % (SELECT m FROM tl_smod) = 0),
       |tl_cmap AS (
       |  SELECT cid, sid, cvec FROM (
       |    SELECT c.cid, s.sid, c.cvec,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY
       |        list_cosine_similarity(c.cvec, s.svec) DESC, s.sid) AS r
       |    FROM $cents c, tl_supers s) WHERE r = 1),
       |tl_v2s AS (
       |  SELECT nid, sid, nvec FROM (
       |    SELECT e.vec_id AS nid, s.sid, e.embedding::DOUBLE[] AS nvec,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], s.svec) DESC, s.sid) AS r
       |    FROM embeddings e, tl_supers s) WHERE r = 1),
       |corpus_assign AS (
       |  SELECT nid, cid FROM (
       |    SELECT v.nid, m.cid,
       |      row_number() OVER (PARTITION BY v.nid ORDER BY
       |        list_cosine_similarity(v.nvec, m.cvec) DESC, m.cid) AS r
       |    FROM tl_v2s v JOIN tl_cmap m ON m.sid = v.sid) WHERE r = 1)""".stripMargin

  /** The two-level QUERY probe (Similarity.queryProbesTwoLevel, round 14)
    * re-derived over the tl_supers/tl_cmap CTEs [[twoLevelAssignSql]]
    * emits: each query maps to its nearest super (ties → smallest sid),
    * then takes its `nProbe` nearest centroids within that super's
    * member group. Emits a CTE `query_probe(qid, cid)`. */
  private def twoLevelProbeSql(nQueries: Int, nProbe: Int): String =
    s"""tl_qsup AS (
       |  SELECT qid, sid, qvec FROM (
       |    SELECT e.vec_id AS qid, s.sid, e.embedding::DOUBLE[] AS qvec,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], s.svec) DESC, s.sid) AS r
       |    FROM embeddings e, tl_supers s WHERE e.vec_id < $nQueries) WHERE r = 1),
       |query_probe AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, m.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        list_cosine_similarity(q.qvec, m.cvec) DESC, m.cid) AS cr
       |    FROM tl_qsup q JOIN tl_cmap m ON m.sid = q.sid) WHERE cr <= $nProbe)""".stripMargin

  /** q162/q165 oracle: stride-1 40-grams, corpus-wide count >= 2, per-doc
    * overlapping-or-contiguous island merge. Shared verbatim by the
    * exact (q162) and hot-gram-capped (q165) queries — the cap is an
    * execution strategy, not a semantics change. */
  private val exactSpansOracle: String =
    """WITH grams AS (
      |  SELECT doc_id,
      |    CAST(unnest(range(1, length(text) - 40 + 2)) AS BIGINT) AS pos,
      |    unnest(list_transform(range(1, length(text) - 40 + 2),
      |      p -> substr(text, CAST(p AS INT), 40))) AS g
      |  FROM documents
      |), hits AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c
      |    FROM grams) WHERE c >= 2
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 39) OVER (
      |        PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM hits
      |), islands AS (
      |  SELECT doc_id, pos,
      |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM flagged
      |)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 39 AS span_end
      |FROM islands GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** q166/q168 oracle: the full anchored pipeline re-derived - token
    * char offsets via the "x " sentinel double-split (tokens on \\s+,
    * whitespace runs on \\S+, one prefix sum; the row filter drops the
    * sentinel and DuckDB's trailing-empty split artifact), the q164
    * winnow selection with the tie-free key gh*2^21+i, anchor counting
    * by gram TEXT, gap-w island merge aggregating CHAR extents, then the
    * q163 cut grammar verbatim over those char spans. Shared verbatim by
    * the plain (q166) and hot-anchor-capped (q168) pipelines - the cap
    * is an execution strategy, not a semantics change. */
  /** The anchor-derivation prefix (tk … anch), shared by the q166/q168
    * cut oracle and the q171 against-index oracle: every doc's winnowed
    * anchors with char offsets, k=3 / w=4. */
  private val anchorDerivationCte: String =
      """tk AS (
        |  SELECT doc_id, regexp_split_to_array('x ' || text, '\s+') AS toks,
        |    regexp_split_to_array('x ' || text, '\S+') AS wss
        |  FROM documents),
        |tokrows AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i, lower(toks[i]) AS t,
        |    CAST(length(toks[i]) AS BIGINT) AS tl,
        |    CAST(length(wss[i]) AS BIGINT) AS wsl
        |  FROM tk, unnest(generate_series(1, len(toks))) u(i)),
        |offs AS (
        |  SELECT doc_id, i, t,
        |    sum(wsl + tl) OVER (PARTITION BY doc_id ORDER BY i) - tl - 1 AS cs,
        |    sum(wsl + tl) OVER (PARTITION BY doc_id ORDER BY i) - 2 AS ce
        |  FROM tokrows),
        |tok2 AS (SELECT * FROM offs WHERE i >= 2 AND t <> ''),
        |gr AS (
        |  SELECT doc_id, i, cs, t,
        |    lead(t, 1) OVER w AS t1, lead(t, 2) OVER w AS t2,
        |    lead(ce, 2) OVER w AS gce
        |  FROM tok2 WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |g AS (
        |  SELECT doc_id, i, cs, gce, t || ' ' || t1 || ' ' || t2 AS gt
        |  FROM gr WHERE t2 IS NOT NULL),
        |gh AS (
        |  SELECT doc_id, i, cs, gce, gt,
        |    ('0x' || substr(md5(gt), 1, 15))::BIGINT % 2147483647 AS gh
        |  FROM g),
        |wm AS (
        |  SELECT doc_id,
        |    min(gh * 2097152 + i) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey,
        |    lead(gh, 3) OVER (PARTITION BY doc_id ORDER BY i) AS full_w
        |  FROM gh),
        |sel AS (SELECT DISTINCT doc_id, selkey % 2097152 AS si FROM wm
        |        WHERE full_w IS NOT NULL),
        |anch AS (SELECT s.doc_id, g.i, g.gt, g.cs, g.gce
        |         FROM sel s JOIN gh g ON g.doc_id = s.doc_id AND g.i = s.si)""".stripMargin

  private val anchoredCutOracle: String =
      s"""WITH $anchorDerivationCte,
        |hits AS (SELECT doc_id, i, cs, gce FROM (
        |    SELECT *, count(*) OVER (PARTITION BY gt) AS c FROM anch)
        |  WHERE c >= 2),
        |flagged AS (
        |  SELECT doc_id, i, cs, gce,
        |    CASE WHEN i > coalesce(max(i + 2) OVER (
        |        PARTITION BY doc_id ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 4
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits),
        |islands AS (
        |  SELECT doc_id, cs, gce,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM flagged),
        |spans AS (
        |  SELECT doc_id, min(cs) AS span_start, max(gce) AS span_end
        |  FROM islands GROUP BY doc_id, island),
        |mids AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_start,
        |    span_start - 1 AS seg_end
        |  FROM spans),
        |lasts AS (
        |  SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
        |    CAST(length(any_value(d.text)) AS BIGINT) AS seg_end
        |  FROM spans s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
        |segs AS (
        |  SELECT * FROM mids WHERE seg_start <= seg_end
        |  UNION ALL SELECT * FROM lasts WHERE seg_start <= seg_end),
        |rebuilt AS (
        |  SELECT g2.doc_id,
        |    string_agg(substr(d.text, CAST(seg_start AS INT),
        |      CAST(seg_end - seg_start + 1 AS INT)), '' ORDER BY seg_start) AS clean_text
        |  FROM segs g2 JOIN documents d USING (doc_id) GROUP BY g2.doc_id),
        |dupdocs AS (SELECT DISTINCT doc_id FROM spans),
        |cleaned AS (
        |  SELECT dd.doc_id, coalesce(r.clean_text, '') AS clean_text
        |  FROM dupdocs dd LEFT JOIN rebuilt r USING (doc_id)
        |  UNION ALL
        |  SELECT d.doc_id, d.text FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM dupdocs)
        |)
        |SELECT c.doc_id, c.clean_text,
        |  CAST(length(d.text) AS BIGINT) - length(c.clean_text) AS n_cut
        |FROM cleaned c JOIN documents d USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin

  private def ivfKmeansOracle(dim: Int = 64, iters: Int = 2,
      mod: String = autoModSql("embeddings"),
      trainMod: String = autoTrainModSql("embeddings"),
      nProbe: Int = 2, k: Int = 5): String = {
    s"""WITH ${kmeansRoundsSql(dim, iters, mod, trainMod)},
       |${twoLevelAssignSql(s"c$iters")},
       |${twoLevelProbeSql(nQueries = 8, nProbe = nProbe)},
       |scored AS (
       |  SELECT p.qid, a.nid,
       |    list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) AS score
       |  FROM query_probe p
       |  JOIN corpus_assign a ON p.cid = a.cid
       |  JOIN embeddings eq ON eq.vec_id = p.qid
       |  JOIN embeddings en ON en.vec_id = a.nid
       |  WHERE a.nid <> p.qid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q52 oracle, generated: the SAME deterministic k-means (shared rounds
    * fragment), then base+planted assignment and the smaller-id in-cluster
    * cosine prune re-derived exhaustively. */
  private def semdedupOracle(dim: Int = 64, iters: Int = 2, mod: String = "37",
      threshold: Double = 0.95): String =
    s"""WITH ${kmeansRoundsSql(dim, iters, mod)},
       |base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(0, $dim), i -> vec[CAST(i + 1 AS INTEGER)]
       |      * (1 + (i % 7 - 3) * 0.02::DOUBLE)) AS vec
       |  FROM base WHERE vec_id % 17 = 0),
       |al AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |asg AS (
       |  SELECT vec_id, cid, vec FROM (
       |    SELECT al.vec_id, c.cid, al.vec,
       |      row_number() OVER (PARTITION BY al.vec_id ORDER BY
       |        list_cosine_similarity(al.vec, c.cvec) DESC, c.cid) AS cr
       |    FROM al, c$iters c) WHERE cr = 1),
       |drp AS (
       |  SELECT DISTINCT a.vec_id FROM asg a JOIN asg b
       |    ON a.cid = b.cid AND b.vec_id < a.vec_id
       |   AND round(list_cosine_similarity(a.vec, b.vec), 4) >= $threshold)
       |SELECT a.vec_id, a.cid AS cluster,
       |  CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
       |FROM asg a LEFT JOIN drp d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** q74 oracle, generated: product quantization re-derived end-to-end —
    * the same fixed-point subvector L2² (floor(x·10⁶) longs), the same
    * mod-seeded codebook, argmin encode with (dist, code) tie order, and
    * ADC scoring as the sum of the query's table entries at each vector's
    * codes. All-integer distances make the scores engine-exact. */
  private def pqAdcOracle(dim: Int = 64, m: Int = 8,
      mod: String = autoPqModSql("embeddings"),
      k: Int = 5, nQueries: Int = 8): String = {
    val dsub = dim / m
    s"""WITH fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp WHERE vec_id % $mod = 0),
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |scored AS (
       |  SELECT q.nid AS qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM codes JOIN cd q ON q.j = codes.j AND q.code = codes.code
       |    AND q.nid < $nQueries
       |  WHERE codes.nid <> q.nid
       |  GROUP BY q.nid, codes.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q175 oracle, generated: the q74 fixed-point ADC pipeline verbatim,
    * ranked to a k=20 shortlist per query, then the exact-cosine re-rank
    * over raw vectors restricted to shortlist pairs — the same two-stage
    * retrieval the engine runs (rankings by full doubles, display
    * rounded to 4, ties → smallest nid at both stages). */
  private def pqRerankOracle(dim: Int = 64, m: Int = 8,
      mod: String = autoPqModSql("embeddings"),
      shortK: Int = 20, k: Int = 5, nQueries: Int = 8): String = {
    val dsub = dim / m
    s"""WITH fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp WHERE vec_id % $mod = 0),
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |adc AS (
       |  SELECT q.nid AS qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM codes JOIN cd q ON q.j = codes.j AND q.code = codes.code
       |    AND q.nid < $nQueries
       |  WHERE codes.nid <> q.nid
       |  GROUP BY q.nid, codes.nid),
       |shortlist AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS r
       |    FROM adc) WHERE r <= $shortK),
       |rer AS (
       |  SELECT s.qid, s.nid,
       |    list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) AS score
       |  FROM shortlist s
       |  JOIN embeddings eq ON eq.vec_id = s.qid
       |  JOIN embeddings en ON en.vec_id = s.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM rer) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q180/q181 oracle, generated: near-dup ADMISSION re-derived from
    * first principles — the TRUE verified pair set (exact 3-gram
    * Jaccard ≥ θ over the planted batch × corpus and the intra-batch
    * earlier-partner pairs, computed exhaustively — q172's recall-gate
    * construction) followed by the status rule: dup_corpus (min
    * verified corpus partner) beats dup_batch (min verified SMALLER-id
    * batch partner) beats admitted (keep = self). `plantedBatch` is the
    * batch CTE body (the two queries plant differently). The engine
    * side only ever sees LSH candidates, so the hash matches iff LSH
    * recall is total at θ AND verification and the rule agree. */
  /** q195 oracle, generated: the ENTIRE hot-split pipeline re-derived
    * — planted drift clump (300 copies of vector 0's embedding at ids
    * 10^9+i), single-level assignment over base ∪ plant, per-list hot
    * detection with the integer bp rule, seeds = the splitInto smallest
    * member ids, child cids allocated densely past max(cid) in
    * (parent, seed) order, local re-assignment to the nearest child
    * seed (ties to the smallest child), then the nProbe-probed ADC
    * serve against the post-split structure. */
  private def ivfPqSplitServeOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nPlant: Int = 300, hotBp: Long = 40000L, splitInto: Int = 2,
      nProbe: Int = 2, k: Int = 5, nQueries: Int = 8,
      // q197: SQL predicate over vec_id naming the takedown SURVIVORS.
      // Applied to the corpus rows (assignment, hot counts, seeds,
      // serving) but NOT to the codebook/centroid training views — the
      // quantizers froze before the deletions, exactly like the engine
      // (deleteVectors tombstones codes; compaction applies physically;
      // centroids/codebook relations are untouched).
      survivorWhere: String = "TRUE"): String = {
    val dsub = dim / m
    s"""WITH allv AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT 1000000000 + t.i, e0.embedding
       |  FROM generate_series(0, ${nPlant - 1}) t(i),
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) e0),
       |base AS (SELECT vec_id, embedding FROM allv WHERE $survivorWhere),
       |fpall AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM allv),
       |fp AS (SELECT vec_id, f FROM fpall WHERE $survivorWhere),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fpall
       |  WHERE vec_id < 1000000000 AND vec_id % $pqMod = 0),
       |cents0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |a0 AS (
       |  SELECT nid, cid FROM (
       |    SELECT b.vec_id AS nid, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        list_cosine_similarity(b.embedding::DOUBLE[], c.cvec) DESC, c.cid) AS r
       |    FROM base b, cents0 c) WHERE r = 1),
       |per AS (SELECT cid, count(*) * $m AS n FROM a0 GROUP BY 1),
       |tot AS (SELECT count(*) AS nl, CAST(sum(n) AS BIGINT) AS nt FROM per),
       |hot AS (SELECT cid FROM per, tot WHERE n * 10000 * nl // nt > $hotBp),
       |maxc AS (SELECT max(cid) AS mc FROM cents0),
       |seeds AS (
       |  SELECT cid AS parent, nid AS seed_nid FROM (
       |    SELECT cid, nid, row_number() OVER (PARTITION BY cid ORDER BY nid) AS sr
       |    FROM a0 WHERE cid IN (SELECT cid FROM hot)) WHERE sr <= $splitInto),
       |children AS (
       |  SELECT parent, seed_nid,
       |    (SELECT mc FROM maxc) + row_number() OVER (ORDER BY parent, seed_nid) AS child_cid
       |  FROM seeds),
       |reassign AS (
       |  SELECT nid, child_cid AS cid FROM (
       |    SELECT v.nid, ch.child_cid,
       |      row_number() OVER (PARTITION BY v.nid ORDER BY
       |        list_cosine_similarity(bv.embedding::DOUBLE[], sv.embedding::DOUBLE[]) DESC, ch.child_cid) AS r
       |    FROM a0 v
       |    JOIN base bv ON bv.vec_id = v.nid
       |    JOIN children ch ON ch.parent = v.cid
       |    JOIN base sv ON sv.vec_id = ch.seed_nid) WHERE r = 1),
       |post_assign AS (
       |  SELECT nid, cid FROM a0 WHERE cid NOT IN (SELECT cid FROM hot)
       |  UNION ALL SELECT nid, cid FROM reassign),
       |post_cents AS (
       |  SELECT cid, cvec FROM cents0 WHERE cid NOT IN (SELECT cid FROM hot)
       |  UNION ALL SELECT ch.child_cid, b.embedding::DOUBLE[]
       |  FROM children ch JOIN base b ON b.vec_id = ch.seed_nid),
       |query_probe AS (
       |  SELECT qid, cid FROM (
       |    SELECT e.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cid) AS cr
       |    FROM embeddings e, post_cents c WHERE e.vec_id < $nQueries) WHERE cr <= $nProbe),
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |scored AS (
       |  SELECT p.qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM query_probe p
       |  JOIN post_assign a2 ON a2.cid = p.cid
       |  JOIN codes ON codes.nid = a2.nid
       |  JOIN cd q ON q.j = codes.j AND q.code = codes.code AND q.nid = p.qid
       |  WHERE codes.nid <> p.qid
       |  GROUP BY p.qid, codes.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q198 oracle, generated (round 18): the TWO-LEVEL hot-split serve
    * re-derived — supers frozen from the ORIGINAL centroid set (the
    * rank rule over cents0, exactly the persisted `supers/` relation),
    * the baked two-level corpus assignment, q195's hot detection /
    * seeding / child allocation / local re-assignment, and then the
    * POST-split routing: the centroid→super map re-derives over the
    * post-split centroid relation against the FROZEN supers (children
    * enter one super's group by the nearest rule; every other routing
    * unchanged), and queries probe nearest-super → nProbe nearest
    * centroids within that group. Hash matches iff the persisted-super
    * protocol keeps probe and list geometry consistent through the
    * split. */
  private def ivfPqTlSplitServeOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nPlant: Int = 300, hotBp: Long = 40000L, splitInto: Int = 2,
      nProbe: Int = 2, k: Int = 5, nQueries: Int = 8): String = {
    val dsub = dim / m
    s"""WITH allv AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT 1000000000 + t.i, e0.embedding
       |  FROM generate_series(0, ${nPlant - 1}) t(i),
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) e0),
       |fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM allv),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp
       |  WHERE vec_id < 1000000000 AND vec_id % $pqMod = 0),
       |cents0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |tl_smod AS (
       |  SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m
       |  FROM cents0),
       |tl_crk AS (
       |  SELECT cid, cvec, row_number() OVER (ORDER BY cid) - 1 AS rk
       |  FROM cents0),
       |tl_supers AS (
       |  SELECT cid AS sid, cvec AS svec FROM tl_crk
       |  WHERE rk % (SELECT m FROM tl_smod) = 0),
       |tl_cmap0 AS (
       |  SELECT cid, sid, cvec FROM (
       |    SELECT c.cid, s.sid, c.cvec,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY
       |        list_cosine_similarity(c.cvec, s.svec) DESC, s.sid) AS r
       |    FROM cents0 c, tl_supers s) WHERE r = 1),
       |tl_v2s AS (
       |  SELECT nid, sid, nvec FROM (
       |    SELECT b.vec_id AS nid, s.sid, b.embedding::DOUBLE[] AS nvec,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        list_cosine_similarity(b.embedding::DOUBLE[], s.svec) DESC, s.sid) AS r
       |    FROM allv b, tl_supers s) WHERE r = 1),
       |a0 AS (
       |  SELECT nid, cid FROM (
       |    SELECT v.nid, mm.cid,
       |      row_number() OVER (PARTITION BY v.nid ORDER BY
       |        list_cosine_similarity(v.nvec, mm.cvec) DESC, mm.cid) AS r
       |    FROM tl_v2s v JOIN tl_cmap0 mm ON mm.sid = v.sid) WHERE r = 1),
       |per AS (SELECT cid, count(*) * $m AS n FROM a0 GROUP BY 1),
       |tot AS (SELECT count(*) AS nl, CAST(sum(n) AS BIGINT) AS nt FROM per),
       |hot AS (SELECT cid FROM per, tot WHERE n * 10000 * nl // nt > $hotBp),
       |maxc AS (SELECT max(cid) AS mc FROM cents0),
       |seeds AS (
       |  SELECT cid AS parent, nid AS seed_nid FROM (
       |    SELECT cid, nid, row_number() OVER (PARTITION BY cid ORDER BY nid) AS sr
       |    FROM a0 WHERE cid IN (SELECT cid FROM hot)) WHERE sr <= $splitInto),
       |children AS (
       |  SELECT parent, seed_nid,
       |    (SELECT mc FROM maxc) + row_number() OVER (ORDER BY parent, seed_nid) AS child_cid
       |  FROM seeds),
       |reassign AS (
       |  SELECT nid, child_cid AS cid FROM (
       |    SELECT v.nid, ch.child_cid,
       |      row_number() OVER (PARTITION BY v.nid ORDER BY
       |        list_cosine_similarity(bv.embedding::DOUBLE[], sv.embedding::DOUBLE[]) DESC, ch.child_cid) AS r
       |    FROM a0 v
       |    JOIN allv bv ON bv.vec_id = v.nid
       |    JOIN children ch ON ch.parent = v.cid
       |    JOIN allv sv ON sv.vec_id = ch.seed_nid) WHERE r = 1),
       |post_assign AS (
       |  SELECT nid, cid FROM a0 WHERE cid NOT IN (SELECT cid FROM hot)
       |  UNION ALL SELECT nid, cid FROM reassign),
       |post_cents AS (
       |  SELECT cid, cvec FROM cents0 WHERE cid NOT IN (SELECT cid FROM hot)
       |  UNION ALL SELECT ch.child_cid, b.embedding::DOUBLE[]
       |  FROM children ch JOIN allv b ON b.vec_id = ch.seed_nid),
       |tl_cmap AS (
       |  SELECT cid, sid, cvec FROM (
       |    SELECT c.cid, s.sid, c.cvec,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY
       |        list_cosine_similarity(c.cvec, s.svec) DESC, s.sid) AS r
       |    FROM post_cents c, tl_supers s) WHERE r = 1),
       |${twoLevelProbeSql(nQueries = nQueries, nProbe = nProbe)},
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |scored AS (
       |  SELECT p.qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM query_probe p
       |  JOIN post_assign a2 ON a2.cid = p.cid
       |  JOIN codes ON codes.nid = a2.nid
       |  JOIN cd q ON q.j = codes.j AND q.code = codes.code AND q.nid = p.qid
       |  WHERE codes.nid <> p.qid
       |  GROUP BY p.qid, codes.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q191's oracle — also q194's VERBATIM (the footer-metadata report
    * must be byte-identical to the scan report): per-list occupancy
    * re-derived from first principles — the full two-level corpus
    * assignment (every vector to its list through the super routing),
    * m code rows per vector, integer bp shares. */
  private lazy val annListBalanceOracle: String =
    s"""WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      |  FROM embeddings WHERE vec_id % ${autoModSql("embeddings")} = 0),
      |${twoLevelAssignSql("cents")},
      |per AS (SELECT cid, count(*) * 8 AS n_codes
      |  FROM corpus_assign GROUP BY 1),
      |tot AS (SELECT count(*) AS nl, CAST(sum(n_codes) AS BIGINT) AS nt
      |  FROM per)
      |SELECT CAST(cid AS BIGINT) AS cid, CAST(n_codes AS BIGINT) AS n_codes,
      |  CAST(n_codes * 10000 // nt AS BIGINT) AS share_bp,
      |  CAST(n_codes * 10000 * nl // nt AS BIGINT) AS hot_factor_bp
      |FROM per, tot ORDER BY cid""".stripMargin

  /** q187's oracle — the q174 admission grammar with the % 20 == 1
    * keepers DELETED: the surviving keeper set is ckg minus those rows,
    * so batch re-fetches of deleted content admit (or fall back to the
    * batch rule) while everything else is unchanged. Also q193's exact
    * branch VERBATIM (the one-call takedown must leave the exact index
    * in exactly this state). */
  private val tombstoneAdmitOracle: String =
    tombstoneAdmitOracleWith("keep_id % 20 <> 1")

  /** q187's admission grammar with the corpus-keeper survivor predicate
    * parameterized — q193 passes the mod-20≡1 takedown cut (via the
    * fixed-predicate val above), q199 the mod-20≡3 one its pipelineTick
    * fixture deletes (and physically compacts). */
  private def tombstoneAdmitOracleWith(keepPred: String): String =
    s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |ckg0 AS (
        |  SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS text_key,
        |    min(doc_id) AS keep_id
        |  FROM corpus GROUP BY 1),
        |ckg AS (SELECT * FROM ckg0 WHERE $keepPred),
        |batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
        |      THEN n.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 5 = 0),
        |bk AS (
        |  SELECT doc_id,
        |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS text_key
        |  FROM batch),
        |bmin AS (SELECT text_key, min(doc_id) AS batch_keep FROM bk GROUP BY 1)
        |SELECT k.doc_id,
        |  CASE WHEN g.keep_id IS NOT NULL THEN 'dup_corpus'
        |       WHEN k.doc_id <> m.batch_keep THEN 'dup_batch'
        |       ELSE 'admitted' END AS status,
        |  CAST(coalesce(g.keep_id, m.batch_keep) AS BIGINT) AS keep_id
        |FROM bk k
        |LEFT JOIN ckg g USING (text_key)
        |JOIN bmin m USING (text_key)
        |ORDER BY k.doc_id""".stripMargin

  /** q171's oracle, generated — the index path re-derived from first
    * principles: corpus-side winnowed anchor grams (`corpusPred`,
    * default the q171 corpus split) are the "index"; a batch anchor
    * hits iff its gram text appears there; islands merge with the same
    * gap-w grammar as q166. q193 passes the takedown-survivor
    * predicate. */
  private def anchorIndexBatchOracle(
      corpusPred: String = "doc_id % 5 <> 0"): String =
    s"""WITH $anchorDerivationCte,
      |corpusg AS (SELECT DISTINCT gt FROM anch WHERE $corpusPred),
      |bhits AS (
      |  SELECT a.doc_id, a.i, a.cs, a.gce FROM anch a
      |  WHERE a.doc_id % 5 = 0 AND a.gt IN (SELECT gt FROM corpusg)),
      |flagged AS (
      |  SELECT doc_id, i, cs, gce,
      |    CASE WHEN i > coalesce(max(i + 2) OVER (
      |        PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 4
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM bhits),
      |islands AS (
      |  SELECT doc_id, cs, gce,
      |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY i) AS island
      |  FROM flagged)
      |SELECT doc_id, CAST(min(cs) AS BIGINT) AS span_start,
      |  CAST(max(gce) AS BIGINT) AS span_end
      |FROM islands GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  private def nearDupAdmitOracle(plantedBatch: String,
      thetaBp: Long = 5000L,
      corpusPred: String = "doc_id % 5 <> 0"): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE $corpusPred),
       |batch AS ($plantedBatch),
       |alltxt AS (SELECT doc_id, text FROM corpus
       |  UNION ALL SELECT doc_id, text FROM batch),
       |tk AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM alltxt),
       |sh0 AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh
       |  FROM tk),
       |sh AS (SELECT doc_id, unnest(list_distinct(sh0.sh)) AS g FROM sh0),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.g = b.g
       |  WHERE a.doc_id % 5 = 0
       |    AND (b.doc_id % 5 <> 0 OR (b.doc_id % 5 = 0 AND b.doc_id < a.doc_id))
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |  WHERE n_inter * 10000 // (sa.sz + sb.sz - n_inter) >= $thetaBp),
       |ck AS (SELECT id_a, min(id_b) AS ckeep FROM ver
       |  WHERE id_b % 5 <> 0 GROUP BY 1),
       |bk AS (SELECT id_a, min(id_b) AS bkeep FROM ver
       |  WHERE id_b % 5 = 0 GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN ck.ckeep IS NOT NULL THEN 'dup_corpus'
       |       WHEN bk.bkeep IS NOT NULL THEN 'dup_batch'
       |       ELSE 'admitted' END AS status,
       |  CAST(coalesce(ck.ckeep, bk.bkeep, b.doc_id) AS BIGINT) AS keep_id
       |FROM batch b
       |LEFT JOIN ck ON ck.id_a = b.doc_id
       |LEFT JOIN bk ON bk.id_a = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** q178 oracle, generated: the full serving stack — q102's IVF-PQ
    * pipeline (two-level assignment AND two-level query probe, fixed-
    * point ADC) ranked to a k=20 shortlist per query, then q175's exact
    * cosine re-rank over raw vectors restricted to shortlist pairs. */
  private def ivfPqServeRerankOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nProbe: Int = 2, shortK: Int = 20, k: Int = 5,
      nQueries: Int = 8): String = {
    val dsub = dim / m
    s"""WITH fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp WHERE vec_id % $pqMod = 0),
       |cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |${twoLevelAssignSql("cents")},
       |${twoLevelProbeSql(nQueries = nQueries, nProbe = nProbe)},
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |adc AS (
       |  SELECT p.qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM query_probe p
       |  JOIN corpus_assign a ON a.cid = p.cid
       |  JOIN codes ON codes.nid = a.nid
       |  JOIN cd q ON q.j = codes.j AND q.code = codes.code AND q.nid = p.qid
       |  WHERE codes.nid <> p.qid
       |  GROUP BY p.qid, codes.nid),
       |shortlist AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS r
       |    FROM adc) WHERE r <= $shortK),
       |rer AS (
       |  SELECT s.qid, s.nid,
       |    list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) AS score
       |  FROM shortlist s
       |  JOIN embeddings eq ON eq.vec_id = s.qid
       |  JOIN embeddings en ON en.vec_id = s.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM rer) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q177 oracle, generated: residual IVF-PQ re-derived end-to-end —
    * flat cosine assignment over mod-seeded centroids, residual vectors
    * as IEEE double subtractions floored into the same 10⁶ fixed point
    * as q74, the residual-seeded codebook, argmin encode, per-probed-
    * list query tables from the query's residual, ADC scoring. */
  private def ivfPqResidualOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nProbe: Int = 2, k: Int = 5, nQueries: Int = 8): String = {
    val dsub = dim / m
    s"""WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |asg AS (
       |  SELECT nid, cid FROM (
       |    SELECT e.vec_id AS nid, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cid) AS r
       |    FROM embeddings e, cents c) WHERE r = 1),
       |rv AS (
       |  SELECT a.nid, a.cid,
       |    list_transform(range(1, ${dim + 1}), i ->
       |      CAST(floor(((e.embedding::DOUBLE[])[CAST(i AS INTEGER)]
       |        - c.cvec[CAST(i AS INTEGER)]) * 1000000) AS BIGINT)) AS f
       |  FROM asg a
       |  JOIN embeddings e ON e.vec_id = a.nid
       |  JOIN cents c ON c.cid = a.cid),
       |cbr AS (SELECT nid AS code, f AS cf FROM rv WHERE nid % $pqMod = 0),
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM rv p, js, cbr c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |query_probe AS (
       |  SELECT qid, cid FROM (
       |    SELECT e.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cid) AS cr
       |    FROM embeddings e, cents c WHERE e.vec_id < $nQueries) WHERE cr <= $nProbe),
       |qrv AS (
       |  SELECT p.qid, p.cid,
       |    list_transform(range(1, ${dim + 1}), i ->
       |      CAST(floor(((eq.embedding::DOUBLE[])[CAST(i AS INTEGER)]
       |        - c.cvec[CAST(i AS INTEGER)]) * 1000000) AS BIGINT)) AS f
       |  FROM query_probe p
       |  JOIN embeddings eq ON eq.vec_id = p.qid
       |  JOIN cents c ON c.cid = p.cid),
       |qcd AS (
       |  SELECT q.qid, q.cid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (q.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (q.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS qdist
       |  FROM qrv q, js, cbr c),
       |scored AS (
       |  SELECT q.qid, codes.nid, CAST(-sum(q.qdist) AS DOUBLE) AS score
       |  FROM codes
       |  JOIN asg a ON a.nid = codes.nid
       |  JOIN qcd q ON q.cid = a.cid AND q.j = codes.j AND q.code = codes.code
       |  WHERE codes.nid <> q.qid
       |  GROUP BY q.qid, codes.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q102 oracle, generated: IVF-PQ re-derived end-to-end — the q23-style
    * cosine argmax assignment/probing over mod-seeded centroids composed
    * with the q74 fixed-point PQ encode + ADC scoring, restricted to each
    * query's probed inverted lists. */
  private def ivfPqAdcOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nProbe: Int = 2, k: Int = 5, nQueries: Int = 8,
      // q188: corpus-side survivor predicate (SQL over `codes.nid`) —
      // the tombstone cut, applied where the engine's anti-join applies
      extraNidPred: String = ""): String = {
    val dsub = dim / m
    s"""WITH fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp WHERE vec_id % $pqMod = 0),
       |cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |${twoLevelAssignSql("cents")},
       |${twoLevelProbeSql(nQueries = nQueries, nProbe = nProbe)},
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |scored AS (
       |  SELECT p.qid, codes.nid, CAST(-sum(q.dist) AS DOUBLE) AS score
       |  FROM query_probe p
       |  JOIN corpus_assign a ON a.cid = p.cid
       |  JOIN codes ON codes.nid = a.nid
       |  JOIN cd q ON q.j = codes.j AND q.code = codes.code AND q.nid = p.qid
       |  WHERE codes.nid <> p.qid$extraNidPred
       |  GROUP BY p.qid, codes.nid)
       |SELECT qid, nid, rank, round(score, 4) AS score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** q185 oracle, generated: EMBEDDING near-dup admission re-derived —
    * the q176/q178 serve+rerank pipeline with the corpus restricted to
    * vec_id >= 16 and the query batch constructed as 8 natural vectors
    * (qid 0–7) plus 8 RE-EMBEDDED corpus copies (qid 8–15 carrying
    * vec 100–107's embeddings — the semantic re-crawl plant), followed
    * by the admission rule: top-1 exact cosine ≥ τ → dup_corpus (keep =
    * matched corpus id, ties → smallest), else admitted (keep = self).
    * Centroids/codebook derive from the FULL table (train-time view),
    * codes only from the corpus — exactly the Spark fixture. */
  private def embedAdmitOracle(dim: Int = 64, m: Int = 8,
      pqMod: String = autoPqModSql("embeddings"),
      ivfMod: String = autoModSql("embeddings"),
      nProbe: Int = 2, shortK: Int = 20, tauBp: Long = 9990L): String = {
    val dsub = dim / m
    s"""WITH qmap AS (
       |  SELECT CAST(q AS BIGINT) AS qid,
       |    CAST(CASE WHEN q < 8 THEN q ELSE q + 92 END AS BIGINT) AS src
       |  FROM generate_series(0, 15) t(q)),
       |fp AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS f
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code, f AS cf FROM fp WHERE vec_id % $pqMod = 0),
       |cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
       |  FROM embeddings WHERE vec_id % $ivfMod = 0),
       |${twoLevelAssignSql("cents")},
       |tl_qsup AS (
       |  SELECT qid, sid, qvec FROM (
       |    SELECT qm.qid, s.sid, e.embedding::DOUBLE[] AS qvec,
       |      row_number() OVER (PARTITION BY qm.qid ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], s.svec) DESC, s.sid) AS r
       |    FROM qmap qm JOIN embeddings e ON e.vec_id = qm.src, tl_supers s)
       |  WHERE r = 1),
       |query_probe AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, mm.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        list_cosine_similarity(q.qvec, mm.cvec) DESC, mm.cid) AS cr
       |    FROM tl_qsup q JOIN tl_cmap mm ON mm.sid = q.sid) WHERE cr <= $nProbe),
       |js AS (SELECT CAST(j AS BIGINT) AS j FROM generate_series(0, ${m - 1}) t(j)),
       |cd AS (
       |  SELECT p.vec_id AS nid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (p.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS dist
       |  FROM fp p, js, cb c WHERE p.vec_id >= 16),
       |codes AS (
       |  SELECT nid, j, code FROM (
       |    SELECT nid, j, code,
       |      row_number() OVER (PARTITION BY nid, j ORDER BY dist, code) AS r
       |    FROM cd) WHERE r = 1),
       |qfp AS (
       |  SELECT qm.qid, p.f FROM qmap qm JOIN fp p ON p.vec_id = qm.src),
       |qcd AS (
       |  SELECT q.qid, js.j, c.code,
       |    list_aggregate(list_transform(range(1, ${dsub + 1}), i ->
       |      (q.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])
       |      * (q.f[CAST($dsub * js.j + i AS INTEGER)] - c.cf[CAST($dsub * js.j + i AS INTEGER)])),
       |      'sum') AS qdist
       |  FROM qfp q, js, cb c),
       |scored AS (
       |  SELECT p.qid, codes.nid, CAST(-sum(q.qdist) AS DOUBLE) AS score
       |  FROM query_probe p
       |  JOIN corpus_assign a ON a.cid = p.cid
       |  JOIN codes ON codes.nid = a.nid
       |  JOIN qcd q ON q.qid = p.qid AND q.j = codes.j AND q.code = codes.code
       |  GROUP BY p.qid, codes.nid),
       |shortlist AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS r
       |    FROM scored) WHERE r <= $shortK),
       |top1 AS (
       |  SELECT qid, nid, score FROM (
       |    SELECT s.qid, s.nid,
       |      list_cosine_similarity(q.qvec, en.embedding::DOUBLE[]) AS score,
       |      row_number() OVER (PARTITION BY s.qid ORDER BY
       |        list_cosine_similarity(q.qvec, en.embedding::DOUBLE[]) DESC, s.nid) AS r
       |    FROM shortlist s
       |    JOIN tl_qsup q ON q.qid = s.qid
       |    JOIN embeddings en ON en.vec_id = s.nid) WHERE r = 1)
       |SELECT qm.qid AS vec_id,
       |  CASE WHEN CAST(floor(t.score * 10000) AS BIGINT) >= $tauBp THEN 'dup_corpus'
       |       ELSE 'admitted' END AS status,
       |  CAST(CASE WHEN CAST(floor(t.score * 10000) AS BIGINT) >= $tauBp THEN t.nid
       |       ELSE qm.qid END AS BIGINT) AS keep_id
       |FROM qmap qm LEFT JOIN top1 t ON t.qid = qm.qid
       |ORDER BY vec_id""".stripMargin
  }

  /** s16le sample `k` (an int expression) re-derived from the hex dump of
    * the WAV body — the q41 arithmetic, parameterized so the frame oracle
    * can reference sample k and k+1 in one row. */
  private def wavSampleSql(k: String): String = {
    // ONE line: this fragment is interpolated into a stripMargin string,
    // and a line starting with `||` would lose a pipe to the outer margin
    val u = s"('0x' || substr(hx, CAST(4*($k)+3 AS INTEGER), 2) || substr(hx, CAST(4*($k)+1 AS INTEGER), 2))::INTEGER"
    s"CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END"
  }

  def oracleSql: Map[String, String] = Map(
    "q60_quality_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_aggregate(list_transform(toks, t -> len(t)), 'sum') AS BIGINT) AS sum_token_len,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |    CAST(len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS BIGINT) AS punct_chars,
        |    CAST(len(list_filter(toks,
        |      t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS BIGINT) AS stop_hits
        |  FROM tk),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |gr AS (SELECT doc_id, array_to_string(toks[p:p+2], ' ') AS gram FROM g),
        |rep AS (
        |  SELECT doc_id,
        |    CAST((count(*) - count(DISTINCT gram)) * 10000 // count(*) AS BIGINT) AS dup_bp
        |  FROM gr GROUP BY doc_id),
        |sel AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END +
        |    CASE WHEN sum_token_len < n_tokens*3 OR sum_token_len > n_tokens*10 THEN 2 ELSE 0 END +
        |    CASE WHEN digit_chars*10000 > n_chars*2000 THEN 4 ELSE 0 END +
        |    CASE WHEN punct_chars*10000 > n_chars*2000 THEN 8 ELSE 0 END +
        |    CASE WHEN stop_hits*10000 < n_tokens*200 THEN 16 ELSE 0 END +
        |    CASE WHEN coalesce(rep.dup_bp, 0) > 2000 THEN 32 ELSE 0 END AS reasons
        |  FROM b LEFT JOIN rep ON b.doc_id = rep.doc_id)
        |SELECT doc_id, n_tokens, CAST(reasons AS BIGINT) AS reasons,
        |  CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS INTEGER) AS passes
        |FROM sel ORDER BY doc_id""".stripMargin,
    "q61_quantize" ->
      """WITH el AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x FROM embeddings),
        |am AS (SELECT vec_id, max(abs(x)) AS amax FROM el GROUP BY vec_id),
        |r AS (
        |  SELECT el.vec_id, el.x, am.amax,
        |    CASE WHEN am.amax = 0 THEN 0
        |      ELSE CAST(floor(el.x * 127 / am.amax + 0.5) AS BIGINT) END AS q
        |  FROM el JOIN am ON el.vec_id = am.vec_id),
        |r2 AS (
        |  SELECT vec_id, amax, q, x,
        |    CASE WHEN amax = 0 THEN 0 ELSE q * amax / 127 END AS recon
        |  FROM r)
        |SELECT vec_id, round(max(amax), 4) AS amax,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(sum(q*q) AS BIGINT) AS sum_q2,
        |  CAST(sum(CAST(floor(abs(x - recon) * 1000000000) AS BIGINT)) AS BIGINT) AS err_e9,
        |  CAST(sum(CAST(floor(abs(x) * 1000000000) AS BIGINT)) AS BIGINT) AS mass_e9,
        |  CAST(CASE WHEN sum(CAST(floor(abs(x) * 1000000000) AS BIGINT)) = 0 THEN 0
        |    ELSE sum(CAST(floor(abs(x - recon) * 1000000000) AS BIGINT)) * 10000
        |      // sum(CAST(floor(abs(x) * 1000000000) AS BIGINT)) END AS BIGINT) AS err_bp
        |FROM r2 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q62_chunking" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt FROM tk),
        |c AS (
        |  SELECT doc_id, toks, nt,
        |    unnest(generate_series(0, CASE WHEN nt <= 64 THEN 0
        |      ELSE CAST(ceil((nt - 64)::DOUBLE / 48) AS BIGINT) END)) AS chunk_index
        |  FROM n)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
        |  CAST(chunk_index * 48 AS BIGINT) AS start,
        |  CAST(least(chunk_index * 48 + 64, nt) AS BIGINT) AS "end",
        |  CAST(least(chunk_index * 48 + 64, nt) - chunk_index * 48 AS BIGINT) AS n_tokens_chunk,
        |  md5(array_to_string(
        |    toks[CAST(chunk_index*48 + 1 AS INTEGER):CAST(least(chunk_index*48 + 64, nt) AS INTEGER)],
        |    ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_index""".stripMargin,
    "q64_dedup_report" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, source,
        |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |keepers AS (SELECT text_key, min(doc_id) AS keep_id FROM keyed GROUP BY text_key)
        |SELECT lang, source,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS dup_bp
        |FROM keyed JOIN keepers USING (text_key)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q63_ngram_counts" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |gr AS (SELECT array_to_string(toks[p:p+2], ' ') AS gram FROM g)
        |SELECT gram, count(*) AS n FROM gr GROUP BY gram
        |HAVING count(*) >= 3
        |ORDER BY n DESC, gram LIMIT 100""".stripMargin,
    "q52_semdedup" -> semdedupOracle(),
    "q53_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    lower(text) || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' ||
         |    CAST(doc_id % 7 AS VARCHAR) || '.com or 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |    CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
         |    CAST(doc_id % 250 AS VARCHAR) AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '${operators.TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '${operators.TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(txt, '${operators.TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
         |    '${operators.TextOps.EmailRe}', '<EMAIL>', 'g'),
         |    '${operators.TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${operators.TextOps.PhoneRe}', '<PHONE>', 'g')) AS redacted_fp
         |FROM p ORDER BY doc_id""".stripMargin,
    "q54_bpe_pairs" ->
      """WITH nrm AS (
        |  SELECT trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |  FROM documents),
        |w AS (SELECT unnest(str_split(nt, ' ')) AS w FROM nrm),
        |w2 AS (SELECT w FROM w WHERE length(w) >= 2),
        |p AS (
        |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
        |  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM w2))
        |SELECT pair, count(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "q55_audio_frames" ->
      s"""WITH audio AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) // 2 AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |ks AS (
         |  SELECT media_id, hx, n, unnest(generate_series(0, n - 1)) AS k
         |  FROM audio),
         |samp AS (
         |  SELECT media_id, k // 256 AS fi,
         |    ${wavSampleSql("k")} AS s,
         |    CASE WHEN (k % 256) <> 255 AND k + 1 < n
         |      THEN ${wavSampleSql("k+1")} END AS s2
         |  FROM ks)
         |SELECT media_id, CAST(fi AS INTEGER) AS frame_index,
         |  count(*) AS n_samples,
         |  CAST(sum(s) AS BIGINT) AS sum_samples,
         |  CAST(sum(s::BIGINT * s) AS BIGINT) AS sum_squares,
         |  CAST(max(abs(s)) AS INTEGER) AS peak_abs,
         |  CAST(sum(CASE WHEN s2 IS NOT NULL AND ((s < 0) <> (s2 < 0))
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
         |FROM samp GROUP BY media_id, fi
         |ORDER BY media_id, frame_index""".stripMargin,
    "q56_image_resize" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 160 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 90 AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT media_id, w, h, (w + 1) // 2 AS rw, (h + 1) // 2 AS rh
        |  FROM imgs),
        |py AS (SELECT media_id, w, h, rw, rh,
        |  unnest(generate_series(0, rh - 1)) AS ry FROM r),
        |px AS (SELECT media_id, w, h, rw, rh, ry,
        |  unnest(generate_series(0, rw - 1)) AS rx FROM py),
        |ch AS (SELECT media_id, w, h, rw, rh, ry, rx,
        |  unnest(generate_series(0, 3)) AS c FROM px),
        |v AS (
        |  SELECT media_id, w, h, rw, rh,
        |    (media_id + 7*(2*ry) + 13*(4*(2*rx) + c)) % 251 AS val
        |  FROM ch)
        |SELECT media_id, CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
        |  CAST(rw AS INTEGER) AS width, CAST(rh AS INTEGER) AS height,
        |  CAST(rw*rh*4 AS BIGINT) AS n_bytes,
        |  CAST(sum(val) AS BIGINT) AS sum_bytes,
        |  CAST(sum(val*val) AS BIGINT) AS sum_squares,
        |  CAST(max(val) AS INTEGER) AS max_px
        |FROM v GROUP BY media_id, w, h, rw, rh
        |ORDER BY media_id""".stripMargin,
    "q57_mix_weights" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS weight
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM c),
        |s AS (
        |  SELECT source, n_docs, weight,
        |    100000 * weight // t.tw AS base,
        |    (100000 * weight) % t.tw AS rem
        |  FROM c, t),
        |lo AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS lo FROM s)
        |SELECT source, n_docs, weight,
        |  CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= lo.lo
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM s, lo ORDER BY source""".stripMargin,
    "q58_shard_stats" ->
      """WITH d AS (
        |  SELECT ('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 64 AS shard,
        |    doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tok,
        |    CAST(length(text) AS BIGINT) AS nch
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(nch) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,
    "q151_orc_roundtrip" ->
      // stats recomputed from the RAW parquet — equality holds only if
      // the ORC roundtrip preserved every row, value, and the lang
      // partition column bit-exactly
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 2147483647)
        |    AS BIGINT) AS text_hash_sum,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q139_tar_shards" ->
      // shard assignment and byte totals recomputed from the raw table;
      // equality holds only if the tar roundtrip preserved every entry
      // and every byte
      """SELECT doc_id // 50 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q140_jsonl_robust" ->
      // exact quarantine count + lossless-good-path totals from the raw
      // table; any parse/escape/routing bug shifts a count or a sum
      """SELECT CAST(count(*) AS BIGINT) AS n_good,
        |  CAST(7 AS BIGINT) AS n_quarantined,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents""".stripMargin,
    "q143_url_dedup" ->
      // the same canonicalization rules in SQL: the synthesized URL's
      // canonical form is constructible directly from the key arithmetic
      """SELECT 'https://www.site' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.com/Products/item-' || CAST(doc_id % 50 AS VARCHAR) ||
        |    '?id=' || CAST(doc_id % 50 AS VARCHAR) AS canonical,
        |  CAST(count(*) AS BIGINT) AS n_urls
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q169_token_budget_mix" ->
      // the same deterministic construction: whitespace token counts,
      // per-source md5-ordered prefix sums, budget = token mass DIV 3,
      // keep while the tokens BEFORE the doc fall short of the budget
      """WITH tk AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |bud AS (
        |  SELECT source, sum(n_tokens) // 3 AS token_budget
        |  FROM tk GROUP BY source),
        |cum AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM tk)
        |SELECT c.source, c.doc_id, c.n_tokens, c.cum_before
        |FROM cum c JOIN bud b USING (source)
        |WHERE c.cum_before < b.token_budget
        |ORDER BY c.source, c.doc_id""".stripMargin,
    "q144_domain_cap" ->
      // the window formulation IS the oracle (correct, just not the
      // scale shape): lowest 50 ids per domain
      """WITH u AS (
        |  SELECT doc_id,
        |    'www.site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain
        |  FROM documents),
        |r AS (
        |  SELECT domain, doc_id,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM u)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM r WHERE rn <= 50 GROUP BY domain ORDER BY domain""".stripMargin,
    "q145_sparql_negated_set" ->
      // !(balCents|^inNation) over the 3-predicate customer graph:
      // forward edges not balCents (mkt + inNation), union reversed
      // edges not inNation (balCents + mkt reversed); BGP solutions are
      // distinct mappings
      """WITH e AS (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS x,
        |         c_mktsegment AS y FROM customer
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR),
        |         'urn:n#' || CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR),
        |         'urn:c#' || CAST(c_custkey AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT c_mktsegment,
        |         'urn:c#' || CAST(c_custkey AS VARCHAR) FROM customer)
        |SELECT DISTINCT x, y FROM e ORDER BY x, y""".stripMargin,
    "q146_html_extract" ->
      // expectation derived from the RAW text: heading + ws-collapsed
      // body, scripts/styles/comments contribute nothing
      """SELECT doc_id,
        |  trim('Title ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q147_nfc_normalize" ->
      // DuckDB nfc_normalize implements the same UAX #15 form; chr(769)/
      // chr(776) are the combining acute/diaeresis the query prepends
      """WITH m AS (
        |  SELECT doc_id,
        |    nfc_normalize('Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text)
        |      AS text_nfc
        |  FROM documents)
        |SELECT doc_id, text_nfc, CAST(length(text_nfc) AS BIGINT) AS n_chars_nfc
        |FROM m ORDER BY doc_id""".stripMargin,
    "q148_dsir_resample" ->
      // same tokenization/bigram basis as q59; target LM from src18 only,
      // pool LM from everything else; unseen-in-target bigrams score 0
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, toks[p] AS t, toks[p+1] AS t2
        |  FROM (SELECT doc_id, source, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS p FROM tk)),
        |tc2 AS (SELECT t, t2, count(*) AS tc2 FROM bg
        |  WHERE source = 'src18' GROUP BY t, t2),
        |tc1 AS (SELECT t, count(*) AS tc1 FROM bg
        |  WHERE source = 'src18' GROUP BY t),
        |sc2 AS (SELECT t, t2, count(*) AS sc2 FROM bg
        |  WHERE source <> 'src18' GROUP BY t, t2),
        |sc1 AS (SELECT t, count(*) AS sc1 FROM bg
        |  WHERE source <> 'src18' GROUP BY t),
        |w AS (
        |  SELECT bg.doc_id,
        |    COALESCE(tc2.tc2 * 10000 // tc1.tc1, 0)
        |      - (sc2.sc2 * 10000 // sc1.sc1) AS dbp
        |  FROM bg
        |  LEFT JOIN tc2 ON bg.t = tc2.t AND bg.t2 = tc2.t2
        |  LEFT JOIN tc1 ON bg.t = tc1.t
        |  JOIN sc2 ON bg.t = sc2.t AND bg.t2 = sc2.t2
        |  JOIN sc1 ON bg.t = sc1.t
        |  WHERE bg.source <> 'src18')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(dbp) AS BIGINT) AS dsir_bp
        |FROM w GROUP BY doc_id
        |ORDER BY dsir_bp DESC, doc_id LIMIT 50""".stripMargin,
    "q59_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[p] AS t, toks[p+1] AS t2
        |  FROM (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS p FROM tk)),
        |c2 AS (SELECT t, t2, count(*) AS c2 FROM bg GROUP BY t, t2),
        |c1 AS (SELECT t, count(*) AS c1 FROM bg GROUP BY t),
        |sc AS (
        |  SELECT bg.doc_id, c2.c2 * 10000 // c1.c1 AS bp
        |  FROM bg JOIN c2 ON bg.t = c2.t AND bg.t2 = c2.t2
        |  JOIN c1 ON bg.t = c1.t)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(bp) AS BIGINT) AS sum_prob_bp,
        |  CAST(CAST(sum(bp) AS BIGINT) // count(*) AS BIGINT) AS avg_prob_bp,
        |  CAST(min(bp) AS BIGINT) AS min_prob_bp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q138_lm_terciles" ->
      // q59's bigram-LM score CTE + per-language integer tercile
      // thresholds from the (lang, score) histogram; bucket rule and
      // threshold definition mirror TextOps.scoreTerciles exactly
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[p] AS t, toks[p+1] AS t2
        |  FROM (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS p FROM tk)),
        |c2 AS (SELECT t, t2, count(*) AS c2 FROM bg GROUP BY t, t2),
        |c1 AS (SELECT t, count(*) AS c1 FROM bg GROUP BY t),
        |sc AS (
        |  SELECT bg.doc_id, c2.c2 * 10000 // c1.c1 AS bp
        |  FROM bg JOIN c2 ON bg.t = c2.t AND bg.t2 = c2.t2
        |  JOIN c1 ON bg.t = c1.t),
        |score AS (
        |  SELECT sc.doc_id, d.lang,
        |    CAST(CAST(sum(bp) AS BIGINT) // count(*) AS BIGINT) AS s
        |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id
        |  GROUP BY sc.doc_id, d.lang),
        |hist AS (SELECT lang, s, count(*) AS c FROM score GROUP BY lang, s),
        |cum AS (
        |  SELECT lang, s, sum(c) OVER (PARTITION BY lang ORDER BY s) AS cum
        |  FROM hist),
        |tot AS (SELECT lang, sum(c) AS n FROM hist GROUP BY lang),
        |thr AS (
        |  SELECT cum.lang,
        |    min(CASE WHEN cum >= (n + 2) // 3 THEN s END) AS t1,
        |    min(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) AS t2
        |  FROM cum JOIN tot ON cum.lang = tot.lang GROUP BY cum.lang),
        |bucketed AS (
        |  SELECT score.lang,
        |    CASE WHEN s <= t1 THEN 'tail'
        |         WHEN s <= t2 THEN 'middle' ELSE 'head' END AS bucket, s
        |  FROM score JOIN thr ON score.lang = thr.lang)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(s) AS BIGINT) AS min_bp, CAST(max(s) AS BIGINT) AS max_bp
        |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "q19_minhash_lsh" ->
      s"""WITH $shingleStatsCte
         |SELECT id_a, id_b, n_inter, n_union, jaccard_bp
         |FROM stats WHERE jaccard_bp >= 5000 ORDER BY id_a, id_b""".stripMargin,
    "q119_cross_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 11),
        |      i -> array_to_string(toks[i:i+12], ' ')) END AS sh
        |  FROM tk),
        |sh AS (SELECT doc_id, source, unnest(list_distinct(sh0.sh)) AS g FROM sh0),
        |j AS (
        |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |    count(*) AS n_shared
        |  FROM (SELECT doc_id, g FROM sh WHERE source = 'src0') te
        |  JOIN (SELECT doc_id, g FROM sh WHERE source <> 'src0') tr
        |    USING (g)
        |  GROUP BY 1, 2)
        |SELECT test_id, train_id, n_shared FROM j
        |ORDER BY test_id, train_id""".stripMargin,
    "q118_minhash_fused" ->
      s"""WITH $shingleStatsCte
         |SELECT id_a, id_b, n_inter, n_union, jaccard_bp
         |FROM stats WHERE jaccard_bp >= 5000 ORDER BY id_a, id_b""".stripMargin,
    "q21_simhash" -> simhashOracle,
    "q39_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)),
        |    (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_fp,
        |  md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS md5_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q40_dedup_clusters_lsh" ->
      s"""WITH RECURSIVE $shingleStatsCte,
         |near AS (SELECT id_a, id_b FROM stats WHERE jaccard_bp >= 5000),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM near
         |  UNION ALL SELECT id_b, id_a FROM near),
         |reach(s, t) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
         |FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q26_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 0 THEN 'jpeg'
        |       WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'avi' END AS format,
        |  CASE WHEN doc_id % 3 IN (0, 2) THEN CAST(16 + doc_id % 160 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 2) THEN CAST(16 + doc_id % 90 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(8000 * (1 + doc_id % 5) AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 48 + 2 AS INTEGER) END AS n_frames,
        |  CAST(octet_length(encode(text)) + CASE
        |    WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 45
        |    WHEN doc_id % 3 = 0 THEN 35
        |    WHEN doc_id % 3 = 1 THEN 44 ELSE 88 END AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "q27_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, upper(hex(encode(text))) AS ph,
        |    doc_id % 48 + 2 AS declared
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, ph, unnest(generate_series(0, declared - 1, 8)) AS frame_index
        |  FROM media)
        |SELECT media_id, CAST(frame_index AS INTEGER) AS frame_index,
        |  md5(ph || '#' || frame_index) AS frame_fp
        |FROM fr ORDER BY media_id, frame_index""".stripMargin,
    "q30_embed_lsh_neardup" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |planted AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(range(0, 64), i -> vec[CAST(i + 1 AS INTEGER)]
        |      * (1 + (i % 7 - 3) * 0.02::DOUBLE)) AS vec
        |  FROM base WHERE vec_id % 17 = 0),
        |al AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
        |FROM al a JOIN al b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q41_wav_decode" ->
      """WITH audio AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id % 3 = 1),
        |samp AS (
        |  SELECT media_id, unnest(list_transform(range(0, nb // 2), k ->
        |    CASE WHEN ('0x' || substr(hx, CAST(4*k+3 AS INTEGER), 2)
        |                     || substr(hx, CAST(4*k+1 AS INTEGER), 2))::INTEGER >= 32768
        |         THEN ('0x' || substr(hx, CAST(4*k+3 AS INTEGER), 2)
        |                    || substr(hx, CAST(4*k+1 AS INTEGER), 2))::INTEGER - 65536
        |         ELSE ('0x' || substr(hx, CAST(4*k+3 AS INTEGER), 2)
        |                    || substr(hx, CAST(4*k+1 AS INTEGER), 2))::INTEGER END)) AS s
        |  FROM audio),
        |agg AS (
        |  SELECT media_id, count(*) AS n, sum(s) AS sums,
        |    sum(s::BIGINT * s) AS ss, max(abs(s)) AS pk
        |  FROM samp GROUP BY media_id)
        |SELECT a.media_id, a.sample_rate, a.channels,
        |  CAST(coalesce(g.n, 0) AS BIGINT) AS n_samples,
        |  CAST(coalesce(g.sums, 0) AS BIGINT) AS sum_samples,
        |  CAST(coalesce(g.ss, 0) AS BIGINT) AS sum_squares,
        |  CAST(coalesce(g.pk, 0) AS INTEGER) AS peak_abs
        |FROM audio a LEFT JOIN agg g USING (media_id)
        |ORDER BY media_id""".stripMargin,
    "q42_png_decode" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 160 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 90 AS BIGINT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT media_id, w, h, unnest(generate_series(0, w*h*4 - 1)) AS k
        |  FROM imgs),
        |v AS (
        |  SELECT media_id, k % (w*4) AS x,
        |    (media_id + 7*(k // (w*4)) + 13*(k % (w*4))) % 251 AS val
        |  FROM px),
        |agg AS (
        |  SELECT media_id, sum(val) AS sb, sum(val*val) AS ss,
        |    max(val) FILTER (x % 4 = 0) AS mr,
        |    max(val) FILTER (x % 4 = 1) AS mg,
        |    max(val) FILTER (x % 4 = 2) AS mb,
        |    max(val) FILTER (x % 4 = 3) AS ma
        |  FROM v GROUP BY media_id)
        |SELECT i.media_id, CAST(i.w AS INTEGER) AS width,
        |  CAST(i.h AS INTEGER) AS height,
        |  CAST(i.w * i.h * 4 AS BIGINT) AS n_bytes,
        |  CAST(a.sb AS BIGINT) AS sum_bytes,
        |  CAST(a.ss AS BIGINT) AS sum_squares,
        |  CAST(a.mr AS INTEGER) AS max_r, CAST(a.mg AS INTEGER) AS max_g,
        |  CAST(a.mb AS INTEGER) AS max_b, CAST(a.ma AS INTEGER) AS max_a
        |FROM imgs i JOIN agg a USING (media_id)
        |ORDER BY media_id""".stripMargin,
    "q43_avi_decode" ->
      """WITH vids AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 48 + 2 AS BIGINT) AS nf,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS fw,
        |    CAST(6 + doc_id % 6 AS BIGINT) AS fh
        |  FROM documents),
        |fr AS (
        |  SELECT media_id, fw*fh*3 AS nb, unnest(generate_series(0, nf - 1)) AS f
        |  FROM vids),
        |px AS (
        |  SELECT media_id, f, nb, unnest(generate_series(0, nb - 1)) AS k
        |  FROM fr),
        |v AS (
        |  SELECT media_id, f, nb, (media_id + 11*f + 5*k) % 241 AS val
        |  FROM px)
        |SELECT media_id, CAST(f AS INTEGER) AS frame_index,
        |  CAST(nb AS BIGINT) AS n_bytes,
        |  CAST(sum(val) AS BIGINT) AS sum_bytes,
        |  CAST(sum(val*val) AS BIGINT) AS sum_squares,
        |  CAST(max(val) AS INTEGER) AS peak
        |FROM v GROUP BY media_id, f, nb
        |ORDER BY media_id, frame_index""".stripMargin,
    "q44_jpeg_decode" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8*(2 + doc_id % 6) AS BIGINT) AS w,
        |    CAST(8*(2 + doc_id % 4) AS BIGINT) AS h
        |  FROM documents),
        |bxs AS (
        |  SELECT media_id, w, h, unnest(generate_series(0, w//8 - 1)) AS bx
        |  FROM imgs),
        |blk AS (
        |  SELECT media_id, w, h, bx, unnest(generate_series(0, h//8 - 1)) AS byy
        |  FROM bxs),
        |v AS (
        |  SELECT media_id, w, h, (media_id + 3*bx + 5*byy) % 256 AS c
        |  FROM blk)
        |SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w*h AS BIGINT) AS n_pixels,
        |  CAST(sum(64*c) AS BIGINT) AS sum_bytes,
        |  CAST(sum(64*c*c) AS BIGINT) AS sum_squares,
        |  CAST(max(c) AS INTEGER) AS max_px,
        |  CAST(min(c) AS INTEGER) AS min_px
        |FROM v GROUP BY media_id, w, h
        |ORDER BY media_id""".stripMargin,
    "q45_mjpeg_decode" ->
      """WITH vids AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 48 + 2 AS BIGINT) AS nf,
        |    CAST(8*(2 + doc_id % 3) AS BIGINT) AS fw,
        |    CAST(8*(2 + doc_id % 2) AS BIGINT) AS fh
        |  FROM documents),
        |fr AS (
        |  SELECT media_id, fw, fh, unnest(generate_series(0, nf - 1)) AS f
        |  FROM vids),
        |bxs AS (
        |  SELECT media_id, fw, fh, f, unnest(generate_series(0, fw//8 - 1)) AS bx
        |  FROM fr),
        |blk AS (
        |  SELECT media_id, fw, fh, f, bx, unnest(generate_series(0, fh//8 - 1)) AS byy
        |  FROM bxs),
        |v AS (
        |  SELECT media_id, fw, fh, f, (media_id + 7*f + 3*bx + 5*byy) % 256 AS c
        |  FROM blk)
        |SELECT media_id, CAST(f AS INTEGER) AS frame_index,
        |  CAST(fw AS INTEGER) AS width, CAST(fh AS INTEGER) AS height,
        |  CAST(fw*fh AS BIGINT) AS n_pixels,
        |  CAST(sum(64*c) AS BIGINT) AS sum_bytes,
        |  CAST(sum(64*c*c) AS BIGINT) AS sum_squares,
        |  CAST(max(c) AS INTEGER) AS peak
        |FROM v GROUP BY media_id, f, fw, fh
        |ORDER BY media_id, frame_index""".stripMargin,
    "q46_dup_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS p
        |  FROM tk),
        |gr AS (
        |  SELECT doc_id, p - 1 AS pos, array_to_string(toks[p:p+4], ' ') AS gram
        |  FROM g),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |i AS (
        |  SELECT id_a, id_b, diag, pos_a,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
        |  FROM m)
        |SELECT id_a, id_b,
        |  CAST(min(pos_a) AS BIGINT) AS a_start,
        |  CAST(max(pos_a) + 4 AS BIGINT) AS a_end,
        |  CAST(min(pos_a) - diag AS BIGINT) AS b_start,
        |  CAST(max(pos_a) - diag + 4 AS BIGINT) AS b_end,
        |  CAST(max(pos_a) - min(pos_a) + 5 AS BIGINT) AS n_tokens
        |FROM i GROUP BY id_a, id_b, diag, grp
        |ORDER BY id_a, id_b, a_start, b_start""".stripMargin,
    "q47_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS p
        |  FROM tk),
        |gr AS (
        |  SELECT doc_id, array_to_string(toks[p:p+4], ' ') AS gram
        |  FROM g),
        |ref AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 10 = 0),
        |corp AS (SELECT doc_id, gram FROM gr WHERE doc_id % 10 <> 0)
        |SELECT c.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(r.gram) AS BIGINT) AS n_dirty,
        |  CAST(count(r.gram) * 10000 // count(*) AS BIGINT) AS contamination_bp
        |FROM corp c LEFT JOIN ref r ON c.gram = r.gram
        |GROUP BY c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q48_pack_sequences" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tk)
        |SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "q49_range_join" ->
      """WITH s0 AS (
        |  SELECT CAST(epoch_us(date_trunc('day', min(ts))) // 1000000 AS BIGINT) AS s0
        |  FROM events),
        |iv AS (
        |  SELECT i AS interval_id, s0.s0 + i*129600 AS ws,
        |    s0.s0 + i*129600 + 43200 AS we
        |  FROM s0, range(20) t(i)),
        |m AS (
        |  SELECT iv.interval_id, e.user_id, e.value
        |  FROM events e JOIN iv
        |    ON epoch_us(e.ts) // 1000000 >= iv.ws
        |   AND epoch_us(e.ts) // 1000000 < iv.we)
        |SELECT interval_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM m GROUP BY interval_id
        |ORDER BY interval_id""".stripMargin,
    "q50_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p
        |  FROM tk),
        |gr AS (
        |  SELECT doc_id, array_to_string(toks[p:p+2], ' ') AS gram
        |  FROM g)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
        |  CAST((count(*) - count(DISTINCT gram)) * 10000 // count(*) AS BIGINT) AS dup_gram_bp
        |FROM gr GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q51_paragraph_dedup" ->
      """WITH t2 AS (
        |  SELECT doc_id, text || '. all rights reserved. terms apply' AS text
        |  FROM documents),
        |p0 AS (
        |  SELECT doc_id,
        |    unnest(str_split(text, '. ')) AS para,
        |    unnest(range(len(str_split(text, '. ')))) AS para_idx
        |  FROM t2),
        |p AS (
        |  SELECT doc_id, para_idx, md5(trim(lower(para))) AS ph
        |  FROM p0 WHERE len(trim(para)) > 0)
        |SELECT ph, n_copies, keep_doc_id, keep_para_idx FROM (
        |  SELECT ph,
        |    CAST(count(*) OVER (PARTITION BY ph) AS BIGINT) AS n_copies,
        |    row_number() OVER (PARTITION BY ph ORDER BY doc_id, para_idx) AS rn,
        |    doc_id AS keep_doc_id,
        |    CAST(para_idx AS BIGINT) AS keep_para_idx
        |  FROM p)
        |WHERE rn = 1 AND n_copies >= 2
        |ORDER BY ph""".stripMargin,
    "q01_pushdown_scan" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE user_id IN (1,2,3,5,8,13,21,34)
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "q02_stats_index" ->
      """SELECT user_id, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q03_distinct" ->
      "SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id",
    "q04_limit" ->
      "SELECT event_id, ts, user_id FROM events ORDER BY event_id LIMIT 100",
    "q05_union_sites" ->
      """SELECT * FROM (
        |  SELECT 'purchases' AS site, event_id, value FROM events WHERE event_type='purchase'
        |  UNION ALL
        |  SELECT 'signups' AS site, event_id, value FROM events WHERE event_type='signup')
        |ORDER BY site, event_id""".stripMargin,
    "q06_string_cast" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_name""".stripMargin,
    "q07_uri_concat" ->
      """SELECT event_id, 'urn:' || event_type || '/' || CAST(user_id AS VARCHAR) AS uri
        |FROM events ORDER BY event_id""".stripMargin,
    "q08_semi_join" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q09_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q10_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q11_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q12_sparql_bgp" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(n_nationkey AS VARCHAR) AS n,
        |  'urn:r#' || CAST(r_regionkey AS VARCHAR) AS r
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c, n, r""".stripMargin,
    "q13_sparql_path" ->
      """SELECT x FROM (
        |  SELECT 'urn:r#2' AS x
        |  UNION ALL
        |  SELECT 'urn:n#' || CAST(n_nationkey AS VARCHAR) FROM nation WHERE n_regionkey = 2
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 2)
        |ORDER BY x""".stripMargin,
    "q14_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'urn:o#' || CAST(o_orderkey AS VARCHAR) AS src,
        |         'urn:c#' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR),
        |         'urn:n#' || CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'urn:n#' || CAST(n_nationkey AS VARCHAR),
        |         'urn:r#' || CAST(n_regionkey AS VARCHAR) FROM nation),
        |closure AS (
        |  SELECT DISTINCT src, dst FROM edges
        |  UNION
        |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src)
        |SELECT src, dst FROM closure ORDER BY src, dst""".stripMargin,
    "q15_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q16_sessionize" ->
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS nf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |  FROM flags)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q17_asof_join" ->
      """SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
        |  s.value AS asof_value, s.sts AS asof_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id AS su, ts AS sts, value FROM events
        |           WHERE event_type = 'signup') s
        |  ON p.user_id = s.su AND p.ts >= s.sts
        |ORDER BY event_id""".stripMargin,
    "q18_dedup_exact" ->
      """SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_token_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
        |  CAST(len(list_distinct(a.toks || b.toks)) AS BIGINT) AS n_union,
        |  CAST(len(list_intersect(a.toks, b.toks)) * 10000
        |    // len(list_distinct(a.toks || b.toks)) AS BIGINT) AS jaccard_bp
        |FROM tk a JOIN tk b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q22_embed_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, nid, rank, round(score, 4) AS score FROM (
        |  SELECT qid, nid, score,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q23_embed_ivf" -> ivfKmeansOracle(),
    "q24_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','auf'], t))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['el','la','de','que','y','en','un','es','se','no'], t))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['le','la','de','et','un','que','pour','dans','ce','une'], t))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['的','是','不','了','在','人','有','我','他','这'], t))) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS guessed
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q25_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(list_aggregate(list_transform(toks, t -> len(t)), 'sum') AS DOUBLE)
        |    / len(toks), 4) AS avg_token_len,
        |  round(CAST(len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)
        |    / len(text), 4) AS punct_ratio,
        |  round(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |    / len(text), 4) AS digit_ratio,
        |  round(CAST(len(list_filter(toks,
        |    t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE)
        |    / len(toks), 4) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        |  md5(array_to_string(toks, ' ')) AS fingerprint
        |FROM base ORDER BY doc_id""".stripMargin,
    "q29_embed_neardup" ->
      """SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "q31_sample_per_group" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    "q32_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |    ' +', ' ', 'g')) AS normalized
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_dedup_clusters" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
        |  FROM documents),
        |near AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM tk a JOIN tk b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 10000
        |    // len(list_distinct(a.toks || b.toks)) >= 5000),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM near
        |  UNION ALL SELECT id_b, id_a FROM near),
        |reach(s, t) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
        |SELECT d.doc_id,
        |  least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
        |FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q137_cluster_split" ->
      // q40's recursive-CTE TRUE-pair component relation (3-gram
      // Jaccard >= 0.5 — simultaneously a recall gate on the LSH
      // candidate path) + the same mod-10 split rules; leaky = clusters
      // whose members span >= 2 naive splits
      s"""WITH RECURSIVE $shingleStatsCte,
        |near AS (SELECT id_a, id_b FROM stats WHERE jaccard_bp >= 5000),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM near
        |  UNION ALL SELECT id_b, id_a FROM near),
        |reach(s, t) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a),
        |comp AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id),
        |assigned AS (
        |  SELECT doc_id, component,
        |    CASE WHEN component % 10 < 8 THEN 'train'
        |         WHEN component % 10 < 9 THEN 'val' ELSE 'test' END AS split,
        |    CASE WHEN doc_id % 10 < 8 THEN 'train'
        |         WHEN doc_id % 10 < 9 THEN 'val' ELSE 'test' END AS naive
        |  FROM comp),
        |per_cluster AS (
        |  SELECT component, split, count(*) AS n,
        |    count(DISTINCT naive) AS nv
        |  FROM assigned GROUP BY component, split)
        |SELECT split, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_clusters,
        |  CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaky_clusters
        |FROM per_cluster GROUP BY split ORDER BY split""".stripMargin,
    "q33_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q34_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q38_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(tf * ln((n.n + 1.0) / (dfc + 1.0)), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, rank, score FROM (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q36_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q37_pivot" ->
      """SELECT date_trunc('day', ts) AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_ingest_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q65_winnow_fp" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |gh AS (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(array_to_string(toks[p:p+2], ' ')), 1, 15))::BIGINT
        |      % 2147483647 AS gh
        |  FROM g),
        |wm AS (
        |  SELECT doc_id,
        |    min(gh) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    lead(gh, 3) OVER (PARTITION BY doc_id ORDER BY p) AS full_w
        |  FROM gh)
        |SELECT DISTINCT doc_id, fp FROM wm WHERE full_w IS NOT NULL
        |ORDER BY doc_id, fp""".stripMargin,
    "q66_split_report" ->
      """WITH a AS (
        |  SELECT lang, source,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |           THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |cells AS (
        |  SELECT lang, source, split, count(*) AS n_docs
        |  FROM a GROUP BY lang, source, split),
        |tot AS (SELECT lang, source, sum(n_docs) AS sn FROM cells GROUP BY lang, source)
        |SELECT lang, source, split, n_docs,
        |  CAST(n_docs * 10000 // sn AS BIGINT) AS share_bp
        |FROM cells JOIN tot USING (lang, source)
        |ORDER BY lang, source, split""".stripMargin,
    "q67_dim_stats" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT v, unnest(generate_series(0, len(v) - 1)) AS dim FROM e),
        |x AS (
        |  SELECT CAST(dim AS BIGINT) AS dim,
        |    CAST(floor(v[CAST(dim + 1 AS INTEGER)] * 1000000) AS BIGINT) AS fp6,
        |    CAST(floor(v[CAST(dim + 1 AS INTEGER)] * 1000) AS BIGINT) AS fp3
        |  FROM d)
        |SELECT dim, count(*) AS n,
        |  CAST(sum(fp6) AS BIGINT) AS sum_fp6,
        |  min(fp6) AS min_fp6,
        |  max(fp6) AS max_fp6,
        |  CAST(sum(fp3 * fp3) AS BIGINT) AS ssq_fp3
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    "q68_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |vocab AS (
        |  SELECT t, 1 AS in_vocab FROM (
        |    SELECT t, count(*) AS cnt FROM tok GROUP BY t
        |    ORDER BY cnt DESC, t LIMIT 10)),
        |j AS (SELECT tok.doc_id, coalesce(vocab.in_vocab, 0) AS iv
        |  FROM tok LEFT JOIN vocab USING (t))
        |SELECT doc_id, count(*) AS n_toks,
        |  CAST(sum(iv) AS BIGINT) AS n_in_vocab,
        |  CAST(sum(iv) * 10000 // count(*) AS BIGINT) AS coverage_bp
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q69_order_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q70_zorder_layout" -> {
      // the same bit-interleave as Layout.zorderKey, unrolled into SQL
      val terms = (0 until 16).flatMap { i =>
        Seq(s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i})",
          s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey, $terms AS zkey FROM lineitem)
         |SELECT CAST(zkey >> 12 AS BIGINT) AS zbucket, count(*) AS n,
         |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },
    "q71_source_overlap" ->
      """WITH tk AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT source, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |  FROM tk),
        |g AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh0),
        |sz AS (SELECT source, count(*) AS sz FROM g GROUP BY source),
        |inter AS (
        |  SELECT a.source AS slice_a, b.source AS slice_b, count(*) AS n_inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT slice_a, slice_b, n_inter,
        |  sa.sz + sb.sz - n_inter AS n_union,
        |  n_inter * 10000 // (sa.sz + sb.sz - n_inter) AS jaccard_bp
        |FROM inter
        |JOIN sz sa ON sa.source = slice_a
        |JOIN sz sb ON sb.source = slice_b
        |ORDER BY slice_a, slice_b""".stripMargin,
    "q72_compaction_plan" ->
      """WITH f AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_rows
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n_rows,
        |  (CAST(sum(n_rows) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |    - n_rows) // 500 AS group_id
        |FROM f ORDER BY event_type, day""".stripMargin,
    "q73_heavy_hitters" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT user_id, n, n * 10000 // total AS share_bp,
        |  CASE WHEN n * 10000 // total <= 100 THEN CAST(1 AS BIGINT)
        |    ELSE (n * 10000 // total + 99) // 100 END AS salt_factor
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    "q74_embed_pq" -> pqAdcOracle(),
    "q102_ivf_pq" -> ivfPqAdcOracle(),
    "q175_pq_rerank" -> pqRerankOracle(),
    // q176 serves q102's retrieval from the persisted index — the index
    // content is deterministic (mod-seeded centroids, fixed-cell
    // codebook, two-level assignment), so the oracle is q102's verbatim
    "q176_ann_index_serve" -> ivfPqAdcOracle(),
    "q177_ivfpq_residual" -> ivfPqResidualOracle(),
    "q178_ann_serve_rerank" -> ivfPqServeRerankOracle(),
    // q179 serves q102's retrieval from the APPEND-grown index (base
    // 80% built, 20% appended against the frozen persisted structure) —
    // the oracle is q102's verbatim, so the hash matches iff the append
    // path encodes byte-identically to a one-shot build over the union
    "q179_ann_index_append" -> ivfPqAdcOracle(),
    // q183: same verbatim-q102 gate over the STREAMING encode path
    // (exactly-once codes_stream partition writes)
    "q183_ann_stream_ingest" -> ivfPqAdcOracle(),
    // q188: q102's grammar over the SURVIVING corpus — the tombstoned
    // vec_id % 7 == 3 slice excluded exactly where the engine's
    // anti-join excludes it (the scored candidate pairs)
    "q188_ann_tombstone_serve" ->
      ivfPqAdcOracle(extraNidPred = " AND codes.nid % 7 <> 3"),
    "q187_tombstone_admit" -> tombstoneAdmitOracle,
    "q185_embed_admit" -> embedAdmitOracle(),
    // q186: q185's oracle VERBATIM — the one-AvailableNow-batch
    // streaming ingest must reproduce the batch admission exactly
    "q186_stream_embed_ingest" -> embedAdmitOracle(),
    "q182_bloom_index_probe" ->
      // q82's mask semantics with the probe side restricted to the
      // batch split — the persisted mask is bit-identical to the inline
      // build (same md5 slice positions), so the report matches FP-for-FP
      """WITH tk AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |sh AS (SELECT DISTINCT doc_id, source, array_to_string(toks[p:p+2], ' ') AS gram FROM g),
        |refpos AS (
        |  SELECT DISTINCT ('0x' || substr(md5(gram), 1 + 5*i, 5))::BIGINT AS pos
        |  FROM (SELECT DISTINCT gram FROM sh WHERE source = 'src0') refg,
        |       unnest([0, 1, 2, 3]) AS t(i)),
        |hit AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(gram), 1, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 6, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 11, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 16, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      THEN 1 ELSE 0 END AS h
        |  FROM sh WHERE doc_id % 5 = 0)
        |SELECT doc_id, count(*) AS n_grams, CAST(sum(h) AS BIGINT) AS n_maybe_dirty,
        |  CAST(sum(h) AS BIGINT) * 10000 // count(*) AS contamination_bp
        |FROM hit GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q189_bloom_sharded_probe" -> bloomShardedProbeOracle(),
    "q193_takedown_pipeline" ->
      // five surfaces, one relation: each branch is the corresponding
      // single-surface oracle (q187 / q180 / q171 / q189 / q176's
      // grammars) with its corpus/reference/nid predicate restricted to
      // the takedown survivors (ids ≡ 1 mod 20 deleted) — the one-call
      // takedown must leave every surface in exactly the state its
      // dedicated takedown query family verifies
      s"""SELECT * FROM (
        |SELECT 'exact' AS surface, doc_id AS id, keep_id AS a,
        |  CAST(0 AS BIGINT) AS b, status AS s
        |FROM ( $tombstoneAdmitOracle )
        |UNION ALL
        |SELECT 'neardup', doc_id, keep_id, CAST(0 AS BIGINT), status
        |FROM ( ${nearDupAdmitOracle(
              """SELECT d.doc_id,
                |    CASE WHEN d.doc_id % 20 = 15 AND b.text IS NOT NULL THEN b.text
                |         ELSE d.text END AS text
                |  FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id - 10
                |  WHERE d.doc_id % 5 = 0""".stripMargin,
              corpusPred = "doc_id % 5 <> 0 AND doc_id % 20 <> 1")} )
        |UNION ALL
        |SELECT 'spans', doc_id, span_start, span_end, ''
        |FROM ( ${anchorIndexBatchOracle(
              corpusPred = "doc_id % 5 <> 0 AND doc_id % 20 <> 1")} )
        |UNION ALL
        |SELECT 'bloom', doc_id, n_maybe_dirty, contamination_bp, ''
        |FROM ( ${bloomShardedProbeOracle(
              refPred = "source = 'src0' AND doc_id % 20 <> 1")} )
        |UNION ALL
        |SELECT 'ann', qid, nid, rank, ''
        |FROM ( ${ivfPqAdcOracle(extraNidPred = " AND codes.nid % 20 <> 1")} )
        |) ORDER BY surface, id, a, b""".stripMargin,
    "q199_pipeline_tick" ->
      // q193's five-surface grammar with the pipelineTick fixture's
      // survivor cut (ids ≡ 3 mod 20 deleted, then PHYSICALLY applied
      // by the tick's compactions/rebuilds/folds — serving after the
      // autopilot must equal the pending-tombstone anti-join semantics
      // these oracles state)
      s"""SELECT * FROM (
        |SELECT 'exact' AS surface, doc_id AS id, keep_id AS a,
        |  CAST(0 AS BIGINT) AS b, status AS s
        |FROM ( ${tombstoneAdmitOracleWith("keep_id % 20 <> 3")} )
        |UNION ALL
        |SELECT 'neardup', doc_id, keep_id, CAST(0 AS BIGINT), status
        |FROM ( ${nearDupAdmitOracle(
              """SELECT d.doc_id,
                |    CASE WHEN d.doc_id % 20 = 15 AND b.text IS NOT NULL THEN b.text
                |         ELSE d.text END AS text
                |  FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id - 10
                |  WHERE d.doc_id % 5 = 0""".stripMargin,
              corpusPred = "doc_id % 5 <> 0 AND doc_id % 20 <> 3")} )
        |UNION ALL
        |SELECT 'spans', doc_id, span_start, span_end, ''
        |FROM ( ${anchorIndexBatchOracle(
              corpusPred = "doc_id % 5 <> 0 AND doc_id % 20 <> 3")} )
        |UNION ALL
        |SELECT 'bloom', doc_id, n_maybe_dirty, contamination_bp, ''
        |FROM ( ${bloomShardedProbeOracle(
              refPred = "source = 'src0' AND doc_id % 20 <> 3")} )
        |UNION ALL
        |SELECT 'ann', qid, nid, rank, ''
        |FROM ( ${ivfPqAdcOracle(extraNidPred = " AND codes.nid % 20 <> 3")} )
        |) ORDER BY surface, id, a, b""".stripMargin,
    // the append-grown masks must probe identically to the one-shot
    // build over the union reference — q189's oracle VERBATIM isolates
    // the OR-append path (any dropped or doubled bit breaks FP parity)
    "q192_bloom_append_probe" -> bloomShardedProbeOracle(),
    "q180_neardup_admit" -> nearDupAdmitOracle(
      """SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 20 = 15 AND b.text IS NOT NULL THEN b.text
        |         ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id - 10
        |  WHERE d.doc_id % 5 = 0""".stripMargin),
    "q181_stream_neardup_ingest" -> nearDupAdmitOracle(
      """SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL THEN n.text
        |         WHEN d.doc_id % 20 = 15 AND b.text IS NOT NULL THEN b.text
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
        |  LEFT JOIN documents b ON b.doc_id = d.doc_id - 10
        |  WHERE d.doc_id % 5 = 0""".stripMargin),
    "q75_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
        |  WHERE tok IN ('dup', 'spark', 'hash') GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    (1000 * (2*n_docs - 2*df + 1) * 22 * tf * total_toks) //
        |      ((2*df + 1) * (10*tf*total_toks + 3*total_toks + 9*dl.dl*n_docs)) AS score_m
        |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(score_m) AS BIGINT) AS bm25_m
        |FROM sc GROUP BY 1 ORDER BY bm25_m DESC, doc_id LIMIT 20""".stripMargin,
    "q76_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_first FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_prev, min(s1.t_first) AS t_first
        |  FROM e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t_first
        |    AND epoch_us(e.ts) <= epoch_us(s1.t_first) + 604800000000
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_prev, min(s2.t_first) AS t_first
        |  FROM e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_prev
        |    AND epoch_us(e.ts) <= epoch_us(s2.t_first) + 604800000000
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY step_idx""".stripMargin,
    "q77_retention" ->
      """WITH wks AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM wks GROUP BY 1)
        |SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM wks w JOIN c ON w.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q78_setjoin_exact" ->
      // the ORACLE is the literal all-pairs join — a hash match proves the
      // prefix-filtered plan is exactly lossless at the threshold
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |  FROM tk),
        |sh AS (SELECT DISTINCT doc_id, unnest(sh0.sh) AS gram FROM sh0),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  n_inter * 10000 // (sa.sz + sb.sz - n_inter) AS jaccard_bp
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE n_inter * 10000 // (sa.sz + sb.sz - n_inter) >= 5000
        |ORDER BY id_a, id_b""".stripMargin,
    "q79_json_extract" ->
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q81_cdc_upsert" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        |  ts AS last_ts
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q82_bloom_decontaminate" ->
      // rebuilds the EXACT bloom semantics: bit p set ⟺ p is one of the 4
      // md5-slice positions of SOME reference gram — so "all 4 bits set"
      // = all 4 positions in the distinct reference position set, false
      // positives included (gram hitting 4 bits set by DIFFERENT grams)
      """WITH tk AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |sh AS (SELECT DISTINCT doc_id, source, array_to_string(toks[p:p+2], ' ') AS gram FROM g),
        |refpos AS (
        |  SELECT DISTINCT ('0x' || substr(md5(gram), 1 + 5*i, 5))::BIGINT AS pos
        |  FROM (SELECT DISTINCT gram FROM sh WHERE source = 'src0') refg,
        |       unnest([0, 1, 2, 3]) AS t(i)),
        |hit AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(gram), 1, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 6, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 11, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      AND ('0x' || substr(md5(gram), 16, 5))::BIGINT IN (SELECT pos FROM refpos)
        |      THEN 1 ELSE 0 END AS h
        |  FROM sh)
        |SELECT doc_id, count(*) AS n_grams, CAST(sum(h) AS BIGINT) AS n_maybe_dirty,
        |  CAST(sum(h) AS BIGINT) * 10000 // count(*) AS contamination_bp
        |FROM hit GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q83_moving_window" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS rev, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n, CAST(rev AS DOUBLE) AS day_value,
        |  CAST(sum(rev) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS window_value,
        |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_n
        |FROM d ORDER BY event_type, day""".stripMargin,
    "q84_hll_sketch" -> hllSketchOracle(),
    "q85_pagerank" ->
      """WITH eraw AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |edges AS (
        |  SELECT 2*p AS src, 2*s + 1 AS dst FROM eraw
        |  UNION ALL
        |  SELECT 2*s + 1 AS src, 2*p AS dst FROM eraw),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |s0 AS (SELECT node, CAST(1000 AS BIGINT) AS score_m FROM nodes),
        |i1 AS (SELECT e.dst AS node, sum(s.score_m // d.outdeg) AS in_m
        |  FROM edges e JOIN s0 s ON e.src = s.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |s1 AS (SELECT n.node, 150 + 8500 * COALESCE(i.in_m, 0) // 10000 AS score_m
        |  FROM nodes n LEFT JOIN i1 i ON n.node = i.node),
        |i2 AS (SELECT e.dst AS node, sum(s.score_m // d.outdeg) AS in_m
        |  FROM edges e JOIN s1 s ON e.src = s.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |s2 AS (SELECT n.node, 150 + 8500 * COALESCE(i.in_m, 0) // 10000 AS score_m
        |  FROM nodes n LEFT JOIN i2 i ON n.node = i.node),
        |i3 AS (SELECT e.dst AS node, sum(s.score_m // d.outdeg) AS in_m
        |  FROM edges e JOIN s2 s ON e.src = s.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |s3 AS (SELECT n.node, 150 + 8500 * COALESCE(i.in_m, 0) // 10000 AS score_m
        |  FROM nodes n LEFT JOIN i3 i ON n.node = i.node)
        |SELECT node, CAST(score_m AS BIGINT) AS score_m FROM s3
        |ORDER BY score_m DESC, node LIMIT 30""".stripMargin,
    "q86_anomaly" ->
      // HUGEINT mirrors the Spark side's decimal(38,0): the σ test is
      // exact integers on both engines, no float at the boundary
      """WITH v AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value*1000) AS BIGINT) AS v_m FROM events
        |  WHERE value IS NOT NULL),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(v_m) AS HUGEINT) AS s, CAST(sum(v_m*v_m) AS HUGEINT) AS ss
        |  FROM v GROUP BY 1)
        |SELECT event_id, v.event_type, v_m
        |FROM v JOIN st ON v.event_type = st.event_type
        |WHERE (n*v_m - s)*(n*v_m - s) > 9*(n*ss - s*s)
        |ORDER BY event_id""".stripMargin,
    "q87_editdist_neardup" ->
      // the ORACLE is the literal within-block all-pairs join — a hash
      // match proves the length-band candidate join is exactly lossless
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.text, b.text) AS dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  AND abs(length(a.text) - length(b.text)) <= 40
        |WHERE levenshtein(a.text, b.text) <= 40
        |ORDER BY id_a, id_b""".stripMargin,
    "q88_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(k) AS n, sum(k*k) AS sum2 FROM cnt GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
        |  CAST(10000*(n*n - sum2) // (n*n) AS BIGINT) AS simpson_bp
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q89_phrase_search" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM tk),
        |t AS (SELECT doc_id, p, toks[p] AS tok FROM g
        |  WHERE toks[p] IN ('key', 'scan'))
        |SELECT t1.doc_id, count(*) AS n_matches
        |FROM t t1 JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.p = t1.p + 1
        |WHERE t1.tok = 'key' AND t2.tok = 'scan'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q90_regional_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q91_value_histogram" ->
      """SELECT event_type,
        |  CAST(floor(value*1000) AS BIGINT) // 25000 AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_m
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q92_salted_agg" ->
      // plain group-by: proves the salted two-phase decomposition exact
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_cube" ->
      """SELECT event_type, CAST(day(ts) AS BIGINT) AS dom, count(*) AS n,
        |  CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_m
        |FROM events GROUP BY CUBE(event_type, dom)
        |ORDER BY event_type NULLS FIRST, dom NULLS FIRST""".stripMargin,
    "q94_image_phash" ->
      // re-derives the aHash from the PNG generator's pixel formula
      // v(y,xb) = (id + 7y + 13xb) mod 251 (xb = byte index: 4x+ch)
      """WITH imgs AS (
        |  SELECT doc_id AS media_id, CAST(16 + doc_id % 160 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 90 AS BIGINT) AS h
        |  FROM documents),
        |py AS (SELECT media_id, w, h, unnest(generate_series(0, h-1)) AS y FROM imgs),
        |px AS (SELECT media_id, w, h, y, unnest(generate_series(0, w-1)) AS x FROM py),
        |g AS (
        |  SELECT media_id, w, h, 8*y // h AS by, 8*x // w AS bx,
        |    (media_id + 7*y + 13*(4*x)) % 251
        |      + (media_id + 7*y + 13*(4*x+1)) % 251
        |      + (media_id + 7*y + 13*(4*x+2)) % 251 AS s
        |  FROM px),
        |blk AS (
        |  SELECT media_id, w, h, by*8 + bx AS i, sum(s) AS bsum, count(*) AS bn
        |  FROM g GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT media_id, sum(bsum) AS tsum, sum(bn) AS tn FROM blk GROUP BY 1),
        |bits AS (
        |  SELECT b.media_id, b.w, b.h, b.i,
        |    CASE WHEN b.bsum * t.tn > t.tsum * b.bn THEN 1 ELSE 0 END AS bit
        |  FROM blk b JOIN tot t ON b.media_id = t.media_id)
        |SELECT media_id, CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (i-32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,
    "q95_profile" -> Seq("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .map(c => s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    "q96_gap_fill" ->
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_m
        |  FROM events WHERE value >= 200 GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
        |grid AS (
        |  SELECT t.event_type, g.day
        |  FROM (SELECT DISTINCT event_type FROM d) t
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        |              FROM bounds) g)
        |SELECT grid.event_type, grid.day, COALESCE(d.n, 0) AS n,
        |  COALESCE(d.sum_m, 0) AS sum_m,
        |  CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS filled
        |FROM grid LEFT JOIN d
        |  ON grid.event_type = d.event_type AND grid.day = d.day
        |ORDER BY 1, 2""".stripMargin,
    "q97_cm_sketch" ->
      """WITH h AS (
        |  SELECT d,
        |    ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' ||
        |       CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS width_pos
        |  FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS d))
        |SELECT CAST(d AS BIGINT) AS depth, width_pos, count(*) AS c
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q98_rank_quartiles" ->
      """SELECT doc_id, lang,
        |  CAST(dense_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS dr,
        |  CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q99_vocab_setops" ->
      """WITH tk AS (
        |  SELECT DISTINCT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |v0 AS (SELECT tok FROM tk WHERE source = 'src0'),
        |v1 AS (SELECT tok FROM tk WHERE source = 'src1')
        |SELECT 'shared' AS rel, tok FROM (SELECT tok FROM v0 INTERSECT SELECT tok FROM v1)
        |UNION ALL
        |SELECT 'only_src0' AS rel, tok FROM (SELECT tok FROM v0 EXCEPT SELECT tok FROM v1)
        |ORDER BY rel, tok""".stripMargin,
    "q100_incremental_rollup" ->
      // the FULL recompute: hash match proves incremental merge == full
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_m
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q101_salted_join" ->
      // the PLAIN join: hash match proves the salted decomposition exact
      """WITH dims AS (SELECT user_id, count(*) AS user_n FROM events GROUP BY 1)
        |SELECT event_id, events.user_id, user_n
        |FROM events JOIN dims ON events.user_id = dims.user_id
        |ORDER BY event_id""".stripMargin,
    "q107_sparql_filter" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS b,
        |  c_mktsegment AS m
        |FROM customer
        |WHERE floor(c_acctbal*100) > 900000 AND regexp_matches(c_mktsegment, '^BUI')
        |ORDER BY c""".stripMargin,
    "q108_sparql_optional" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  coalesce(CASE WHEN floor(c_acctbal*100) > 500000
        |    THEN CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) END,
        |    'unbound') AS b
        |FROM customer ORDER BY c""".stripMargin,
    "q110_sparql_union" ->
      """SELECT c, coalesce(b, 'unbound') AS b, coalesce(m, 'unbound') AS m FROM (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |    CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS b,
        |    CAST(NULL AS VARCHAR) AS m
        |  FROM customer WHERE floor(c_acctbal*100) > 950000
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR),
        |    CAST(NULL AS VARCHAR), c_mktsegment
        |  FROM customer WHERE c_mktsegment LIKE 'BUI%')
        |ORDER BY c, b, m""".stripMargin,
    "q113_sparql_agg" ->
      """SELECT 'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  count(*) AS cnt
        |FROM customer
        |GROUP BY c_nationkey
        |HAVING count(*) >= 50
        |ORDER BY cnt DESC, n""".stripMargin,
    "q157_sparql_var_predicate" ->
      // custQuads emits one balCents + one mkt + one inNation triple per
      // customer — the histogram is |customer| per predicate
      """SELECT p, count(*) AS n FROM (
        |  SELECT 'urn:p#balCents' AS p FROM customer
        |  UNION ALL SELECT 'urn:p#inNation' FROM customer
        |  UNION ALL SELECT 'urn:p#mkt' FROM customer)
        |GROUP BY p ORDER BY p""".stripMargin,
    "q158_sparql_lang_tags" ->
      // litQuads tags labels en / en-gb / de by c_custkey%4 (lowercase
      // store form, round 12); LANGMATCHES "en" admits en and en-gb; the
      // result boundary strips the tag from ?name but ?lang (a BIND of
      // LANG()) is already bare
      """SELECT 'urn:c#' || c_custkey AS s, c_name AS name,
        |  CASE WHEN c_custkey % 4 = 1 THEN 'en-gb' ELSE 'en' END AS lang
        |FROM customer WHERE c_custkey % 4 <> 3 ORDER BY s""".stripMargin,
    "q159_sparql_typed_literals" ->
      // DATATYPE recovers the custom IRI, STR the lexical cents;
      // STRLANG/STRDT construct annotated terms whose accessors
      // round-trip to the literal tag / datatype
      """SELECT 'urn:c#' || c_custkey AS s, 'urn:t#cents' AS dt,
        |  CAST(CAST(floor(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS bal,
        |  'fr' AS flang, 'urn:t#code' AS tdt
        |FROM customer ORDER BY s""".stripMargin,
    "q156_sparql_post_values" ->
      """SELECT c_mktsegment AS m, count(*) AS n
        |FROM customer
        |WHERE floor(c_acctbal*100) > 900000
        |  AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
        |GROUP BY c_mktsegment
        |ORDER BY m""".stripMargin,
    "q160_sparql_numeric_minmax" ->
      // numeric extremes re-rendered as the canonical term lexical —
      // identical to the stored balCents term, so value-min == term-min
      """SELECT c_mktsegment AS m,
        |  CAST(CAST(min(floor(c_acctbal*100)) AS BIGINT) AS VARCHAR) AS lo,
        |  CAST(CAST(max(floor(c_acctbal*100)) AS BIGINT) AS VARCHAR) AS hi,
        |  count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY m""".stripMargin,
    "q161_sparql_numeric_order" ->
      """SELECT c, b FROM (
        |  SELECT 'urn:c#' || c_custkey AS c,
        |    CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS b,
        |    floor(c_acctbal*100) AS bn
        |  FROM customer)
        |ORDER BY bn DESC, c LIMIT 5""".stripMargin,
    "q162_substring_dedup" -> exactSpansOracle,
    // the hot-gram cap is an execution strategy (skip-list vs window),
    // not a semantics change — the capped query answers to the SAME
    // exact-span grammar
    "q165_substring_dedup_capped" -> exactSpansOracle,
    "q164_substring_dedup_anchored" ->
      // winnow selection re-derived with the tie-free key gh*2^21+p
      // (equivalent to Spark's struct(gh,pos) min since p < 2^21), then
      // the q162 island grammar with end = pos+k-1 and gap tolerance w
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |gh AS (
        |  SELECT doc_id, p, array_to_string(toks[p:p+2], ' ') AS gt,
        |    ('0x' || substr(md5(array_to_string(toks[p:p+2], ' ')), 1, 15))::BIGINT
        |      % 2147483647 AS gh
        |  FROM g),
        |wm AS (
        |  SELECT doc_id,
        |    min(gh * 2097152 + p) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey,
        |    lead(gh, 3) OVER (PARTITION BY doc_id ORDER BY p) AS full_w
        |  FROM gh),
        |sel AS (SELECT DISTINCT doc_id, selkey % 2097152 AS p1 FROM wm
        |        WHERE full_w IS NOT NULL),
        |anch AS (SELECT s.doc_id, s.p1 - 1 AS pos, gh.gt
        |         FROM sel s JOIN gh ON gh.doc_id = s.doc_id AND gh.p = s.p1),
        |hits AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY gt) AS c FROM anch)
        |  WHERE c >= 2),
        |flagged AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 2) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 4
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits),
        |islands AS (
        |  SELECT doc_id, pos,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM flagged)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS tok_start,
        |  CAST(max(pos) + 2 AS BIGINT) AS tok_end
        |FROM islands GROUP BY doc_id, island
        |ORDER BY doc_id, tok_start""".stripMargin,
    "q163_substring_cut" ->
      // q162's span grammar, then keep-segments (lag gap + tail) and an
      // ordered string_agg rebuild; untouched docs pass through
      """WITH grams AS (
        |  SELECT doc_id,
        |    CAST(unnest(range(1, length(text) - 40 + 2)) AS BIGINT) AS pos,
        |    unnest(list_transform(range(1, length(text) - 40 + 2),
        |      p -> substr(text, CAST(p AS INT), 40))) AS g
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM grams)
        |  WHERE c >= 2
        |), flagged AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 39) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits
        |), islands AS (
        |  SELECT doc_id, pos,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM flagged
        |), spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 39 AS span_end
        |  FROM islands GROUP BY doc_id, island
        |), mids AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_start,
        |    span_start - 1 AS seg_end
        |  FROM spans
        |), lasts AS (
        |  SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
        |    CAST(length(any_value(d.text)) AS BIGINT) AS seg_end
        |  FROM spans s JOIN documents d USING (doc_id) GROUP BY s.doc_id
        |), segs AS (
        |  SELECT * FROM mids WHERE seg_start <= seg_end
        |  UNION ALL SELECT * FROM lasts WHERE seg_start <= seg_end
        |), rebuilt AS (
        |  SELECT g.doc_id,
        |    string_agg(substr(d.text, CAST(seg_start AS INT),
        |      CAST(seg_end - seg_start + 1 AS INT)), '' ORDER BY seg_start) AS clean_text
        |  FROM segs g JOIN documents d USING (doc_id) GROUP BY g.doc_id
        |), dupdocs AS (SELECT DISTINCT doc_id FROM spans),
        |cleaned AS (
        |  SELECT dd.doc_id, coalesce(r.clean_text, '') AS clean_text
        |  FROM dupdocs dd LEFT JOIN rebuilt r USING (doc_id)
        |  UNION ALL
        |  SELECT d.doc_id, d.text FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM dupdocs)
        |)
        |SELECT c.doc_id, c.clean_text,
        |  CAST(length(d.text) AS BIGINT) - length(c.clean_text) AS n_cut
        |FROM cleaned c JOIN documents d USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,
    "q166_substring_cut_anchored" -> anchoredCutOracle,
    // the hot-anchor cap is an execution strategy (skip-list vs window),
    // not a semantics change — the capped pipeline answers to the SAME
    // anchored-cut grammar
    "q168_substring_cut_anchored_capped" -> anchoredCutOracle,
    "q171_anchor_index_batch" -> anchorIndexBatchOracle(),
    "q172_minhash_index_batch" ->
      // TRUE cross-split pair set (batch × corpus, 3-gram Jaccard ≥
      // 0.5), computed exhaustively — the recall gate over the
      // persisted-index LSH candidates, exactly q19's construction
      // with the self-join split batch-vs-corpus
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |  FROM tk),
        |sh AS (SELECT doc_id, unnest(list_distinct(sh0.sh)) AS g FROM sh0),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.g = b.g
        |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT id_a, id_b, n_inter, sa.sz + sb.sz - n_inter AS n_union,
        |    n_inter * 10000 // (sa.sz + sb.sz - n_inter) AS jaccard_bp
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, n_inter, n_union, jaccard_bp
        |FROM stats WHERE jaccard_bp >= 5000 ORDER BY id_a, id_b""".stripMargin,
    "q173_exact_index_batch" -> exactIndexBatchOracle,
    // the backfill shuffle-path run must produce the byte-identical
    // relation — q173's oracle VERBATIM isolates the plan mode
    "q190_backfill_admit" -> exactIndexBatchOracle,
    "q191_ann_list_balance" -> annListBalanceOracle,
    // q194: the FOOTER-metadata path must produce the byte-identical
    // report — q191's oracle VERBATIM isolates the metadata-read path
    "q194_ann_balance_footers" -> annListBalanceOracle,
    "q195_ann_hot_split" -> ivfPqSplitServeOracle(),
    // q197: q195's full split re-derivation restricted to the takedown
    // survivors (vec_id ≡ 9 mod 50 deleted, plant included) — the
    // folded stream rows are part of the corpus assignment and the
    // compacted deletions are excluded from counts, seeds, and serving,
    // exactly what fold → compact → split must produce
    "q197_maintenance_tick_serve" ->
      ivfPqSplitServeOracle(survivorWhere = "vec_id % 50 <> 9"),
    // q198: the two-level split serve — frozen supers from the original
    // centroid set, the split re-derived, and the post-split two-level
    // probe through the re-derived centroid→super map
    "q198_ann_twolevel_split" -> ivfPqTlSplitServeOracle(),
    // q196: serving must be byte-identical through the stream fold —
    // q102's oracle VERBATIM (q183's), isolating the fold path
    "q196_ann_fold_serve" -> ivfPqAdcOracle(),
    "q174_stream_dedup_ingest" ->
      // the streaming ingest's one AvailableNow batch re-derived: corpus
      // index keys (doc_id % 5 <> 0), the planted batch (re-fetch plant
      // % 10 == 0 → neighbor text; intra-stream plant % 20 == 15 →
      // batch sibling doc_id − 10's text), then the admission rule —
      // indexed key → dup_corpus with the corpus keeper; else the
      // smallest batch doc per key admits and later copies are
      // dup_batch
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |ckg AS (
        |  SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key,
        |    min(doc_id) AS keep_id
        |  FROM corpus GROUP BY 1),
        |batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL THEN n.text
        |         WHEN d.doc_id % 20 = 15 AND b.text IS NOT NULL THEN b.text
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
        |  LEFT JOIN documents b ON b.doc_id = d.doc_id - 10
        |  WHERE d.doc_id % 5 = 0),
        |bk AS (
        |  SELECT doc_id,
        |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS text_key
        |  FROM batch),
        |bmin AS (SELECT text_key, min(doc_id) AS batch_keep FROM bk GROUP BY 1)
        |SELECT k.doc_id, k.text_key,
        |  CASE WHEN g.keep_id IS NOT NULL THEN 'dup_corpus'
        |       WHEN k.doc_id <> m.batch_keep THEN 'dup_batch'
        |       ELSE 'admitted' END AS status,
        |  CAST(coalesce(g.keep_id, m.batch_keep) AS BIGINT) AS keep_id
        |FROM bk k
        |LEFT JOIN ckg g USING (text_key)
        |JOIN bmin m USING (text_key)
        |ORDER BY k.doc_id""".stripMargin,
    "q167_sparql_isiri" ->
      // IRI objects = the nation edges; non-numeric literals = the
      // market segments (str boundary strips their quotes); the numeric
      // balCents rows are excluded by !isNumeric
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS o
        |FROM customer
        |UNION ALL
        |SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS o
        |FROM customer
        |ORDER BY c, o""".stripMargin,
    "q114_sparql_values_minus" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n
        |FROM customer
        |WHERE c_nationkey IN (1, 4, 9) AND c_mktsegment <> 'BUILDING'
        |ORDER BY c LIMIT 50 OFFSET 10""".stripMargin,
    "q117_dup_ngrams" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |pos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM tk),
        |g AS (SELECT doc_id, array_to_string(toks[p:p+2], ' ') AS gram FROM pos),
        |freq AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS d FROM g GROUP BY gram)
        |  WHERE d >= 2),
        |per AS (
        |  SELECT doc_id, count(*) AS n_pos,
        |    count(*) FILTER (WHERE gram IN (SELECT gram FROM freq)) AS n_dup
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_pos, n_dup, (10000 * n_dup) // n_pos AS dup_bp
        |FROM per WHERE (10000 * n_dup) // n_pos >= 7000
        |ORDER BY doc_id""".stripMargin,
    "q115_sparql_bind" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(c_custkey AS VARCHAR) AS key,
        |  CAST(2 * CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS dbl,
        |  lower(c_mktsegment) || '-' || CAST(c_custkey AS VARCHAR) AS tag
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 900000
        |ORDER BY c""".stripMargin,
    "q149_sparql_select_expr" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(2 * CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS dbl,
        |  'seg:' || lower(c_mktsegment) AS tag
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 900000
        |ORDER BY c""".stripMargin,
    "q150_sparql_substr_replace" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  substring(CAST(c_custkey AS VARCHAR), 1, 2) AS head,
        |  regexp_replace(lower(c_mktsegment), '^([a-z])', 'seg-\1') AS seg
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 900000
        |ORDER BY c""".stripMargin,
    "q152_sparql_numeric_fns" ->
      // ROUND is XPath half-toward-+∞ = floor(x + 0.5); balCents/7 in
      // double on both sides (the engine renders non-integral quotients
      // as xsd:double lexicals, exact quotients as integers — floor of
      // either path agrees with the direct double formula)
      """WITH b AS (SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT c,
        |  CAST(abs(bal - 500000) AS VARCHAR) AS dist,
        |  CAST(CAST(floor(bal / 7.0 + 0.5) AS BIGINT) AS VARCHAR) AS r7
        |FROM b WHERE abs(bal - 500000) > 400000
        |ORDER BY c""".stripMargin,
    "q153_sparql_hash_uri" ->
      // ENCODE_FOR_URI oracle: the only non-unreserved characters in
      // "SEGMENT urn:c#<n>" are space, ':', '#' — spelled-out
      // percent-escapes (fn:encode-for-uri has no DuckDB builtin)
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  md5(c_mktsegment) AS h,
        |  sha256(c_mktsegment || '#urn:c#' || CAST(c_custkey AS VARCHAR)) AS h2,
        |  replace(replace(replace(
        |    c_mktsegment || ' urn:c#' || CAST(c_custkey AS VARCHAR),
        |    ':', '%3A'), '#', '%23'), ' ', '%20') AS e
        |FROM customer
        |WHERE floor(c_acctbal * 100) > 980000
        |ORDER BY c""".stripMargin,
    "q154_sparql_datetime" ->
      // the fixture synthesizes hh/mm/ss from the keys, so the oracle
      // recomputes the components from the SAME arithmetic; the engine
      // must agree through its lexical construction + extraction
      """SELECT 'urn:o#' || CAST(o_orderkey AS VARCHAR) AS o,
        |  CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR) AS y,
        |  CAST(o_orderkey % 24 AS VARCHAR) AS hh,
        |  CAST(o_orderkey % 60 AS VARCHAR) AS mm,
        |  CAST(o_custkey % 60 AS VARCHAR) AS sec,
        |  'Z' AS tz
        |FROM orders
        |WHERE month(o_orderdate) = 3 AND day(o_orderdate) <= 5
        |ORDER BY o""".stripMargin,
    "q126_bpe_merges" ->
      // literal expected relation: BPE merges are a pure deterministic
      // function of the corpus (tie-break freq desc, left asc, right asc),
      // generated by an independent non-Spark implementation of Sennrich
      // §3.2 over the same documents.parquet — DuckDB cannot express the
      // iterative argmax/rewrite loop itself, but it CAN pin its result
      """SELECT * FROM (VALUES
        |  (1, 'e', 'r', CAST(4568 AS BIGINT)),
        |  (2, 'e', '</w>', CAST(4473 AS BIGINT)),
        |  (3, 'n', '</w>', CAST(2834 AS BIGINT)),
        |  (4, 'er', '</w>', CAST(2779 AS BIGINT)),
        |  (5, 'o', 'w', CAST(2747 AS BIGINT)),
        |  (6, 'ow', '</w>', CAST(2747 AS BIGINT)),
        |  (7, 'o', 'r', CAST(2696 AS BIGINT)),
        |  (8, 's', 't', CAST(2676 AS BIGINT)),
        |  (9, 'h', '</w>', CAST(1884 AS BIGINT)),
        |  (10, 'a', 't', CAST(1845 AS BIGINT)),
        |  (11, 'l', 'u', CAST(1831 AS BIGINT)),
        |  (12, 'i', 'n', CAST(1796 AS BIGINT))
        |) AS t(rank, lhs, rhs, freq) ORDER BY rank""".stripMargin,
    "q128_sparql_nested_optional" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  coalesce(CASE WHEN floor(c_acctbal*100) > 500000
        |    THEN CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) END,
        |    'unbound') AS b,
        |  coalesce(CASE WHEN floor(c_acctbal*100) > 500000
        |      AND c_mktsegment <> 'BUILDING'
        |    THEN c_mktsegment END, 'unbound') AS m
        |FROM customer ORDER BY c""".stripMargin,
    "q129_sparql_graph_var" ->
      """SELECT 'urn:g#' || CAST(c_nationkey % 5 AS VARCHAR) AS g,
        |  'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS b
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND floor(c_acctbal*100) > 900000
        |ORDER BY g, c""".stripMargin,
    "q130_sparql_graph_iri" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS b,
        |  coalesce(CASE WHEN c_mktsegment <> 'BUILDING'
        |    THEN c_mktsegment END, 'unbound') AS m
        |FROM customer
        |WHERE c_nationkey % 5 = 2 AND floor(c_acctbal*100) > 800000
        |ORDER BY c""".stripMargin,
    "q131_sparql_group_scoped" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  coalesce(CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    THEN lower(c_mktsegment) END, 'unbound') AS lbl
        |FROM customer ORDER BY c""".stripMargin,
    "q132_sparql_values_undef" ->
      // one SELECT per VALUES row (UNION ALL = the bag join): a customer
      // compatible with both rows appears twice, exactly as in SPARQL
      """SELECT c, n, m FROM (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |    'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n, c_mktsegment AS m
        |  FROM customer WHERE c_nationkey = 1
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR),
        |    'urn:n#' || CAST(c_nationkey AS VARCHAR), c_mktsegment
        |  FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY c, n, m""".stripMargin,
    "q134_sparql_division" ->
      // BIND division semantics mirrored: exact-integral quotient → plain
      // integer lexical (// is exact here since bal % 4 = 0 implies
      // divisibility); fractional → double division, shortest-round-trip
      // rendering on both engines (every /4 fraction is IEEE-exact);
      // ÷0 → unbound, sentinel-filled on both sides
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CASE WHEN CAST(FLOOR(c_acctbal * 100) AS BIGINT) % 4 = 0
        |       THEN CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) // 4 AS VARCHAR)
        |       ELSE CAST(CAST(FLOOR(c_acctbal * 100) AS DOUBLE) / 4 AS VARCHAR)
        |  END AS quarter,
        |  'unbound' AS z
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 980000
        |ORDER BY c""".stripMargin,
    "q135_sparql_graph_structural" ->
      // per-graph OPTIONAL: ?m binds only where the segment differs from
      // BUILDING (the OPTIONAL's own FILTER conditions the match); every
      // customer's bal and mkt live in the same nation-keyed graph
      """SELECT 'urn:g#' || CAST(c_nationkey % 5 AS VARCHAR) AS g,
        |  'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment
        |       ELSE 'unbound' END AS m
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 985000
        |ORDER BY c""".stripMargin,
    "q136_sparql_graph_in_optional" ->
      // OPTIONAL { GRAPH ?g { … } }: ?g binds the (unique) graph where
      // the customer's segment is MACHINERY, else stays unbound
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS b,
        |  CASE WHEN c_mktsegment = 'MACHINERY'
        |       THEN 'urn:g#' || CAST(c_nationkey % 5 AS VARCHAR)
        |       ELSE 'unbound' END AS g
        |FROM customer
        |WHERE FLOOR(c_acctbal * 100) > 990000
        |ORDER BY c""".stripMargin,
    "q141_sparql_from" ->
      // FROM <urn:g#1> FROM <urn:g#3> = customers whose nation-keyed
      // graph is g#1 or g#3
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS b
        |FROM customer
        |WHERE c_nationkey % 5 IN (1, 3)
        |  AND FLOOR(c_acctbal * 100) > 985000
        |ORDER BY c""".stripMargin,
    "q142_sparql_from_named" ->
      // GRAPH restricted to g#2 by FROM NAMED
      """SELECT 'urn:g#2' AS g, 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c
        |FROM customer
        |WHERE c_nationkey % 5 = 2 AND c_mktsegment = 'BUILDING'
        |  AND FLOOR(c_acctbal * 100) > 900000
        |ORDER BY c""".stripMargin,
    "q133_bpe_encode" ->
      // literal expected relation from the independent non-Spark BPE
      // (train on full corpus, encode docs 0-19) — same provenance as
      // q126's merge-table oracle
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(125 AS BIGINT), 'k e y </w> a'),
        |  (CAST(1 AS BIGINT), CAST(317 AS BIGINT), 'b at c h</w> w'),
        |  (CAST(2 AS BIGINT), CAST(193 AS BIGINT), 's m a l l'),
        |  (CAST(3 AS BIGINT), CAST(119 AS BIGINT), 'w in d ow</w> m'),
        |  (CAST(4 AS BIGINT), CAST(195 AS BIGINT), 'd at a </w> q'),
        |  (CAST(5 AS BIGINT), CAST(252 AS BIGINT), 'a g g </w> t'),
        |  (CAST(6 AS BIGINT), CAST(65 AS BIGINT), 'a g g </w> s'),
        |  (CAST(7 AS BIGINT), CAST(303 AS BIGINT), 'b at c h</w> w'),
        |  (CAST(8 AS BIGINT), CAST(368 AS BIGINT), 't h e</w> s p'),
        |  (CAST(9 AS BIGINT), CAST(305 AS BIGINT), 'or d er</w> s m'),
        |  (CAST(10 AS BIGINT), CAST(175 AS BIGINT), 'or d er</w> s c'),
        |  (CAST(11 AS BIGINT), CAST(246 AS BIGINT), 't h e</w> b i'),
        |  (CAST(12 AS BIGINT), CAST(269 AS BIGINT), 'b at c h</w> s'),
        |  (CAST(13 AS BIGINT), CAST(271 AS BIGINT), 'w in d ow</w> q'),
        |  (CAST(14 AS BIGINT), CAST(400 AS BIGINT), 'st r e a m'),
        |  (CAST(15 AS BIGINT), CAST(178 AS BIGINT), 'or d er</w> m er'),
        |  (CAST(16 AS BIGINT), CAST(68 AS BIGINT), 'l in e</w> v e'),
        |  (CAST(17 AS BIGINT), CAST(328 AS BIGINT), 'k e y </w> a'),
        |  (CAST(18 AS BIGINT), CAST(324 AS BIGINT), 'm er g e</w> s'),
        |  (CAST(19 AS BIGINT), CAST(48 AS BIGINT), 'v e c t or')
        |) AS t(doc_id, n_tokens, head_toks) ORDER BY doc_id""".stripMargin,
    "q127_sparql_describe" ->
      """WITH ids AS (
        |  SELECT c_custkey, 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c
        |  FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND floor(c_acctbal*100) > 980000)
        |SELECT s, p, o FROM (
        |  SELECT c AS s, 'urn:p#balCents' AS p,
        |    CAST(CAST(floor(c_acctbal*100) AS BIGINT) AS VARCHAR) AS o
        |  FROM customer JOIN ids USING (c_custkey)
        |  UNION
        |  SELECT c, 'urn:p#mkt', c_mktsegment
        |  FROM customer JOIN ids USING (c_custkey)
        |  UNION
        |  SELECT c, 'urn:p#inNation', 'urn:n#' || CAST(c_nationkey AS VARCHAR)
        |  FROM customer JOIN ids USING (c_custkey))
        |ORDER BY s, p, o""".stripMargin,
    "q120_sparql_exists" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n
        |FROM customer
        |WHERE floor(c_acctbal*100) > 500000 AND c_mktsegment <> 'BUILDING'
        |ORDER BY c""".stripMargin,
    "q121_sparql_group_concat" ->
      """SELECT 'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS mkts,
        |  min('urn:c#' || CAST(c_custkey AS VARCHAR)) AS rep,
        |  count(*) AS cnt
        |FROM customer GROUP BY c_nationkey ORDER BY n""".stripMargin,
    "q122_sparql_subquery" ->
      """WITH nc AS (
        |  SELECT c_nationkey, count(*) AS cnt FROM customer
        |  GROUP BY 1 HAVING count(*) >= 7)
        |SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |  'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n, cnt
        |FROM customer JOIN nc USING (c_nationkey)
        |ORDER BY c""".stripMargin,
    "q123_sparql_ask" ->
      """SELECT CAST(EXISTS(
        |  SELECT 1 FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND floor(c_acctbal*100) > 990000)
        |  AS VARCHAR) AS ask""".stripMargin,
    "q124_sparql_construct" ->
      """WITH base AS (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS m
        |  FROM customer WHERE floor(c_acctbal*100) > 950000)
        |SELECT s, p, o FROM (
        |  SELECT c AS s, 'urn:p#segment' AS p, m AS o FROM base
        |  UNION
        |  SELECT c, 'urn:p#richFlag', 'rich' FROM base)
        |ORDER BY s, p, o""".stripMargin,
    "q155_construct_where" ->
      """WITH base AS (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |    'urn:n#' || CAST(c_nationkey AS VARCHAR) AS nid,
        |    c_mktsegment AS m
        |  FROM customer)
        |SELECT s, p, o FROM (
        |  SELECT c AS s, 'urn:p#inNation' AS p, nid AS o FROM base
        |  UNION
        |  SELECT c, 'urn:p#mkt', m FROM base)
        |ORDER BY s, p, o""".stripMargin,
    "q125_sparql_in" ->
      """SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS m
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  AND CAST(c_custkey AS VARCHAR) LIKE '%7'
        |ORDER BY c""".stripMargin,
    "q116_sparql_zero_or_one" ->
      """SELECT c, t FROM (
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR) AS c,
        |    'urn:c#' || CAST(c_custkey AS VARCHAR) AS t
        |  FROM customer WHERE c_custkey IN (1, 2, 3)
        |  UNION ALL
        |  SELECT 'urn:c#' || CAST(c_custkey AS VARCHAR),
        |    'urn:n#' || CAST(c_nationkey AS VARCHAR)
        |  FROM customer WHERE c_custkey IN (1, 2, 3))
        |ORDER BY c, t""".stripMargin,
    "q112_sparql_path_ops" ->
      """SELECT 'urn:n#' || CAST(c_nationkey AS VARCHAR) AS n,
        |  'urn:c#' || CAST(c_custkey AS VARCHAR) AS c
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |ORDER BY n, c""".stripMargin,
    "q111_stats_pruned_scan" ->
      """SELECT printf('00000000-0000-0000-0000-%012d', user_id % 100) AS uuid,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id % 100 % 5 = 0
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q184 = q111's oracle VERBATIM: the refresh-maintained stats table
    // must plan the identical pruned scan a full rebuild would
    "q184_stats_refresh_scan" ->
      """SELECT printf('00000000-0000-0000-0000-%012d', user_id % 100) AS uuid,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id % 100 % 5 = 0
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q109_stream_interval_join" ->
      """SELECT p.event_id, p.user_id, count(*) AS n_clicks
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts > p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q170_canonical_keep_lsh" ->
      // the q137 TRUE-pair component grammar (3-gram Jaccard >= 0.5 —
      // also the recall gate on the LSH candidate path) + the q106 keep
      // grammar (longest n_chars, ties -> smallest id, per component)
      s"""WITH RECURSIVE $shingleStatsCte,
        |near AS (SELECT id_a, id_b FROM stats WHERE jaccard_bp >= 5000),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM near
        |  UNION ALL SELECT id_b, id_a FROM near),
        |reach(s, t) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a),
        |comp AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id),
        |ranked AS (
        |  SELECT c.component, c.doc_id, d.n_chars,
        |    row_number() OVER (
        |      PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY c.component) AS group_size
        |  FROM comp c JOIN documents d USING (doc_id))
        |SELECT component, CAST(group_size AS BIGINT) AS group_size,
        |  doc_id AS kept_id, CAST(n_chars AS BIGINT) AS kept_quality
        |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,
    "q106_canonical_keep" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
        |  FROM documents),
        |near AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM tk a JOIN tk b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 10000
        |    // len(list_distinct(a.toks || b.toks)) >= 5000),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM near
        |  UNION ALL SELECT id_b, id_a FROM near),
        |reach(s, t) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a),
        |comp AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id),
        |ranked AS (
        |  SELECT c.component, c.doc_id, d.n_chars,
        |    row_number() OVER (
        |      PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY c.component) AS group_size
        |  FROM comp c JOIN documents d USING (doc_id))
        |SELECT component, CAST(group_size AS BIGINT) AS group_size,
        |  doc_id AS kept_id, CAST(n_chars AS BIGINT) AS kept_quality
        |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,
    "q105_grouped_topk" ->
      """WITH spend AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS spend_m
        |  FROM events GROUP BY 1, 2),
        |spend_nn AS (SELECT * FROM spend WHERE spend_m IS NOT NULL)
        |SELECT event_type, rank, user_id, spend_m FROM (
        |  SELECT event_type, user_id, spend_m,
        |    CAST(row_number() OVER (
        |      PARTITION BY event_type ORDER BY spend_m DESC, user_id) AS BIGINT) AS rank
        |  FROM spend_nn) WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,
    "q104_hybrid_rrf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
        |  WHERE tok IN ('dup', 'spark', 'hash') GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    (1000 * (2*n_docs - 2*df + 1) * 22 * tf * total_toks) //
        |      ((2*df + 1) * (10*tf*total_toks + 3*total_toks + 9*dl.dl*n_docs)) AS score_m
        |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
        |bmtop AS (
        |  SELECT doc_id, CAST(sum(score_m) AS BIGINT) AS bm25_m
        |  FROM sc GROUP BY 1 ORDER BY bm25_m DESC, doc_id LIMIT 50),
        |bm AS (SELECT doc_id AS id,
        |  row_number() OVER (ORDER BY bm25_m DESC, doc_id) AS rank FROM bmtop),
        |nntop AS (
        |  SELECT e.vec_id AS nid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS score
        |  FROM embeddings e, embeddings q
        |  WHERE q.vec_id = 0 AND e.vec_id <> 0
        |  ORDER BY score DESC, nid LIMIT 50),
        |nn AS (SELECT nid AS id,
        |  row_number() OVER (ORDER BY score DESC, nid) AS rank FROM nntop),
        |u AS (SELECT * FROM bm UNION ALL SELECT * FROM nn)
        |SELECT id AS doc_id, CAST(sum(10000 // (60 + rank)) AS BIGINT) AS rrf_m
        |FROM u GROUP BY 1 ORDER BY rrf_m DESC, doc_id LIMIT 20""".stripMargin,
    "q103_winsorize" ->
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value*1000) AS BIGINT) AS v_m
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, v_m,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v_m) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |th AS (
        |  SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN v_m END) AS med_m,
        |    max(CASE WHEN rn = (9900*n + 9999) // 10000 THEN v_m END) AS cap_m
        |  FROM r GROUP BY 1)
        |SELECT v.event_type, max(th.n) AS n, max(med_m) AS med_m,
        |  max(cap_m) AS cap_m,
        |  CAST(sum(least(v_m, cap_m)) AS BIGINT) AS capped_sum_m,
        |  CAST(sum(CASE WHEN v_m > cap_m THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        |FROM v JOIN th ON v.event_type = th.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** q84's oracle: the 54-branch lowest-set-bit CASE is generated (CASE
    * (b & −b) WHEN 2^i THEN i+1), mirroring [[operators.Sketches.rho]]. */
  private def hllSketchOracle(): String = {
    val branches = (0 until 54)
      .map(i => s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    s"""WITH x AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM events),
       |r AS (SELECT event_type, h % 64 AS register,
       |  (h // 64) & (-(h // 64)) AS lob FROM x),
       |s AS (SELECT event_type, register,
       |  CASE lob $branches ELSE 0 END AS rho FROM r)
       |SELECT event_type, register, CAST(max(rho) AS BIGINT) AS max_rho
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
  // Every query is oracled. The LSH queries (q19, q30, q40) are RECALL
  // gates: the oracle computes the exhaustive true pair set above the
  // threshold, so a hash match proves candidates ⊇ truth (and the exact
  // verification step proves ⊆). q21/q39 use engine-portable md5-derived
  // hashes re-expressed in DuckDB bit ops; q26/q27 verify the container
  // parsers against the deterministic construction arithmetic.
}
