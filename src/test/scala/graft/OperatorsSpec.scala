package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import java.sql.Timestamp

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("asOfJoin picks latest right row at-or-before left ts, per key") {
    val s = spark; import s.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3")) // before any right row
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 200.0),
      (1L, ts("2024-01-01 12:00:00"), 300.0), // equal ts → inclusive
      (2L, ts("2024-01-01 10:00:00"), 400.0))
      .toDF("user_id", "ts", "value")
    val out = Events.asOfJoin(left, right, "user_id", "ts", "value")
      .select("tag", "asof_value").collect().map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(out("p1") == Some(100.0))
    assert(out("p2") == Some(300.0)) // equal-ts right row wins (inclusive)
    assert(out("p3") == None) // no prior right row
  }

  test("sessionize splits on gap, 0-based ids, stats exact") {
    val s = spark; import s.implicits._
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")), // same session (10 min)
      (1L, ts("2024-01-01 11:30:00")), // 80 min gap → new session
      (2L, ts("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val stats = Events.sessionStats(e, gapSeconds = 1800)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(stats((1L, 0L)) == (2L, 600000000L)) // 2 events, 10 min span in µs
    assert(stats((1L, 1L)) == (1L, 0L))
    assert(stats((2L, 0L)) == (1L, 0L))
  }

  test("exact dedup groups identical normalized text") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "different doc"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(g.length == 2)
    val hw = g.find(_.getLong(2) == 2L).get
    assert(hw.getLong(1) == 1L) // keeps smallest id
    assert(Dedup.dropExactDuplicates(docs, "text", "doc_id").count() == 2)
  }

  test("minhash LSH finds crafted near-duplicates, jaccard exact") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " extra1 extra2"
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id")
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    val j = Dedup.ngramJaccard(cands, docs, "text", "doc_id", shingleN = 1)
      .filter(col("id_a") === 1 && col("id_b") === 2).head()
    // token sets: |inter|=38, |union|=42
    assert(j.getAs[Long]("n_inter") == 38L && j.getAs[Long]("n_union") == 42L)
    assert(j.getAs[Long]("jaccard_bp") == 38L * 10000L / 42L)
  }

  test("ngramJaccard threshold mode == report mode filtered (length prune lossless)") {
    val s = spark; import s.implicits._
    // sizes chosen so the length filter actually prunes: doc 4 is far
    // shorter than doc 1 (ratio < θ) yet LSH-candidate-paired with it
    val docs = Seq(
      (1L, (1 to 40).map("t" + _).mkString(" ")),
      (2L, (1 to 38).map("t" + _).mkString(" ") + " x1 x2"),
      (3L, (100 to 140).map("w" + _).mkString(" ")),
      (4L, "t1 t2 t3")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    for (theta <- Seq(3000L, 5000L, 9000L)) {
      val report = Dedup.ngramJaccard(pairs, docs, "text", "doc_id", shingleN = 1)
        .filter(col("jaccard_bp") >= theta)
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .collect().map(_.toSeq).toSet
      val thresh = Dedup.ngramJaccard(pairs, docs, "text", "doc_id",
          shingleN = 1, minThetaBp = Some(theta))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_bp")
        .collect().map(_.toSeq).toSet
      assert(thresh == report, s"theta=$theta")
    }
  }

  test("crossNgramOverlap: embedded passage fires, clean docs don't, maxDf caps hot grams") {
    val s = spark; import s.implicits._
    val passage = (1 to 15).map("w" + _).mkString(" ")
    val train = Seq(
      (10L, "intro text here then " + passage + " and a long tail of words"),
      (11L, "completely unrelated training document about other things entirely"),
      (12L, "hot hot hot hot hot hot hot hot hot hot hot hot hot hot"), // 14×"hot"
      (13L, "hot hot hot hot hot hot hot hot hot hot hot hot hot hot hot")
    ).toDF("doc_id", "text")
    val test = Seq(
      (1L, passage), // 15 tokens → 3 distinct 13-grams, all inside train 10
      (2L, "a clean held out document sharing nothing with the train corpus"),
      (3L, "hot hot hot hot hot hot hot hot hot hot hot hot hot hot")
    ).toDF("doc_id", "text")
    val out = Dedup.crossNgramOverlap(train, test, "text", "doc_id", shingleN = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 10L)) == 3L) // all 3 of the passage's 13-grams embedded
    assert(!out.keys.exists(_._1 == 2L)) // clean doc: no pair
    assert(out.contains((3L, 12L)) && out.contains((3L, 13L))) // hot gram hits
    // hot-gram cap: "hot"*13 appears in 2 train docs -> maxDf=1 drops it
    val capped = Dedup.crossNgramOverlap(train, test, "text", "doc_id",
        shingleN = 13, maxDf = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 10L)))
  }

  test("simhash: near-identical docs within small hamming distance, candidates found") {
    val s = spark; import s.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"tok$i").mkString(" ") + " tok61"
    val other = (200 to 260).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(1L), sims(2L)) < hamming(sims(1L), sims(3L)))
    val cands = Dedup.simhashCandidates(docs, "text", "doc_id", maxDist = hamming(sims(1L), sims(2L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("cosine + brute-force top-k on known vectors") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(top.toSeq == Seq((1L, 1), (2L, 2), (3L, 3))) // by descending cosine
    val c = vecs.filter(col("vec_id") === 0)
      .select(Similarity.cosine(col("embedding"), array(lit(1.0), lit(0.0)))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("IVF top-k recalls the exact neighbor when query and neighbor share a bucket") {
    val s = spark; import s.implicits._
    // 40 vectors on a ring; centroidMod 10 → 4 centroids
    val vecs = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 1), k = 2,
      centroidMod = 10, nProbe = 2)
    val ids = res.collect().map(_.getLong(1)).toSet
    assert(ids.subsetOf(Set(0L, 2L, 3L))) // true neighbors of #1 on the ring
    assert(ids.size == 2)
  }

  test("rerankTopK over a full shortlist equals brute force; over a partial " +
      "shortlist it is the exact ranking of exactly those candidates") {
    val s = spark; import s.implicits._
    val vecs = (0 until 30).map { i =>
      val a = 2 * math.Pi * i / 30.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    // full shortlist (every candidate) → identical to bruteForceTopK
    val full = queries.select(col("vec_id").as("qid"))
      .crossJoin(vecs.select(col("vec_id").as("nid")))
    val reranked = Similarity.rerankTopK(vecs, queries, full, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(vecs, queries, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(reranked == brute)
    // partial shortlist: the TRUE nearest (id 1 for query 0) withheld —
    // rerank ranks only what the retriever proposed, exactly
    val partial = Seq((0L, 5L), (0L, 2L), (0L, 15L)).toDF("qid", "nid")
    val got = Similarity.rerankTopK(vecs, queries.filter(col("vec_id") === 0),
        partial, k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((2L, 1), (5L, 2))) // ring distance: 2 nearer than 5
  }

  test("persisted ANN index serves byte-identical results to the in-memory " +
      "IVF-PQ, flat and two-level; the codes scan is list-partitioned") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    Seq(false, true).foreach { twoLevel =>
      val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_annidx_spec_${twoLevel}_${java.util.UUID.randomUUID()}")
      AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, path,
        twoLevel = twoLevel)
      val served = AnnIndex.queryIvfPqIndex(queries, path, m = 2, dim = 4,
        k = 4, nProbe = 2, twoLevel = twoLevel)
      val mem = Similarity.ivfPqTopK(vecs, queries, cents, cb, m = 2,
        dim = 4, k = 4, nProbe = 2, twoLevel = twoLevel)
      assert(rows(served) == rows(mem), s"twoLevel=$twoLevel")
      // layout: the codes relation is physically partitioned by cid, so
      // a probe set prunes the serving scan to its inverted lists
      val dirs = new java.io.File(s"$path/codes").listFiles()
        .filter(_.getName.startsWith("cid="))
      assert(dirs.nonEmpty)
    }
  }

  test("appendToIvfPqIndex: serving over base + appended batch is " +
      "byte-identical to the in-memory IVF-PQ over the union corpus " +
      "(flat and two-level); compactIvfPqCodes repairs a replayed append") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    // centroids/codebook trained ONCE (on the base era's corpus view) —
    // appends must reuse them frozen, per the maintenance contract
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    val base = vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    Seq(false, true).foreach { twoLevel =>
      val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_annappend_spec_${twoLevel}_${java.util.UUID.randomUUID()}")
      AnnIndex.writeIvfPqIndex(base, cents, cb, m = 2, dim = 4, path,
        twoLevel = twoLevel)
      AnnIndex.appendToIvfPqIndex(batch, path, m = 2, dim = 4,
        twoLevel = twoLevel)
      def served() = rows(AnnIndex.queryIvfPqIndex(queries, path, m = 2,
        dim = 4, k = 4, nProbe = 2, twoLevel = twoLevel))
      val mem = rows(Similarity.ivfPqTopK(vecs, queries, cents, cb, m = 2,
        dim = 4, k = 4, nProbe = 2, twoLevel = twoLevel))
      assert(served() == mem, s"twoLevel=$twoLevel")
      // a replayed append duplicates (nid, j) code rows — these DOUBLE
      // the duplicated vectors' ADC sums (not harmless, unlike the dedup
      // indexes); compact dedupes and restores byte-identical serving
      AnnIndex.appendToIvfPqIndex(batch, path, m = 2, dim = 4,
        twoLevel = twoLevel)
      AnnIndex.compactIvfPqCodes(s, path)
      assert(served() == mem, s"twoLevel=$twoLevel after compact")
      // compact preserved the cid= serving layout
      assert(new java.io.File(s"$path/codes").listFiles()
        .exists(_.getName.startsWith("cid=")))
    }
  }

  test("streaming ANN ingest codes are exactly-once: a replayed batch " +
      "rewrites its partition (no ADC double-count), batches compose, and " +
      "serving over base + stream equals the in-memory union result") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_annstream_spec_${java.util.UUID.randomUUID()}")
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      cents, cb, m = 2, dim = 4, path, twoLevel = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    def served() = rows(AnnIndex.queryIvfPqIndex(queries, path, m = 2,
      dim = 4, k = 4, nProbe = 2, twoLevel = true))
    val mem = rows(Similarity.ivfPqTopK(vecs, queries, cents, cb, m = 2,
      dim = 4, k = 4, nProbe = 2, twoLevel = true))
    // two stream batches carry the held-out 20%
    val b0 = vecs.filter(pmod(col("vec_id"), lit(10)) === 0)
    val b1 = vecs.filter(pmod(col("vec_id"), lit(10)) === 5)
    AnnIndex.ingestVecBatch(b0, 0L, path, m = 2, dim = 4,
      twoLevel = true, "vec_id", "embedding")
    AnnIndex.ingestVecBatch(b1, 1L, path, m = 2, dim = 4,
      twoLevel = true, "vec_id", "embedding")
    assert(served() == mem)
    // at-least-once replay of batch 1: partition OVERWRITE, not append —
    // byte-identical serving (the plain append path would double-count)
    AnnIndex.ingestVecBatch(b1, 1L, path, m = 2, dim = 4,
      twoLevel = true, "vec_id", "embedding")
    assert(served() == mem)
    val streamRows = s.read.parquet(s"$path/codes_stream")
    assert(streamRows.groupBy("nid", "j").count()
      .agg(max("count")).head().getLong(0) == 1L)
  }

  test("embedding admission: an exact-copy vector is always flagged with " +
      "its corpus twin (ADC distance 0 tops the shortlist), novel vectors " +
      "admit at a tight threshold, and the threshold widens admission") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") >= 10)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_annadmit_spec_${java.util.UUID.randomUUID()}")
    AnnIndex.writeIvfPqIndex(corpus, cents, cb, m = 2, dim = 4, path,
      twoLevel = true)
    // batch: id 0 = exact copy of corpus vec 20; id 1 = its own (novel)
    // ring point, nearest ring neighbors are ~cos(6°) ≈ 0.9945 away
    val batch = vecs.filter(col("vec_id") === 20)
      .select(lit(0L).as("vec_id"), col("embedding"))
      .unionByName(vecs.filter(col("vec_id") === 1)
        .select(col("vec_id"), col("embedding")))
    def admit(tau: Long) = AnnIndex.admitEmbeddingsAgainstIndex(
        batch, corpus, path, m = 2, dim = 4, shortK = 8, nProbe = 2,
        twoLevel = true, tauBp = tau)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val tight = admit(9990L)
    assert(tight(0L) == (("dup_corpus", 20L))) // exact copy cannot escape
    assert(tight(1L)._1 == "admitted")
    // threshold semantics, self-calibrated AND integer-exact (round
    // 16): the decision is floor(rawCosine·10⁴) ≥ τ on the UNROUNDED
    // score — calibrate from the raw-score rerank (roundScore = false,
    // the same relation the engine thresholds on) and assert admission
    // flips exactly at the fixed-point boundary (≥ τ flags, τ+1
    // admits). With the pre-fix rounded score, a cosine in
    // [τ−5e-5, τ) would flip the wrong way.
    val b1 = batch.filter(col("vec_id") === 1L)
    val sl = AnnIndex.queryIvfPqIndex(b1, path, m = 2, dim = 4, k = 8,
      nProbe = 2, twoLevel = true)
    val t1 = Similarity.rerankTopK(corpus, b1,
      sl.select(col("qid"), col("nid")), k = 1,
      roundScore = false).head()
    val sBp = math.floor(t1.getDouble(3) * 10000).toLong
    val atTau = admit(sBp)
    assert(atTau(1L) == (("dup_corpus", t1.getLong(1))))
    assert(admit(sBp + 1)(1L)._1 == "admitted")
  }

  test("streaming embedding ingest: a later batch's copy of an earlier " +
      "batch's ADMITTED vector flags dup_corpus against it (codes + vector " +
      "store both extended between batches); exactly-once file source") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") >= 10)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def tmp(t: String) = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_embstream_${t}_${java.util.UUID.randomUUID()}")
    val ann = tmp("ann"); val store = tmp("store")
    val srcDir = tmp("src"); val outDir = tmp("out")
    AnnIndex.writeIvfPqIndex(corpus, cents, cb, m = 2, dim = 4, ann,
      twoLevel = true)
    corpus.write.parquet(store)
    def vec(i: Long) = vecs.filter(col("vec_id") === i)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    // batch 1: id 1 = novel ring point (nearest corpus cos ≈ 0.944 <
    // τ → admits); id 100 = exact copy of corpus vec 20 → dup_corpus
    Seq((1L, vec(1)), (100L, vec(20))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(srcDir)
    def stream = s.readStream
      .schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    def run() = graft.streaming.StreamingOps.embedIngestStream(stream,
      ann, store, outDir, m = 2, dim = 4, shortK = 8, nProbe = 2,
      twoLevel = true, tauBp = 9990L)
    run()
    def statuses() = s.read.parquet(s"$outDir/status").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("keep_id")))).toMap
    assert(statuses() == Map(
      1L -> (("admitted", 1L)), 100L -> (("dup_corpus", 20L))))
    // batch 2: id 200 = exact copy of batch 1's ADMITTED vector 1 →
    // dup_corpus against the stream's own earlier admission; id 201 =
    // another novel ring point → admits
    Seq((200L, vec(1)), (201L, vec(4))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(statuses() == Map(
      1L -> (("admitted", 1L)), 100L -> (("dup_corpus", 20L)),
      200L -> (("dup_corpus", 1L)), 201L -> (("admitted", 201L))))
    // maintenance invariants: admitted vectors (1, 201) are in the
    // store and their codes are exactly-once
    assert(s.read.parquet(store).count() == 50L + 2L)
    assert(s.read.parquet(s"$ann/codes_stream")
      .groupBy("nid", "j").count().agg(max("count")).head().getLong(0) == 1L)
  }

  test("rebuildIvfPqIndex: retrained index cuts over atomically — serving " +
      "equals the in-memory result under the NEW quantizer, the streaming " +
      "checkpoint survives (post-rebuild stream run is a no-op), and a " +
      "crash between the swap renames is restored on the next call") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def centsMod(mod: Int) = vecs.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_rebuild_spec_${java.util.UUID.randomUUID()}")
    val srcDir = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_rebuild_src_${java.util.UUID.randomUUID()}")
    // era 1: base index (old quantizer, mod-12 centroids) + one
    // streamed batch (the held-out 20%)
    val base = vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    AnnIndex.writeIvfPqIndex(base, centsMod(12), cb, m = 2, dim = 4, path,
      twoLevel = true)
    vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    def stream = s.readStream
      .schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    AnnIndex.streamIvfPqIngest(stream, path, m = 2, dim = 4,
      twoLevel = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    def served() = rows(AnnIndex.queryIvfPqIndex(queries, path, m = 2,
      dim = 4, k = 4, nProbe = 2, twoLevel = true))
    // drift detected → retrain (mod-10 centroids) and rebuild over the
    // FULL corpus (base + streamed); serving must equal the in-memory
    // operator under the NEW quantizer
    AnnIndex.rebuildIvfPqIndex(vecs, centsMod(10), cb, m = 2, dim = 4,
      path, twoLevel = true)
    val memNew = rows(Similarity.ivfPqTopK(vecs, queries, centsMod(10), cb,
      m = 2, dim = 4, k = 4, nProbe = 2, twoLevel = true))
    assert(served() == memNew)
    // the rebuild subsumed codes_stream, and the carried-over streaming
    // checkpoint makes a re-run a NO-OP (no re-ingest of processed files)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes_stream")))
    AnnIndex.streamIvfPqIngest(stream, path, m = 2, dim = 4,
      twoLevel = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes_stream")))
    assert(served() == memNew)
    // crash between the two swap renames: live root gone, previous index
    // at ._rebuild_old — the next call restores it before rebuilding
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path._rebuild_old")))
    AnnIndex.rebuildIvfPqIndex(vecs, centsMod(10), cb, m = 2, dim = 4,
      path, twoLevel = true)
    assert(served() == memNew)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path._rebuild_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path._rebuild_tmp")))
    // crash ONE WINDOW LATER (round 16): under the pre-fix ordering a
    // crash after rename(tmp, live) but before the old→live checkpoint
    // carry left the ONLY _stream_chk inside ._rebuild_old. Simulate
    // that residue; the next rebuild's entry cleanup must SALVAGE the
    // checkpoint before deleting old — otherwise a later stream run
    // starts fresh, re-encodes already-indexed vectors into
    // codes_stream, and serving double-counts them in the ADC sum.
    def hp(x: String) = new org.apache.hadoop.fs.Path(x)
    fs.mkdirs(hp(s"$path._rebuild_old"))
    assert(fs.rename(hp(s"$path/_stream_chk"),
      hp(s"$path._rebuild_old/_stream_chk")))
    AnnIndex.rebuildIvfPqIndex(vecs, centsMod(10), cb, m = 2, dim = 4,
      path, twoLevel = true)
    assert(!fs.exists(hp(s"$path._rebuild_old")))
    assert(fs.exists(hp(s"$path/_stream_chk"))) // salvaged + carried
    // the checkpoint still marks the streamed files processed: a re-run
    // ingests NOTHING (no codes_stream reappears, serving unchanged)
    AnnIndex.streamIvfPqIngest(stream, path, m = 2, dim = 4,
      twoLevel = true)
    assert(!fs.exists(hp(s"$path/codes_stream")))
    assert(served() == memNew)
    // pending tombstones are ENFORCED against the passed corpus (round
    // 16 follow-up): a rebuild from a tombstone-unaware corpus must NOT
    // resurrect taken-down vectors — the swap destroys the _tombstones
    // set, so the rebuild itself is the last line of defense
    AnnIndex.deleteVectors(Seq(5L).toDF("vec_id"), path)
    AnnIndex.rebuildIvfPqIndex(vecs /* still contains 5 */, centsMod(10),
      cb, m = 2, dim = 4, path, twoLevel = true)
    assert(!fs.exists(hp(s"$path/_tombstones"))) // applied + cleared
    val memSansFive = rows(Similarity.ivfPqTopK(
      vecs.filter(col("vec_id") =!= 5L), queries, centsMod(10), cb,
      m = 2, dim = 4, k = 4, nProbe = 2, twoLevel = true))
    assert(served() == memSansFive)
    assert(!served().exists(_._2 == 5L))
  }

  test("writeIvfPqIndex over an existing index: an overwrite whose corpus " +
      "throws mid-build leaves the old index answering the same top-k") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    // queries spread over the circle, every list probed: a root mixing
    // new centroids with old codes would lose whole lists
    val queries = vecs.filter(pmod(col("vec_id"), lit(7)) === 3)
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def centsMod(mod: Int) = vecs.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_overwrite_fail_${java.util.UUID.randomUUID()}")
    AnnIndex.writeIvfPqIndex(vecs, centsMod(12), cb, m = 2, dim = 4, path,
      twoLevel = true)
    def served() = AnnIndex.queryIvfPqIndex(queries, path, m = 2, dim = 4,
        k = 4, nProbe = 64, twoLevel = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val before = served()
    assert(before.nonEmpty)
    // the codes write reads vector 30 and fails after the build has
    // begun (read from parquet: over local rows the optimizer would
    // evaluate the poison while planning, before anything is written)
    val src = TempDirs.register(s"$path-src")
    vecs.write.parquet(src)
    val poisoned = s.read.parquet(src).withColumn("embedding",
      when(col("vec_id") === 30L, raise_error(lit("poisoned vector 30")))
        .otherwise(col("embedding")))
    val err = intercept[Exception](AnnIndex.writeIvfPqIndex(poisoned,
      centsMod(10), cb, m = 2, dim = 4, path, twoLevel = true))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("poisoned vector 30")))
    assert(served() == before)
  }

  test("writeIvfPqIndex over a stream-grown index serves no codes_stream " +
      "row: the overwrite replaces the whole root") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def centsMod(mod: Int) = vecs.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_overwrite_stream_${java.util.UUID.randomUUID()}")
    val srcDir = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_overwrite_src_${java.util.UUID.randomUUID()}")
    val base = vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    AnnIndex.writeIvfPqIndex(base, centsMod(12), cb, m = 2, dim = 4, path,
      twoLevel = true)
    vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
      .coalesce(1).write.parquet(srcDir)
    AnnIndex.streamIvfPqIngest(
      s.readStream.schema(vecs.schema).parquet(srcDir), path, m = 2,
      dim = 4, twoLevel = true)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    val streamDir = new org.apache.hadoop.fs.Path(s"$path/codes_stream")
    assert(fs.exists(streamDir))
    // re-train (mod-10 centroids) and overwrite with the base corpus only
    AnnIndex.writeIvfPqIndex(base, centsMod(10), cb, m = 2, dim = 4, path,
      twoLevel = true)
    assert(!fs.exists(streamDir))
    val served = AnnIndex.queryIvfPqIndex(queries, path, m = 2, dim = 4,
        k = 4, nProbe = 64, twoLevel = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val mem = Similarity.ivfPqTopK(base, queries, centsMod(10), cb, m = 2,
        dim = 4, k = 4, nProbe = 64, twoLevel = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(served == mem)
    assert(!served.exists(_._2 % 5 == 0))
  }

  test("ANN tombstones (round 16): deleted vectors drop out of served " +
      "top-k (equals in-memory serving over the surviving corpus), an " +
      "exact copy of a deleted vector re-admits, and compaction applies " +
      "physically to codes AND codes_stream (equal to a fresh encode of " +
      "the survivors) and clears the set") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_anntomb_spec_${java.util.UUID.randomUUID()}")
    // base codes over 80%, the rest through the streaming encode path —
    // so the physical application must cover codes_stream too
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      cents, cb, m = 2, dim = 4, path, twoLevel = true)
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, path, m = 2, dim = 4, twoLevel = true, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    def served() = rows(AnnIndex.queryIvfPqIndex(queries, path, m = 2,
      dim = 4, k = 4, nProbe = 2, twoLevel = true))
    // takedown set: %9==4 (disjoint from the query ids 0-2), hits both
    // the base (5 ∤ 4,13,31,49,58... some) and streamed (%5==0: 40)
    val deleted = vecs.filter(pmod(col("vec_id"), lit(9)) === 4)
    val survivors = vecs.filter(pmod(col("vec_id"), lit(9)) =!= 4)
    AnnIndex.deleteVectors(deleted.select("vec_id"), path)
    val memSurv = rows(Similarity.ivfPqTopK(survivors, queries, cents, cb,
      m = 2, dim = 4, k = 4, nProbe = 2, twoLevel = true))
    assert(served() == memSurv)
    assert(!served().exists(t => t._2 % 9 == 4))
    // admission: an exact copy of a DELETED vector no longer matches its
    // twin — ring neighbors are ~cos(6 deg) < tau, so it re-admits
    val copyOf4 = vecs.filter(col("vec_id") === 4)
      .select(lit(900L).as("vec_id"), col("embedding"))
    val adm = AnnIndex.admitEmbeddingsAgainstIndex(copyOf4, vecs, path,
        m = 2, dim = 4, shortK = 8, nProbe = 2, twoLevel = true,
        tauBp = 9990L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(adm(900L) == "admitted")
    // physical application: compaction rewrites codes + codes_stream to
    // exactly a fresh encode of the survivors, clears the set, serving
    // unchanged
    AnnIndex.compactIvfPqCodes(s, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_tombstones")))
    val freshPath = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_anntomb_fresh_${java.util.UUID.randomUUID()}")
    AnnIndex.writeIvfPqIndex(survivors, cents, cb, m = 2, dim = 4,
      freshPath, twoLevel = true)
    def codeRows(p: String, stream: Boolean) = {
      val base = s.read.parquet(s"$p/codes")
        .select("nid", "j", "code", "cid")
      (if (stream && fs.exists(new org.apache.hadoop.fs.Path(s"$p/codes_stream")))
        base.unionByName(s.read.parquet(s"$p/codes_stream")
          .select("nid", "j", "code", "cid"))
      else base).collect().map(_.toSeq).toSet
    }
    assert(codeRows(path, stream = true) == codeRows(freshPath, stream = false))
    assert(served() == memSurv)
  }

  test("listBalanceReport + shouldRetrain + rebuildIvfPqIndexFromStore " +
      "(round 16): the footer-scale balance report matches a direct " +
      "group-by over codes + codes_stream, a planted drift trips the " +
      "retrain verdict, and the store-fed rebuild equals the explicit-" +
      "corpus rebuild with index AND store tombstones applied") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def centsMod(mod: Int) = vecs.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def reg(tag: String) = TempDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_bal_${tag}_${java.util.UUID.randomUUID()}")
    val path = reg("idx"); val store = reg("store"); val path2 = reg("idx2")
    // mod-6 centroids → 10 lists, roughly balanced over the ring; part
    // of the corpus arrives through the streaming encode so the report
    // must count codes_stream too
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      centsMod(6), cb, m = 2, dim = 4, path)
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, path, m = 2, dim = 4, twoLevel = false, "vec_id", "embedding")
    def direct(): Map[String, Long] = {
      val base = s.read.parquet(s"$path/codes").select("cid")
      base.unionByName(s.read.parquet(s"$path/codes_stream").select("cid"))
        .groupBy("cid").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
    }
    def report(): Map[String, (Long, Long, Long)] =
      AnnIndex.listBalanceReport(s, path).collect()
        .map(r => r.get(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rep0 = report()
    assert(rep0.view.mapValues(_._1).toMap == direct())
    val total = rep0.values.map(_._1).sum
    rep0.values.foreach { case (n, shareBp, hotBp) =>
      assert(shareBp == n * 10000L / total)
      assert(hotBp == n * 10000L * rep0.size / total)
    }
    // footer-metadata path (round 17): byte-identical report from
    // parquet row-group counts alone — covers base codes AND the
    // streamed partitions this fixture planted
    def footerReport(): Map[String, (Long, Long, Long)] =
      AnnIndex.listBalanceReportFromFooters(s, path).collect()
        .map(r => r.get(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(footerReport() == rep0)
    assert(!AnnIndex.shouldRetrain(s, path, hotFactor = 4.0))
    // drift: 200 new vectors pile onto one list through the frozen
    // quantizer (the exact failure mode the monitor watches for)
    val hot = (1000 until 1200).map(i =>
      (i.toLong, Array(1.0f, 0.0f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    AnnIndex.appendToIvfPqIndex(hot, path, m = 2, dim = 4)
    assert(AnnIndex.shouldRetrain(s, path, hotFactor = 4.0))
    // retrain + cutover FROM THE STORE: the store holds the full current
    // corpus; tombstones pending on the index (7, 13) and on the store
    // (21) must all be excluded — the rebuild is the physical
    // application of every pending deletion
    vecs.unionByName(hot).write.mode("overwrite").parquet(store)
    AnnIndex.deleteVectors(Seq(7L, 13L).toDF("vec_id"), path)
    DedupIndex.deleteDocs(Seq(21L).toDF("vec_id"), store)
    AnnIndex.rebuildIvfPqIndexFromStore(s, store, centsMod(10), cb,
      m = 2, dim = 4, path)
    val surviving = vecs.unionByName(hot)
      .filter(!col("vec_id").isin(7L, 13L, 21L))
    AnnIndex.writeIvfPqIndex(surviving, centsMod(10), cb, m = 2, dim = 4,
      path2)
    def codeSet(p: String) = s.read.parquet(s"$p/codes")
      .select("nid", "j", "code", "cid").collect().map(_.toSeq).toSet
    assert(codeSet(path) == codeSet(path2))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_tombstones")))
    val queries = vecs.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(rows(AnnIndex.queryIvfPqIndex(queries, path, m = 2, dim = 4,
      k = 4, nProbe = 2)) ==
      rows(AnnIndex.queryIvfPqIndex(queries, path2, m = 2, dim = 4,
        k = 4, nProbe = 2)))
    // resurrection guard (round 17): the index-only takedowns (7, 13)
    // were PROPAGATED into the store's tombstone set before the rebuild
    // cleared them from the index — a SECOND store-fed rebuild (no new
    // tombstones anywhere on the index) must not bring them back
    AnnIndex.rebuildIvfPqIndexFromStore(s, store, centsMod(10), cb,
      m = 2, dim = 4, path)
    assert(codeSet(path) == codeSet(path2))
  }

  test("splitHotLists (round 17/18): hot lists split into seeded " +
      "children — full-probe serving is byte-identical before and after " +
      "(codes unchanged), the hot factor drops, pending tombstones stay " +
      "applied; two-level roots split via the persisted super set while " +
      "legacy two-level / codes_stream indexes fail loudly") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def reg(tag: String) = TempDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_split_${tag}_${java.util.UUID.randomUUID()}")
    val path = reg("idx"); val store = reg("store")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, path)
    // plant drift: two 75-copy sub-clumps (copies of vectors 7 and 8)
    // pile into ONE list through the frozen quantizer — and because the
    // list's two smallest ids ARE 7 and 8, the deterministic seeding
    // puts one seed in each sub-clump, so the split genuinely separates
    // them. The store carries base + plant (the raw rows the split
    // fetches).
    def ringVec(i: Int) = Array(
      math.cos(2 * math.Pi * i / 60.0).toFloat,
      math.sin(2 * math.Pi * i / 60.0).toFloat,
      (math.cos(3 * 2 * math.Pi * i / 60.0) / 2).toFloat,
      (math.sin(3 * 2 * math.Pi * i / 60.0) / 2).toFloat)
    val plant = (0 until 150).map(i =>
        (1000L + i, if (i < 75) ringVec(7) else ringVec(8)))
      .toDF("vec_id", "embedding")
    AnnIndex.appendToIvfPqIndex(plant, path, m = 2, dim = 4)
    // the store carries DUPLICATE rows (at-least-once append residue —
    // the store contract says they are harmless; round-17 self-review:
    // an equality check on the raw join count failed spuriously here)
    vecs.unionByName(plant).unionByName(plant.limit(20))
      .write.parquet(store)
    // a pending takedown in the hot list must stay applied post-split
    AnnIndex.deleteVectors(Seq(1003L).toDF("vec_id"), path)
    val queries = vecs.filter(col("vec_id") < 3)
    def fullProbe(nP: Int) = AnnIndex.queryIvfPqIndex(queries, path,
        m = 2, dim = 4, k = 6, nProbe = nP)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val preFull = fullProbe(20)
    val preHot = AnnIndex.listBalanceReportFromFooters(s, path)
      .agg(max(col("hot_factor_bp"))).head().getLong(0)
    assert(preHot > 30000L)
    val report = AnnIndex.splitHotLists(s, store, path, m = 2, dim = 4,
        hotFactorBp = 30000L, splitInto = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(report.nonEmpty)
    val parents = report.map(_._1).toSet
    val childIds = report.map(_._2).toSet
    assert(childIds.forall(_ > 48L)) // allocated past maxCid = 48
    // the quantizer swapped: parents out, children in
    val centsNow = s.read.parquet(s"$path/centroids")
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(parents.forall(!centsNow.contains(_)))
    assert(childIds.forall(centsNow.contains))
    // full-probe equality: codes unchanged, every list scored → the
    // split can never change exhaustive results
    assert(fullProbe(25) == preFull)
    // the monitor improves
    val postHot = AnnIndex.listBalanceReportFromFooters(s, path)
      .agg(max(col("hot_factor_bp"))).head().getLong(0)
    assert(postHot < preHot)
    // pending tombstone applied physically in the rewritten lists and
    // still excluded from serving
    val nids = s.read.parquet(s"$path/codes").select("nid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!nids.contains(1003L))
    assert(!fullProbe(25).exists(_._2 == 1003L))
    // idempotent re-run: nothing hot remains at the threshold → no-op
    assert(AnnIndex.splitHotLists(s, store, path, m = 2, dim = 4,
      hotFactorBp = 30000L).count() == 0L)
    // two-level (round 18): splittable WITH the persisted super set —
    // the frozen routing anchors keep every other group's probes
    // untouched; full-probe serving stays invariant through the split
    val tl = reg("twolevel")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, tl,
      twoLevel = true)
    AnnIndex.appendToIvfPqIndex(plant, tl, m = 2, dim = 4, twoLevel = true)
    def tlFull(nP: Int) = AnnIndex.queryIvfPqIndex(queries, tl,
        m = 2, dim = 4, k = 6, nProbe = nP, twoLevel = true)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val tlPre = tlFull(25)
    val tlFs = new org.apache.hadoop.fs.Path(tl)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(tlFs.exists(new org.apache.hadoop.fs.Path(s"$tl/supers")))
    val tlRep = AnnIndex.splitHotLists(s, store, tl, m = 2, dim = 4,
      hotFactorBp = 30000L, splitInto = 2)
    assert(tlRep.count() > 0)
    assert(tlFull(25) == tlPre)
    // the persisted super set itself is untouched by the split
    val supersNow = s.read.parquet(s"$tl/supers").select("sid")
      .collect().map(_.getLong(0)).toSet
    assert(supersNow.subsetOf(cents.collect().map(_.getLong(0)).toSet))
    // ...but a LEGACY two-level root (no persisted supers) still
    // fail-louds: deriving supers from the post-split centroid set
    // would re-route unrelated probes
    val tl2 = reg("twolevel_legacy")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, tl2,
      twoLevel = true)
    tlFs.delete(new org.apache.hadoop.fs.Path(s"$tl2/supers"), true)
    val e1 = intercept[IllegalArgumentException](
      AnnIndex.splitHotLists(s, store, tl2, m = 2, dim = 4))
    assert(e1.getMessage.contains("no persisted super set"))
    val st = reg("stream")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, st)
    AnnIndex.ingestVecBatch(plant, 0L, st, m = 2, dim = 4,
      twoLevel = false, "vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.splitHotLists(s, store, st, m = 2, dim = 4))
    assert(e2.getMessage.contains("codes_stream"))
  }

  test("foldStreamIntoCodes (round 17): streamed partitions retire into " +
      "the base cid= layout with byte-identical serving; the marker " +
      "window (crash between swap and cleanup) never double-counts; new " +
      "batches after a crashed fold still serve and fold next time") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      val a = 2 * math.Pi * i / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val cents = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 15)
    def reg(tag: String) = TempDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_fold_${tag}_${java.util.UUID.randomUUID()}")
    def serve(p: String) = AnnIndex.queryIvfPqIndex(queries, p, m = 2,
        dim = 4, k = 4, nProbe = 2)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    def hp(x: String) = new org.apache.hadoop.fs.Path(x)
    // ---- happy path -------------------------------------------------
    val p1 = reg("happy")
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      cents, cb, m = 2, dim = 4, p1)
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, p1, m = 2, dim = 4, twoLevel = false, "vec_id", "embedding")
    val fs = hp(p1).getFileSystem(s.sessionState.newHadoopConf())
    val pre = serve(p1)
    AnnIndex.foldStreamIntoCodes(s, p1)
    assert(serve(p1) == pre) // byte-identical serving
    assert(!fs.exists(hp(s"$p1/codes_stream"))) // stream retired
    // the marker is PERMANENT (round 18, ADVICE): deleting it reopened
    // a window where a crashed-checkpoint replay of batch 0 recreated
    // its partition unmarked and served its rows twice
    assert(fs.exists(hp(s"$p1/codes/_folded")))
    // simulate exactly that replay: foreachBatch re-runs batch 0 after
    // the fold — the resurrected partition must stay invisible
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, p1, m = 2, dim = 4, twoLevel = false, "vec_id", "embedding")
    assert(fs.exists(hp(s"$p1/codes_stream/ingest_batch=0")))
    assert(serve(p1) == pre) // no double-counted ADC sums
    // and the next fold's cleanup physically retires the replayed copy
    AnnIndex.foldStreamIntoCodes(s, p1)
    assert(!fs.exists(hp(s"$p1/codes_stream")))
    assert(serve(p1) == pre)
    val baseNids = s.read.parquet(s"$p1/codes").select("nid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert((0 until 60 by 5).forall(i => baseNids.contains(i.toLong)))
    // the balance reports agree post-fold, and a split is now allowed
    val rep = AnnIndex.listBalanceReport(s, p1).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val repF = AnnIndex.listBalanceReportFromFooters(s, p1).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(rep == repF)
    AnnIndex.splitHotLists(s, { // store for the (no-op) split
      val st = reg("store"); vecs.write.parquet(st); st
    }, p1, m = 2, dim = 4, hotFactorBp = 1000000L)
    // ---- marker window ----------------------------------------------
    val p2 = reg("crash")
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      cents, cb, m = 2, dim = 4, p2)
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, p2, m = 2, dim = 4, twoLevel = false, "vec_id", "embedding")
    val pre2 = serve(p2)
    assert(pre2 == pre)
    // replicate the fold's swap stage EXACTLY, then "crash" before
    // cleanup: base ∪ batch-0 lands in codes with the marker, while the
    // batch-0 stream partition still exists on disk
    DedupIndex.atomicSwap(s, s"$p2/codes", "fold", Seq("_graft_meta")) { tmp =>
      s.read.parquet(s"$p2/codes")
        .unionByName(s.read.parquet(s"$p2/codes_stream")
          .filter(col("ingest_batch") === 0)
          .select(col("nid"), col("j"), col("code"), col("cid")))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
      val out = fs.create(hp(s"$tmp/_folded"), true)
      try out.write("0\n".getBytes("UTF-8")) finally out.close()
    }
    assert(fs.exists(hp(s"$p2/codes_stream/ingest_batch=0")))
    assert(serve(p2) == pre2) // marker skips the still-present partition
    // a NEW batch lands while the crashed fold is unrepaired: vectors
    // 100-104 (copies of 0-4's ring positions shifted) must SERVE
    val late = (100 until 105).map { i =>
      val a = 2 * math.Pi * (i - 100 + 0.5) / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    AnnIndex.ingestVecBatch(late, 1L, p2, m = 2, dim = 4,
      twoLevel = false, "vec_id", "embedding")
    // visibility probe: a late vector queried for its late SIBLINGS —
    // they rank only if the batch-1 stream partitions are served (the
    // fixed queries' top-k is tie-stable, so check from this side)
    val lateServe = AnnIndex.queryIvfPqIndex(
        late.filter(col("vec_id") === 100L), p2, m = 2, dim = 4,
        k = 200, nProbe = 10)
      .collect().map(_.getLong(1)).toSet
    assert((101L to 104L).forall(lateServe.contains),
      s"batch-1 stream partitions skipped: $lateServe")
    assert(!lateServe.contains(100L)) // self-exclusion intact
    val withLate = serve(p2)
    // the next fold call repairs: retires batch 0's leftovers AND folds
    // batch 1; serving unchanged; everything clean
    AnnIndex.foldStreamIntoCodes(s, p2)
    assert(serve(p2) == withLate)
    assert(!fs.exists(hp(s"$p2/codes_stream")))
    assert(fs.exists(hp(s"$p2/codes/_folded"))) // permanent (round 18)
    // compaction carries the marker (sidecar): rebuild the window, then
    // compact — the marker must survive or the leftover partition would
    // double-count
    val p3 = reg("compact")
    AnnIndex.writeIvfPqIndex(vecs.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      cents, cb, m = 2, dim = 4, p3)
    AnnIndex.ingestVecBatch(vecs.filter(pmod(col("vec_id"), lit(5)) === 0),
      0L, p3, m = 2, dim = 4, twoLevel = false, "vec_id", "embedding")
    DedupIndex.atomicSwap(s, s"$p3/codes", "fold", Seq("_graft_meta")) { tmp =>
      s.read.parquet(s"$p3/codes")
        .unionByName(s.read.parquet(s"$p3/codes_stream")
          .select(col("nid"), col("j"), col("code"), col("cid")))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
      val out = fs.create(hp(s"$tmp/_folded"), true)
      try out.write("0\n".getBytes("UTF-8")) finally out.close()
    }
    AnnIndex.compactIvfPqCodes(s, p3)
    assert(fs.exists(hp(s"$p3/codes/_folded")))
    assert(serve(p3) == pre)
  }

  test("language id picks the language with most stopword hits, alphabetical ties") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist auf"),
      (3L, "el gato y la casa que es"),
      (4L, "xyzzy plugh")) // no hits anywhere → tie → 'de' (alphabetical)
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), TextOps.langId(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "de"))
  }

  test("quality columns: exact ratios on a crafted doc") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "the fox! jumps 42 high")).toDF("doc_id", "text")
    val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    val r = docs.select(cols: _*).head()
    assert(r.getAs[Long]("n_tokens") == 5L)
    assert(r.getAs[Double]("punct_ratio") == math.rint(1.0 / 22.0 * 10000) / 10000)
    assert(r.getAs[Double]("digit_ratio") == math.rint(2.0 / 22.0 * 10000) / 10000)
    assert(r.getAs[Double]("stopword_ratio") == 0.2) // "the" of 5
  }

  test("multimodal: pack → stub decode → features + frame sampling") {
    val s = spark; import s.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val media = Multimodal.packFromText(docs, "doc_id", "text")
    assert(media.select("kind").distinct().count() == 3)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 4)
    val f0 = feats.find(_.media_id == 0L).get
    assert(f0.n_bytes == 5L && f0.magic == "616c7068") // "alph" hex
    assert(f0.feature.length == 8)
    // determinism: same payload → same hash
    val again = Multimodal.extractFeatures(media).collect().find(_.media_id == 0L).get
    assert(again.content_hash == f0.content_hash)
    val frames = Multimodal.sampleFrames(media, stride = 8)
    assert(frames.filter(col("media_id") === 2L).count() > 0) // id 2 → video
    assert(frames.select("media_id").distinct().count() >= 1)
  }

  test("structured streaming: windowed counts over parquet match batch") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    val batch = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:25:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 3.0))
      .toDF("ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(dir)
    val stream = graft.streaming.StreamingOps.readEvents(s, dir, batch.schema)
    // complete mode: append would hold windows back until the watermark
    // passes them, which never happens with a single micro-batch
    graft.streaming.StreamingOps.runToMemory(
      graft.streaming.StreamingOps.windowedCounts(stream), "stream_out",
      outputMode = "complete")
    val got = s.sql("SELECT event_type, n FROM stream_out ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("click", 2L), ("view", 1L)))
  }

  test("stateful streaming sessionization closes sessions on gaps") {
    val s = spark; import s.implicits._
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("sess-in").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 12:00:00")), // gap > 30 min -> closes first session
      (2L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(dir)
    val in = s.readStream
      .schema("user_id LONG, ts TIMESTAMP").parquet(dir)
      .as[StreamingOps.SessionEvent]
    StreamingOps.runToMemory(StreamingOps.sessionizeStream(in, 1800).toDF(), "sess_out")
    val got = s.sql("SELECT user_id, n_events FROM sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // only user 1's FIRST session closed within the batch (2 events);
    // open sessions remain in state
    assert(got == Set((1L, 2L)))
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup-in").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 5.0),
      (1L, ts("2024-01-01 10:00:00"), 5.0), // exact duplicate row
      (2L, ts("2024-01-01 10:01:00"), 6.0))
      .toDF("event_id", "ts", "value").write.mode("overwrite").parquet(dir)
    val in = s.readStream.schema("event_id LONG, ts TIMESTAMP, value DOUBLE").parquet(dir)
    graft.streaming.StreamingOps.runToMemory(
      graft.streaming.StreamingOps.dedupStream(in, "ts", "1 hour", Seq("event_id")),
      "dedup_out")
    assert(s.sql("SELECT * FROM dedup_out").count() == 2)
  }

  test("streaming media decode equals batch decode over the same files") {
    val s = spark; import s.implicits._
    // the same decode operators run the 100 TB backfill (batch) and the
    // live tail (readStream) — prove parity on a real decoder (WAV PCM16)
    val docs = (0L until 24L).map(i => (i, s"payload text for doc $i " * (1 + (i % 3)).toInt))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("media-stream").toString
    graft.operators.Multimodal.packSynthetic(docs, "doc_id", "text")
      .toDF().write.mode("overwrite").parquet(dir)
    val batch = graft.operators.Multimodal.wavFeatures(s.read.parquet(dir))
      .toDF().collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    val in = s.readStream
      .schema("media_id LONG, kind STRING, payload BINARY, declared_frames INT")
      .option("maxFilesPerTrigger", "2").parquet(dir)
    graft.streaming.StreamingOps.runToMemory(
      graft.operators.Multimodal.wavFeatures(in).toDF(), "wav_stream_out")
    val streamed = s.sql("SELECT * FROM wav_stream_out").collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("connected components: pairs -> dedup groups, min-label semantics") {
    val s = spark; import s.implicits._
    val nodes = (1L to 7L).toDF("doc_id")
    // components: {1,2,3} via 1-2, 2-3; {5,6}; isolated 4, 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L->1L, 2L->1L, 3L->1L, 4L->4L, 5L->5L, 6L->5L, 7L->7L))
  }

  test("clusterAwareSplit: whole clusters per split; naive leakage measured") {
    val s = spark; import s.implicits._
    // cluster {8,19,23} (component 8 -> bucket 8 -> val): the naive
    // id-mod rule scatters it over val/test/train -> leaky.
    // cluster {12,22} (component 12 -> train): naive agrees -> clean.
    // singleton 5 -> train, clean.
    val comps = Seq(
      (8L, 8L), (19L, 8L), (23L, 8L),
      (12L, 12L), (22L, 12L),
      (5L, 5L)).toDF("id", "component")
    val out = Dedup.clusterAwareSplit(comps).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "train" -> ((3L, 2L, 0L)),
      "val" -> ((3L, 1L, 1L))))
    // invariant: cluster-aware assignment NEVER splits a cluster — every
    // component maps to exactly one split
    val perComp = comps
      .select(col("component"),
        when(pmod(col("component"), lit(10)) < 8, "train")
          .when(pmod(col("component"), lit(10)) < 9, "val")
          .otherwise("test").as("split"))
      .distinct().groupBy("component").count().collect()
    assert(perComp.forall(_.getLong(1) == 1L))
  }

  test("domainCap keeps the lowest maxPerDomain ids per domain, exactly") {
    val s = spark; import s.implicits._
    val rows = (1L to 30L).map(i => (i, s"d${i % 3}"))
    val out = Sampling.domainCap(rows.toDF("doc_id", "domain"),
        "domain", "doc_id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byDomain = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // lowest 4 ids of each residue class
    assert(byDomain("d0") == Seq(3L, 6L, 9L, 12L))
    assert(byDomain("d1") == Seq(1L, 4L, 7L, 10L))
    assert(byDomain("d2") == Seq(2L, 5L, 8L, 11L))
    // a domain under the cap keeps everything
    val small = Sampling.domainCap(Seq((1L, "x"), (2L, "x")).toDF("doc_id", "domain"),
      "domain", "doc_id", 10)
    assert(small.count() == 2)
    // EXACT above 2^53: consecutive ids there are equal as doubles — the
    // constant-score heap compares raw longs, so the keep set must still
    // be the exact lowest ids (the old -id.cast(double) score broke this)
    val base = (1L << 53) + 10L
    val big = (0L until 8L).map(i => (base + i, "big"))
    val keptBig = Sampling.domainCap(big.toDF("doc_id", "domain"),
        "domain", "doc_id", 3)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(keptBig == Seq(base, base + 1L, base + 2L), keptBig)
  }

  test("tokenBudgetSelect: deterministic md5-prefix per source, budget-" +
      "crossing doc included, allocations monotone in the budget") {
    val s = spark; import s.implicits._
    // source A: 10 docs of 4 tokens each (40 total); source B: 3 docs
    val docs = ((1L to 10L).map(i => (i, "A", s"a$i b c d")) ++
      (11L to 13L).map(i => (i, "B", s"x$i y"))).toDF("doc_id", "source", "text")
    def sel(budA: Long, budB: Long) = Sampling.tokenBudgetSelect(
      docs, "text", "doc_id", "source",
      Seq(("A", budA), ("B", budB)).toDF("source", "token_budget"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = sel(10L, 3L)
    val a = out.filter(_._1 == "A").sortBy(_._4)
    // 4-token docs against a 10-token budget: cum_before 0,4,8 < 10 —
    // exactly 3 docs, the third CROSSES the budget and is included
    assert(a.length == 3 && a.map(_._4).toSeq == Seq(0L, 4L, 8L))
    assert(a.forall(_._3 == 4L))
    // B: 2-token docs, budget 3 — two docs (0 < 3, 2 < 3), not one
    assert(out.count(_._1 == "B") == 2)
    // determinism + monotonicity: a bigger budget keeps a SUPERSET in
    // the same order (the md5 order is data-derived, never random)
    val bigger = sel(20L, 3L)
    assert(a.map(_._2).toSet.subsetOf(
      bigger.filter(_._1 == "A").map(_._2).toSet))
    assert(bigger.filter(_._1 == "A").sortBy(_._4).map(_._2).take(3).toSeq ==
      a.map(_._2).toSeq)
    // zero budget keeps nothing; oversized budget keeps everything
    assert(sel(0L, 0L).isEmpty)
    assert(sel(1000L, 1000L).length == 13)
  }

  test("tokenBudgetSelect two-phase prefix sum: bit-identical to the " +
      "window formulation on a planted mega-source (60% of the corpus)") {
    val s = spark; import s.implicits._
    // crawl-like skew: source "crawl" holds 120 of 200 docs with varied
    // token counts; 4 small curated sources share the rest — the shape
    // that makes a PARTITION BY source window a single-task straggler
    val rnd = new scala.util.Random(42)
    val docs = ((1L to 120L).map { i =>
      (i, "crawl", (0 until 1 + rnd.nextInt(9)).map(j => s"w$i-$j").mkString(" "))
    } ++ (121L to 200L).map { i =>
      (i, s"cur${i % 4}", (0 until 1 + rnd.nextInt(5)).map(j => s"c$i-$j").mkString(" "))
    }).toDF("doc_id", "source", "text")
    val budgets = Seq(("crawl", 200L), ("cur0", 20L), ("cur1", 15L),
      ("cur2", 10L), ("cur3", 5L)).toDF("source", "token_budget")
    val got = Sampling.tokenBudgetSelect(docs, "text", "doc_id", "source", budgets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the reference: the naive per-source window cumsum, same keys
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = docs.select(col("source"), col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .join(budgets, "source").filter(col("cum_before") < col("token_budget"))
      .select("source", "doc_id", "n_tokens", "cum_before")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.count(_._1 == "crawl") > 10) // the mega-source really selects
  }

  test("NfcNormalize: composes decomposed forms; ASCII/NFC inputs pass through; null-safe") {
    val s = spark; import s.implicits._
    val composedE = "\u00e9" // precomposed e-acute
    val inputs = Seq("Cafe\u0301", "nai\u0308ve", "plain ascii",
      "composed " + composedE + " stays", "")
    val got = inputs.toDF("t")
      .select(graft.functions.UnicodeNorm.nfc(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("Caf" + composedE, "na\u00efve", "plain ascii",
      "composed " + composedE + " stays", ""))
    // post-NFC character counts shrink by exactly the combining mark
    assert(got.head.length == 4 && inputs.head.length == 5)
    // interpreted path (eval outside codegen) agrees
    val e = graft.functions.UnicodeNorm.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create("Cafe\u0301"))
    assert(e.eval(null).toString == "Caf" + composedE)
    // null passes through
    assert(Seq[Option[String]](None).toDF("t")
      .select(graft.functions.UnicodeNorm.nfc(col("t"))).head().isNullAt(0))
  }

  test("embedding hyperplane-LSH candidates find near-identical vectors") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val vecs = ((0L, base) +: (1L, near) +:
      (2L to 30L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))).toDF("vec_id", "embedding")
    val cands = Dedup.embeddingCandidates(vecs, "embedding", "vec_id",
      dim = 16, nPlanes = 8, threshold = 0.99)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // only the crafted near-duplicate
  }
}
