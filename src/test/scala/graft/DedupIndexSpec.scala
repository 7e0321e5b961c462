package graft

import graft.operators._
import graft.plans.DriverSide
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round 14: persisted dedup indexes + incremental batch queries — the
  * daily-pipeline pattern. Each family is differentially tested against
  * the corresponding corpus-level operator restricted to cross
  * (batch, corpus) evidence, plus append-only index maintenance. */
class DedupIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = TempDirs.register(
    s"${System.getProperty("java.io.tmpdir")}/graft_idxspec_${tag}_${java.util.UUID.randomUUID()}")

  // ---- exact ----------------------------------------------------------

  test("exact index: batch membership finds exactly the planted re-fetches, " +
      "normalization included; append admits later batches") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "jumps over the lazy dog"),
      (3L, "entirely different text")).toDF("doc_id", "text")
    val path = tmp("exact")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", path)
    // 101 re-fetches 1 with different whitespace/case (same normalized
    // key); 102 is novel; 103 re-fetches 2 verbatim
    val batch = Seq(
      (101L, "  The   QUICK brown fox "),
      (102L, "novel content never seen"),
      (103L, "jumps over the lazy dog")).toDF("doc_id", "text")
    val got = DedupIndex.exactDuplicatesAgainstIndex(batch, "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == Set((101L, 1L), (103L, 2L)))
    // append batch 102's key; a later identical fetch is now a dup
    DedupIndex.appendToIndex(Seq((102L, "novel content never seen"))
      .toDF("doc_id", "text"), "text", "doc_id", path, kind = "exact")
    val later = Seq((201L, "novel content NEVER seen")).toDF("doc_id", "text")
    val got2 = DedupIndex.exactDuplicatesAgainstIndex(later, "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got2 == Set((201L, 102L)))
  }

  // ---- minhash bands ---------------------------------------------------

  test("minhash index: against-index candidates equal the self-join " +
      "candidates of the union restricted to cross pairs") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    def doc(seed: Int, n: Int): String =
      (0 until n).map(j => s"w${seed}x${(j * 7 + seed) % 23}").mkString(" ")
    // corpus: 12 docs; batch: 4 docs, two of which are light edits of
    // corpus docs (near-dups), two novel
    val corpusRows = (1L to 12L).map(i => (i, doc(i.toInt, 30)))
    val nearA = corpusRows(2)._2.split(" ").updated(0, "EDIT").mkString(" ")
    val nearB = corpusRows(7)._2.split(" ").updated(29, "TAIL").mkString(" ")
    val batchRows = Seq((101L, nearA), (102L, nearB),
      (103L, doc(900 + rnd.nextInt(50), 30)), (104L, doc(700, 25)))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val path = tmp("minhash")
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", path,
      k = 64, bands = 16)
    val got = DedupIndex.minhashCandidatesAgainstIndex(batch, "text",
        "doc_id", path, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the corpus-level self-join over the union, cross pairs
    // only, re-oriented (batch, corpus)
    val union = corpus.union(batch)
    val self = Dedup.minhashCandidates(union, "text", "doc_id",
        k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a > 100L) != (b > 100L) }
      .map { case (a, b) => if (a > 100L) (a, b) else (b, a) }.toSet
    assert(got == self)
    assert(got.contains((101L, 3L)) && got.contains((102L, 8L)))
  }

  // ---- winnowed anchors -------------------------------------------------

  test("anchor index: batch spans against the index equal the self-mode " +
      "spans of the union when all duplicate evidence is cross-split") {
    val s = spark; import s.implicits._
    val (k, w) = (3, 4)
    val run = (0 until 14).map(j => s"shared$j").mkString(" ") // >= k+w-1
    val corpus = Seq(
      (1L, s"c-one c-two $run c-tail"),
      (2L, "c only unique alpha beta gamma delta"),
      (3L, "c another unique eps zeta eta theta iota")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, s"b-pre $run b-post b-more"),
      (102L, "b novel text with no shared runs at all here")).toDF("doc_id", "text")
    val path = tmp("anchor")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", path, k = k, w = w)
    val got = DedupIndex.duplicateSpansAgainstIndex(batch, "text", "doc_id",
        path, k = k, w = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the planted doc, one merged island inside the shared run
    assert(got.map(_._1).toSeq == Seq(101L))
    val text101 = s"b-pre $run b-post b-more"
    val base = text101.indexOf("shared0")
    assert(got.head._2 >= base + 1 && got.head._3 <= base + run.length)
    // differential: self-mode over the union, restricted to batch docs
    // (no within-batch or within-corpus duplicate runs in this fixture,
    // so every batch span's evidence is cross-split)
    val self = TextOps.duplicateSpansAnchoredChars(corpus.union(batch),
        "text", "doc_id", k = k, w = w)
      .filter(col("doc_id") > 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == self.toSet)
    // the spans feed cutSpans unchanged: the cut removes the shared run
    val spansDf = DedupIndex.duplicateSpansAgainstIndex(batch, "text",
      "doc_id", path, k = k, w = w)
    val cut = TextOps.cutSpans(batch, "text", "doc_id", spansDf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!cut(101L).contains("shared5"))
    assert(cut(102L) == "b novel text with no shared runs at all here")
  }

  test("anchor index: a batch with no corpus overlap yields zero spans, " +
      "and within-batch duplication alone never fires (against-index is " +
      "strictly cross evidence)") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "c unique alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val path = tmp("anchor2")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", path, k = 3, w = 4)
    val run = (0 until 12).map(j => s"dup$j").mkString(" ")
    // 201/202 duplicate EACH OTHER but share nothing with the corpus
    val batch = Seq((201L, s"x $run"), (202L, s"y $run"))
      .toDF("doc_id", "text")
    assert(DedupIndex.duplicateSpansAgainstIndex(batch, "text", "doc_id",
      path, k = 3, w = 4).count() == 0L)
  }

  test("compactIndex merges append-accumulated rows back to canonical form; " +
      "queries are byte-identical before and after") {
    val s = spark; import s.implicits._
    val c1 = Seq((1L, "first corpus text"), (2L, "second corpus text"))
      .toDF("doc_id", "text")
    val c2 = Seq((10L, "first corpus text"), (11L, "third batch text"))
      .toDF("doc_id", "text")
    val path = tmp("compact")
    DedupIndex.writeExactIndex(c1, "text", "doc_id", path)
    DedupIndex.appendToIndex(c2, "text", "doc_id", path, kind = "exact")
    // "first corpus text" now has TWO index rows (keep 1 and keep 10)
    val probe = Seq((100L, "FIRST corpus text"), (101L, "third batch text"))
      .toDF("doc_id", "text")
    def query() = DedupIndex.exactDuplicatesAgainstIndex(
        probe, "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val before = query()
    val preRows = s.read.parquet(path).count()
    DedupIndex.compactIndex(s, path, kind = "exact")
    assert(query() == before) // byte-identical membership + keep ids
    assert(before == Set((100L, 1L), (101L, 11L))) // min keep_id wins
    val post = s.read.parquet(path)
    assert(post.count() < preRows) // duplicate key rows merged
    assert(post.groupBy("text_key").count().agg(max("count"))
      .head().getLong(0) == 1L) // one row per key
    // anchor kind: duplicate gram rows merge with summed attribution
    val aPath = tmp("compact_anchor")
    val run = (0 until 10).map(j => s"tok$j").mkString(" ")
    val docs = Seq((1L, s"a $run"), (2L, s"b $run")).toDF("doc_id", "text")
    DedupIndex.writeAnchorIndex(docs, "text", "doc_id", aPath, k = 3, w = 4)
    DedupIndex.appendToIndex(docs, "text", "doc_id", aPath, kind = "anchor",
      anchorK = 3, anchorW = 4)
    val spansBefore = DedupIndex.duplicateSpansAgainstIndex(
      Seq((50L, s"x $run")).toDF("doc_id", "text"), "text", "doc_id",
      aPath, k = 3, w = 4).collect().map(_.toSeq).toSet
    DedupIndex.compactIndex(s, aPath, kind = "anchor")
    val spansAfter = DedupIndex.duplicateSpansAgainstIndex(
      Seq((50L, s"x $run")).toDF("doc_id", "text"), "text", "doc_id",
      aPath, k = 3, w = 4).collect().map(_.toSeq).toSet
    assert(spansAfter == spansBefore && spansAfter.nonEmpty)
  }

  test("compactIndex is crash-safe: an orphan tmp is cleaned, a crash " +
      "between the two swap renames is restored on the next call, and the " +
      "live path always holds a complete index") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "one text"), (2L, "two text")).toDF("doc_id", "text")
    val path = tmp("compact_atomic")
    DedupIndex.writeExactIndex(docs, "text", "doc_id", path)
    DedupIndex.appendToIndex(Seq((3L, "one text")).toDF("doc_id", "text"),
      "text", "doc_id", path, kind = "exact")
    def query() = DedupIndex.exactDuplicatesAgainstIndex(
        Seq((9L, "ONE text")).toDF("doc_id", "text"), "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val expected = query()
    assert(expected == Set((9L, 1L)))
    // (a) orphan tmp from a failed previous write must not leak into
    // the compacted index (and must be gone afterwards)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    Seq((999L, "garbage text")).toDF("doc_id", "text")
      .withColumnRenamed("doc_id", "keep_id")
      .select(md5(col("text")).as("text_key"), col("keep_id"),
        lit(1L).as("n_copies"))
      .write.parquet(s"$path._compact_tmp")
    DedupIndex.compactIndex(s, path, kind = "exact")
    assert(query() == expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path._compact_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path._compact_old")))
    // (b) simulate a crash BETWEEN the two renames: live path gone, the
    // previous index sitting at _compact_old — the next call restores
    // it before compacting, so nothing is lost
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path._compact_old")))
    DedupIndex.compactIndex(s, path, kind = "exact")
    assert(query() == expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path._compact_old")))
  }

  test("atomicRewrite crash ONE WINDOW LATER (round 16): a leftover " +
      "._compact_old holding the ONLY _graft_meta copy is salvaged into " +
      "the live root before deletion, so parameter validation still fires " +
      "— and a normal compact carries the meta inside the swap itself") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta eps zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val mh = tmp("meta_salvage")
    DedupIndex.writeMinHashIndex(docs, "text", "doc_id", mh,
      k = 64, bands = 16, shingleN = 3)
    val fs = new org.apache.hadoop.fs.Path(mh)
      .getFileSystem(s.sessionState.newHadoopConf())
    def p(x: String) = new org.apache.hadoop.fs.Path(x)
    // simulate the pre-fix residue: crash happened after rename(tmp,
    // live) but before the old→live meta carry — live index complete
    // but meta-less, the only meta copy inside ._compact_old
    fs.mkdirs(p(s"$mh._compact_old"))
    assert(fs.rename(p(s"$mh/_graft_meta"), p(s"$mh._compact_old/_graft_meta")))
    // without the salvage, this call would delete the only meta and the
    // wrong-geometry query below would SILENTLY return garbage candidates
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    assert(!fs.exists(p(s"$mh._compact_old")))
    assert(fs.exists(p(s"$mh/_graft_meta")))
    val e = intercept[IllegalArgumentException](
      DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id", mh,
        k = 32, bands = 8).collect())
    assert(e.getMessage.contains("parameter mismatch"))
    // matching geometry still served throughout
    assert(DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id",
      mh, k = 64, bands = 16).count() >= 0L)
    // the fixed ordering: after ANOTHER compact, kill between the two
    // renames (live gone, old present) — old now contains the meta COPY
    // that traveled with the swap, so restore brings it back intact
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    assert(fs.rename(p(mh), p(s"$mh._compact_old")))
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    assert(fs.exists(p(s"$mh/_graft_meta")))
    val e2 = intercept[IllegalArgumentException](
      DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id", mh,
        k = 32, bands = 8).collect())
    assert(e2.getMessage.contains("parameter mismatch"))
  }

  // ---- tombstones (round 16) --------------------------------------------

  test("tombstones: deleted corpus docs stop matching in exact and " +
      "near-dup admission, re-crawled content re-admits, compaction " +
      "applies deletions physically (minhash rows equal a fresh build " +
      "over survivors, set cleared), and aggregate-valued indexes fail " +
      "loudly instead of silently keeping deleted content") {
    val s = spark; import s.implicits._
    // -- exact ------------------------------------------------------
    val corpus = Seq((1L, "alpha text one"), (2L, "beta text two"))
      .toDF("doc_id", "text")
    val ex = tmp("ts_exact")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", ex)
    def admitEx(batch: org.apache.spark.sql.DataFrame) =
      DedupIndex.admitAgainstIndex(batch, "text", "doc_id", ex)
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val b1 = Seq((11L, "ALPHA text one")).toDF("doc_id", "text")
    assert(admitEx(b1) == Set((11L, "dup_corpus", 1L)))
    // takedown of doc 1: its key no longer matches — the re-crawl ADMITS
    DedupIndex.deleteDocs(Seq(1L).toDF("doc_id"), ex)
    assert(admitEx(b1) == Set((11L, "admitted", 11L)))
    // re-admission lifecycle: 11 is admitted and appended; a later copy
    // dups against the NEW keeper, not the deleted one
    DedupIndex.appendToIndex(b1, "text", "doc_id", ex, kind = "exact")
    assert(admitEx(Seq((21L, "alpha TEXT one")).toDF("doc_id", "text")) ==
      Set((21L, "dup_corpus", 11L)))
    // physical application: compaction drops the tombstoned row, clears
    // the set, and the queries are unchanged afterwards
    DedupIndex.compactIndex(s, ex, kind = "exact")
    val fs = new org.apache.hadoop.fs.Path(ex)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ex/_tombstones")))
    assert(!s.read.parquet(ex).collect().map(_.getLong(1)).contains(1L))
    assert(admitEx(Seq((21L, "alpha TEXT one")).toDF("doc_id", "text")) ==
      Set((21L, "dup_corpus", 11L)))
    // -- minhash + doc store -----------------------------------------
    val corpusRows = (1L to 10L).map(i => (i, synthDoc(i.toInt, 30)))
    val mcorpus = corpusRows.toDF("doc_id", "text")
    val mh = tmp("ts_mh"); val store = tmp("ts_store")
    DedupIndex.writeMinHashIndex(mcorpus, "text", "doc_id", mh)
    mcorpus.write.parquet(store)
    val nd = Seq((101L, editDoc(corpusRows(2)._2, 0, "EDIT")))
      .toDF("doc_id", "text")
    def admitNd() = DedupIndex.admitNearDupAgainstIndex(nd, "text",
        "doc_id", mh, store)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(admitNd() == Set((101L, "dup_corpus", 3L)))
    // takedown of corpus doc 3 from index AND store (the documented
    // pattern): the near-dup no longer matches anything
    DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), mh)
    DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), store)
    assert(admitNd() == Set((101L, "admitted", 101L)))
    // compaction applies physically: the band rows equal a FRESH build
    // over the surviving corpus, byte-for-byte, and the set clears
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    DedupIndex.compactDocStore(s, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$mh/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_tombstones")))
    val fresh = tmp("ts_mh_fresh")
    DedupIndex.writeMinHashIndex(
      mcorpus.filter(col("doc_id") =!= 3L), "text", "doc_id", fresh)
    def rows(p: String) = s.read.parquet(p)
      .select("id", "band", "key").collect().map(_.toSeq).toSet
    assert(rows(mh) == rows(fresh))
    assert(s.read.parquet(store).count() == 9L) // text bytes removed
    assert(admitNd() == Set((101L, "admitted", 101L)))
    // -- aggregate-valued kinds refuse row-wise deletion ---------------
    val an = tmp("ts_anchor")
    val run = (0 until 12).map(j => s"tok$j").mkString(" ")
    DedupIndex.writeAnchorIndex(Seq((1L, s"a $run")).toDF("doc_id", "text"),
      "text", "doc_id", an, k = 3, w = 4)
    DedupIndex.deleteDocs(Seq(1L).toDF("doc_id"), an)
    val e1 = intercept[IllegalArgumentException](
      DedupIndex.duplicateSpansAgainstIndex(
        Seq((9L, s"x $run")).toDF("doc_id", "text"), "text", "doc_id", an,
        k = 3, w = 4).collect())
    assert(e1.getMessage.contains("tombstones"))
    val e2 = intercept[IllegalArgumentException](
      DedupIndex.compactIndex(s, an, kind = "anchor"))
    assert(e2.getMessage.contains("tombstones"))
  }

  test("takedown-vs-compaction race (round 17): a deleteDocs landing " +
      "AFTER the rewrite's tombstone read but BEFORE the swap stays " +
      "PENDING instead of being destroyed with the old root — exact, " +
      "minhash, and doc-store kinds; the next compaction applies it") {
    val s = spark; import s.implicits._
    val fsOf = (p: String) => new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sessionState.newHadoopConf())
    def tsDataFiles(p: String): Int = {
      val d = new org.apache.hadoop.fs.Path(s"$p/_tombstones")
      val fs = fsOf(p)
      if (!fs.exists(d)) 0
      else fs.listStatus(d).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    }
    // -- exact: tombstone 1 applied by the rewrite; tombstone 2 lands
    // inside the race window (after the compacted relation is written —
    // i.e. after the rewrite's tombstone listing — before the renames)
    val corpus = Seq((1L, "alpha text one"), (2L, "beta text two"),
      (3L, "gamma text three")).toDF("doc_id", "text")
    val ex = tmp("race_exact")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", ex)
    DedupIndex.deleteDocs(Seq(1L).toDF("doc_id"), ex)
    DedupIndex.atomicSwap(s, ex, "compact", Seq("_graft_meta")) { tmpDir =>
      DedupIndex.dropTombstoned(s, s.read.parquet(ex), ex, "keep_id")
        .groupBy(col("text_key"))
        .agg(min(col("keep_id")).as("keep_id"),
          sum(col("n_copies")).as("n_copies"))
        .write.mode("overwrite").parquet(tmpDir)
      // the concurrent takedown: doc 2 — a write the swap used to delete
      DedupIndex.deleteDocs(Seq(2L).toDF("doc_id"), ex)
    }
    // doc 1 applied physically; doc 2 pending (file survived the swap)
    assert(!s.read.parquet(ex).collect().map(_.getLong(1)).contains(1L))
    assert(s.read.parquet(ex).collect().map(_.getLong(1)).contains(2L))
    assert(tsDataFiles(ex) == 1)
    def admitEx(batch: org.apache.spark.sql.DataFrame) =
      DedupIndex.admitAgainstIndex(batch, "text", "doc_id", ex)
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(admitEx(Seq((21L, "beta TEXT two")).toDF("doc_id", "text")) ==
      Set((21L, "admitted")))
    // the NEXT compaction applies the pending takedown and clears the set
    DedupIndex.compactIndex(s, ex, kind = "exact")
    assert(tsDataFiles(ex) == 0)
    assert(!s.read.parquet(ex).collect().map(_.getLong(1)).contains(2L))
    assert(admitEx(Seq((22L, "BETA text two")).toDF("doc_id", "text")) ==
      Set((22L, "admitted")))
    // -- minhash + doc store: same interleave through the shared protocol
    val corpusRows = (1L to 10L).map(i => (i, synthDoc(i.toInt, 30)))
    val mcorpus = corpusRows.toDF("doc_id", "text")
    val mh = tmp("race_mh"); val store = tmp("race_store")
    DedupIndex.writeMinHashIndex(mcorpus, "text", "doc_id", mh)
    mcorpus.write.parquet(store)
    DedupIndex.atomicSwap(s, mh, "compact", Seq("_graft_meta")) { tmpDir =>
      DedupIndex.dropTombstoned(s, s.read.parquet(mh), mh, "id")
        .distinct().write.mode("overwrite").parquet(tmpDir)
      DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), mh)
    }
    DedupIndex.atomicSwap(s, store, "compact", Seq("_graft_meta")) { tmpDir =>
      DedupIndex.dropTombstoned(s, s.read.parquet(store), store, "doc_id")
        .dropDuplicates("doc_id").write.mode("overwrite").parquet(tmpDir)
      DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), store)
    }
    assert(tsDataFiles(mh) == 1 && tsDataFiles(store) == 1)
    val nd = Seq((101L, editDoc(corpusRows(2)._2, 0, "EDIT")))
      .toDF("doc_id", "text")
    val adm = DedupIndex.admitNearDupAgainstIndex(nd, "text", "doc_id",
        mh, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(adm == Set((101L, "admitted"))) // 3 excluded though mid-swap
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    DedupIndex.compactDocStore(s, store)
    assert(tsDataFiles(mh) == 0 && tsDataFiles(store) == 0)
    assert(s.read.parquet(store).count() == 9L)
  }

  test("takedown-vs-compaction race, ANN codes (round 17): a " +
      "deleteVectors landing mid-compaction (after the base rewrite's " +
      "read, before the tombstone clear) stays pending and the served " +
      "top-k excludes it") {
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
    val path = tmp("race_ann")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, path,
      twoLevel = true)
    AnnIndex.deleteVectors(Seq(4L).toDF("vec_id"), path) // pre-compaction
    AnnIndex.compactIvfPqCodes(s, path, () =>
      // the racing takedown: vector 3 — a certain top-4 neighbor of
      // query 2 on the ring, so the serving exclusion below has teeth
      AnnIndex.deleteVectors(Seq(3L).toDF("vec_id"), path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    // 4 applied physically and cleared; 3 pending
    val ts = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    assert(fs.exists(ts))
    val pending = s.read.parquet(s"$ts/*.parquet").collect().map(_.getLong(0)).toSet
    assert(pending == Set(3L))
    val codeNids = s.read.parquet(s"$path/codes")
      .select("nid").distinct().collect().map(_.getLong(0)).toSet
    assert(!codeNids.contains(4L) && codeNids.contains(3L))
    val served = AnnIndex.queryIvfPqIndex(queries, path, m = 2, dim = 4,
        k = 4, nProbe = 2, twoLevel = true)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(4L) && !served.contains(3L))
    // the next compaction applies 3 physically and clears the set
    AnnIndex.compactIvfPqCodes(s, path)
    assert(!fs.exists(ts))
    assert(!s.read.parquet(s"$path/codes").select("nid").distinct()
      .collect().map(_.getLong(0)).toSet.contains(3L))
  }

  test("takedown recreating a bare live root inside the two-rename " +
      "window (round 17): entry recovery folds the stranded tombstones " +
      "into the restored root and the next compaction applies them") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "alpha text one"), (2L, "beta text two"))
      .toDF("doc_id", "text")
    val ex = tmp("barelive")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", ex)
    val fs = new org.apache.hadoop.fs.Path(ex)
      .getFileSystem(s.sessionState.newHadoopConf())
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    // simulate the stranded state: the swap renamed live away, then a
    // racing deleteDocs (whose exists-check passed just before the
    // rename) committed its append — recreating live as a BARE
    // _tombstones-only dir — and the process died
    assert(fs.rename(hp(ex), hp(s"$ex._compact_old")))
    Seq(2L).toDF("id").write.parquet(s"$ex/_tombstones")
    // next compaction: recovery folds the stranded takedown into the
    // restored root, the rewrite applies it, queries exclude doc 2
    DedupIndex.compactIndex(s, ex, kind = "exact")
    assert(!fs.exists(hp(s"$ex._compact_old")))
    assert(!fs.exists(hp(s"$ex/_tombstones"))) // applied + cleared
    val keeps = s.read.parquet(ex).collect().map(_.getLong(1)).toSet
    assert(keeps == Set(1L))
    val adm = DedupIndex.admitAgainstIndex(
        Seq((21L, "BETA text two")).toDF("doc_id", "text"),
        "text", "doc_id", ex)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(adm == Set((21L, "admitted")))
  }

  test("store-fed rebuilds (round 17): anchor and bloom rebuild-from-" +
      "store equal a fresh build over the surviving corpus, honoring " +
      "tombstones on the index AND on the store, clearing the index " +
      "set; meta-less legacy indexes fail loudly") {
    val s = spark; import s.implicits._
    // -- anchor -------------------------------------------------------
    val corpus = (1L to 6L).map(i => (i, synthDoc(i.toInt, 25)))
      .toDF("doc_id", "text")
    val an = tmp("rb_anchor"); val store = tmp("rb_store")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", an, k = 3, w = 4)
    corpus.write.parquet(store)
    // takedown recorded on the INDEX only: probes fail loudly until...
    DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), an)
    intercept[IllegalArgumentException](
      DedupIndex.duplicateSpansAgainstIndex(
        Seq((9L, synthDoc(3, 25))).toDF("doc_id", "text"),
        "text", "doc_id", an, k = 3, w = 4).collect())
    // ...the store-fed rebuild applies it (params come from _graft_meta)
    DedupIndex.rebuildAnchorIndexFromStore(s, store, an)
    def rows(p: String) = s.read.parquet(p)
      .select("g", "n_docs", "min_doc_id").collect().map(_.toSeq).toSet
    val fresh3 = tmp("rb_anchor_f3")
    DedupIndex.writeAnchorIndex(corpus.filter(col("doc_id") =!= 3L),
      "text", "doc_id", fresh3, k = 3, w = 4)
    assert(rows(an) == rows(fresh3))
    val fs = new org.apache.hadoop.fs.Path(an)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$an/_tombstones")))
    // a batch repeating doc 3's text finds no spans; doc 2's still hits
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((9L, synthDoc(3, 25))).toDF("doc_id", "text"),
      "text", "doc_id", an, k = 3, w = 4).count() == 0L)
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((9L, synthDoc(2, 25))).toDF("doc_id", "text"),
      "text", "doc_id", an, k = 3, w = 4).count() > 0L)
    // takedown recorded on the STORE only is honored too — AND the
    // earlier index-only takedown of 3 must stay durable: the first
    // rebuild propagated it into the store's set before clearing the
    // index's, so this second rebuild CANNOT resurrect doc 3 (the
    // resurrection bug this propagation exists to prevent)
    DedupIndex.deleteDocs(Seq(5L).toDF("doc_id"), store)
    DedupIndex.rebuildAnchorIndexFromStore(s, store, an)
    val fresh35 = tmp("rb_anchor_f35")
    DedupIndex.writeAnchorIndex(
      corpus.filter(!col("doc_id").isin(3L, 5L)),
      "text", "doc_id", fresh35, k = 3, w = 4)
    assert(rows(an) == rows(fresh35))
    // -- bloom (single-mask + sharded) ---------------------------------
    val ref = Seq((101L, "alpha beta gamma delta"),
      (102L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val refStore = tmp("rb_refstore")
    ref.write.parquet(refStore)
    def maskBytes(p: String) = s.read.parquet(p).select("mask")
      .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    val bl = tmp("rb_bloom")
    DedupIndex.writeBloomIndex(ref, "text", "doc_id", bl, n = 3)
    DedupIndex.deleteDocs(Seq(101L).toDF("doc_id"), bl)
    intercept[IllegalArgumentException](
      DedupIndex.bloomContaminationAgainstIndex(
        ref, "text", "doc_id", bl, n = 3).collect())
    DedupIndex.rebuildBloomIndexFromRef(s, refStore, bl)
    val blFresh = tmp("rb_bloom_f")
    DedupIndex.writeBloomIndex(ref.filter(col("doc_id") =!= 101L),
      "text", "doc_id", blFresh, n = 3)
    assert(maskBytes(bl) == maskBytes(blFresh))
    // 101's gram no longer flags; 102's still does
    val probe = DedupIndex.bloomContaminationAgainstIndex(
        Seq((9L, "alpha beta gamma"), (10L, "epsilon zeta eta"))
          .toDF("doc_id", "text"), "text", "doc_id", bl, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(probe(9L) == 0L && probe(10L) == 1L)
    val bsh = tmp("rb_bloomsh")
    DedupIndex.writeBloomIndexSharded(ref, "text", "doc_id", bsh,
      n = 3, shards = 4, mBits = 2048)
    DedupIndex.deleteDocs(Seq(101L).toDF("doc_id"), bsh)
    DedupIndex.rebuildBloomIndexFromRef(s, refStore, bsh)
    def shMasks(p: String) = s.read.parquet(p).select("shard", "mask")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toSet
    val bshFresh = tmp("rb_bloomsh_f")
    DedupIndex.writeBloomIndexSharded(ref.filter(col("doc_id") =!= 101L),
      "text", "doc_id", bshFresh, n = 3, shards = 4, mBits = 2048)
    assert(shMasks(bsh) == shMasks(bshFresh))
    // -- legacy (meta-less) indexes fail loudly -------------------------
    val legacy = tmp("rb_legacy")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", legacy,
      k = 3, w = 4)
    fs.delete(new org.apache.hadoop.fs.Path(s"$legacy/_graft_meta"), true)
    val e = intercept[IllegalArgumentException](
      DedupIndex.rebuildAnchorIndexFromStore(s, store, legacy))
    assert(e.getMessage.contains("_graft_meta"))
  }

  test("one-call Takedown (round 17): tombstones every row-wise root, " +
      "rebuilds anchor+bloom from their stores, and NOTHING serves the " +
      "deleted content in any path; without a store the aggregate kind " +
      "is loudly queued (probes keep failing until rebuilt)") {
    val s = spark; import s.implicits._
    val corpus = (1L to 8L).map(i => (i, synthDoc(i.toInt, 25)))
      .toDF("doc_id", "text")
    val ref = Seq((101L, "alpha beta gamma delta"),
      (102L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val vecs = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (math.cos(3 * a) / 2).toFloat, (math.sin(3 * a) / 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = tmp("takedown")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", s"$root/exact")
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", s"$root/minhash")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", s"$root/anchor",
      k = 3, w = 4)
    corpus.write.parquet(s"$root/docstore")
    ref.write.parquet(s"$root/refstore")
    DedupIndex.writeBloomIndex(ref, "text", "doc_id", s"$root/bloom", n = 3)
    val cents = vecs.filter(pmod(col("vec_id"), lit(8)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 10)
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4,
      s"$root/ann", twoLevel = true)
    vecs.write.parquet(s"$root/vecstore")
    val roots = PipelineRoots(
      exactIndex = Some(s"$root/exact"),
      minhashIndex = Some(s"$root/minhash"),
      docStore = Some(s"$root/docstore"),
      anchorIndex = Some(s"$root/anchor"),
      bloomIndex = Some(s"$root/bloom"),
      refStore = Some(s"$root/refstore"),
      annIndex = Some(s"$root/ann"),
      vecStore = Some(s"$root/vecstore"))
    // ONE call takes down doc 3, reference doc 101, and vector 7
    val report = Takedown(Seq(3L, 101L, 7L).toDF("doc_id"), roots)
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(report(s"$root/anchor") == "rebuilt")
    assert(report(s"$root/bloom") == "rebuilt")
    assert(report(s"$root/exact") == "tombstoned")
    assert(report(s"$root/vecstore") == "tombstoned")
    // exact: a re-crawl of doc 3's text ADMITS; doc 2's is still a dup
    val adm = DedupIndex.admitAgainstIndex(
        Seq((21L, synthDoc(3, 25)), (22L, synthDoc(2, 25)))
          .toDF("doc_id", "text"), "text", "doc_id", s"$root/exact")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(adm(21L) == "admitted" && adm(22L) == "dup_corpus")
    // near-dup: an edit of doc 3 admits; an edit of doc 2 still matches
    val ndBatch = Seq((31L, editDoc(synthDoc(3, 25), 0, "EDIT")),
      (32L, editDoc(synthDoc(2, 25), 0, "EDIT"))).toDF("doc_id", "text")
    val nd = DedupIndex.admitNearDupAgainstIndex(ndBatch, "text",
        "doc_id", s"$root/minhash", s"$root/docstore")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(nd(31L) == "admitted" && nd(32L) == "dup_corpus")
    // spans: doc 3's runs no longer anchor-hit; doc 2's still do
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((41L, synthDoc(3, 25))).toDF("doc_id", "text"), "text",
      "doc_id", s"$root/anchor", k = 3, w = 4).count() == 0L)
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((42L, synthDoc(2, 25))).toDF("doc_id", "text"), "text",
      "doc_id", s"$root/anchor", k = 3, w = 4).count() > 0L)
    // bloom: 101's grams clean, 102's still flag
    val bp = DedupIndex.bloomContaminationAgainstIndex(
        Seq((51L, "alpha beta gamma"), (52L, "epsilon zeta eta"))
          .toDF("doc_id", "text"), "text", "doc_id", s"$root/bloom", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bp(51L) == 0L && bp(52L) == 1L)
    // ANN: vector 7 never serves (ring neighbor of query 6)
    val served = AnnIndex.queryIvfPqIndex(
        vecs.filter(col("vec_id") === 6L), s"$root/ann", m = 2, dim = 4,
        k = 4, nProbe = 2, twoLevel = true)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(7L) && !served.contains(3L))
    // stores carry pending tombstones for their own compaction
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/vecstore/_tombstones")))
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/docstore/_tombstones")))
    // aggregate kinds without a store: LOUD queue — report says
    // rebuild_required, probes fail until an operator rebuilds
    val r2 = Takedown(Seq(4L).toDF("doc_id"),
        PipelineRoots(anchorIndex = Some(s"$root/anchor")))
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(r2(s"$root/anchor") == "rebuild_required")
    intercept[IllegalArgumentException](
      DedupIndex.duplicateSpansAgainstIndex(
        Seq((61L, synthDoc(4, 25))).toDF("doc_id", "text"), "text",
        "doc_id", s"$root/anchor", k = 3, w = 4).collect())
    // ...and the queued rebuild clears it
    DedupIndex.rebuildAnchorIndexFromStore(s, s"$root/docstore",
      s"$root/anchor")
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((61L, synthDoc(4, 25))).toDF("doc_id", "text"), "text",
      "doc_id", s"$root/anchor", k = 3, w = 4).count() == 0L)
  }

  test("takedown partial failure (round 18): a phase-2 rebuild that " +
      "throws becomes a rebuild_failed report row — phase-1 tombstones " +
      "intact, the OTHER aggregate root still rebuilt, and a re-run " +
      "after repairing the store clears the queue") {
    val s = spark; import s.implicits._
    val corpus = (1L to 8L).map(i => (i, synthDoc(i.toInt, 25)))
      .toDF("doc_id", "text")
    val ref = Seq((101L, "alpha beta gamma"), (102L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    val root = tmp("takedown_partial")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", s"$root/exact")
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", s"$root/anchor",
      k = 3, w = 4)
    ref.write.parquet(s"$root/refstore")
    DedupIndex.writeBloomIndex(ref, "text", "doc_id", s"$root/bloom", n = 3)
    // the BROKEN store: the dir exists (phase-1 tombstoning succeeds)
    // but holds no parquet, so the anchor rebuild's read throws
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/docstore"))
    val report = Takedown(Seq(3L, 101L).toDF("doc_id"), PipelineRoots(
        exactIndex = Some(s"$root/exact"),
        docStore = Some(s"$root/docstore"),
        anchorIndex = Some(s"$root/anchor"),
        bloomIndex = Some(s"$root/bloom"),
        refStore = Some(s"$root/refstore")))
      .collect().map(r => r.getString(0) ->
        (r.getString(2), Option(r.getString(3)))).toMap
    // the failed rebuild is REPORTED, not thrown — with the reason
    assert(report(s"$root/anchor")._1 == "rebuild_failed")
    assert(report(s"$root/anchor")._2.exists(_.nonEmpty))
    // the other aggregate root was still rebuilt; row-wise tombstoned
    assert(report(s"$root/bloom")._1 == "rebuilt")
    assert(report(s"$root/exact")._1 == ("tombstoned"))
    // phase-1 safety holds at the failed root: probes fail LOUDLY with
    // the rebuild instruction (deleted content never serves)
    intercept[IllegalArgumentException](
      DedupIndex.duplicateSpansAgainstIndex(
        Seq((61L, synthDoc(3, 25))).toDF("doc_id", "text"), "text",
        "doc_id", s"$root/anchor", k = 3, w = 4).collect())
    // the rebuilt bloom root serves: 101 clean, 102 still flags
    val bp = DedupIndex.bloomContaminationAgainstIndex(
        Seq((51L, "alpha beta gamma"), (52L, "epsilon zeta eta"))
          .toDF("doc_id", "text"), "text", "doc_id", s"$root/bloom", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bp(51L) == 0L && bp(52L) == 1L)
    // repair the store, re-run ONLY the queued root: queue clears
    corpus.write.mode("overwrite").parquet(s"$root/docstore")
    DedupIndex.deleteDocs(Seq(3L).toDF("doc_id"), s"$root/docstore")
    val r2 = Takedown(Seq(3L).toDF("doc_id"), PipelineRoots(
        docStore = Some(s"$root/docstore"),
        anchorIndex = Some(s"$root/anchor")))
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(r2(s"$root/anchor") == "rebuilt")
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((62L, synthDoc(3, 25))).toDF("doc_id", "text"), "text",
      "doc_id", s"$root/anchor", k = 3, w = 4).count() == 0L)
    assert(DedupIndex.duplicateSpansAgainstIndex(
      Seq((63L, synthDoc(2, 25))).toDF("doc_id", "text"), "text",
      "doc_id", s"$root/anchor", k = 3, w = 4).count() > 0L)
  }

  // ---- near-dup admission -----------------------------------------------

  private def editDoc(base: String, at: Int, tok: String): String = {
    val ts = base.split(" "); ts.updated(at, tok).mkString(" ")
  }
  private def synthDoc(seed: Int, n: Int): String =
    (0 until n).map(j => s"w${seed}x${(j * 7 + seed) % 23}").mkString(" ")

  test("near-dup admission: corpus near-dups, intra-batch near-dups and " +
      "novel docs get the right statuses; a replayed batch (own appends " +
      "already in index + doc store) recomputes byte-identical status") {
    val s = spark; import s.implicits._
    val corpusRows = (1L to 10L).map(i => (i, synthDoc(i.toInt, 30)))
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = tmp("nd_idx"); val store = tmp("nd_store")
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", idx,
      k = 64, bands = 16, shingleN = 3)
    corpus.write.parquet(store)
    val novelBase = synthDoc(500, 30)
    // 101: 1-token edit of corpus doc 3 → dup_corpus keep 3
    // 102/103: edits of a shared NOVEL base → 102 admits, 103 dup_batch
    // 104: novel, unlike anything → admitted
    val batch = Seq(
      (101L, editDoc(corpusRows(2)._2, 0, "EDIT")),
      (102L, novelBase),
      (103L, editDoc(novelBase, 29, "TAIL")),
      (104L, synthDoc(901, 25))).toDF("doc_id", "text")
    def admit() = DedupIndex.admitNearDupAgainstIndex(batch, "text",
        "doc_id", idx, store, k = 64, bands = 16, shingleN = 3,
        thetaBp = 5000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    val st = admit()
    assert(st == Map(
      101L -> (("dup_corpus", 3L)), 102L -> (("admitted", 102L)),
      103L -> (("dup_batch", 102L)), 104L -> (("admitted", 104L))))
    // maintenance after admission: admitted docs' band rows + texts
    val admitted = batch.filter(col("doc_id").isin(102L, 104L))
    DedupIndex.appendToIndex(admitted, "text", "doc_id", idx,
      kind = "minhash")
    admitted.write.mode("append").parquet(store)
    // replay: the same batch admitted again now sees its OWN band rows
    // and doc-store texts — the own-id exclusion keeps status identical
    assert(admit() == st)
    // a LATER batch near-dupping an admitted doc is dup_corpus
    val later = Seq((201L, editDoc(novelBase, 5, "MID"))).toDF("doc_id", "text")
    def admitLater() = DedupIndex.admitNearDupAgainstIndex(later, "text",
        "doc_id", idx, store).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(admitLater() == Map(201L -> (("dup_corpus", 102L))))
    // doc-store compaction: plant a replayed (duplicate) append, compact,
    // verification results unchanged and one row per id
    admitted.write.mode("append").parquet(store)
    DedupIndex.compactDocStore(s, store)
    assert(admitLater() == Map(201L -> (("dup_corpus", 102L))))
    val ids = s.read.parquet(store).groupBy("doc_id").count()
    assert(ids.agg(max("count")).head().getLong(0) == 1L)
  }

  test("exact admission replay safety: re-admitting a batch whose keys " +
      "were already appended (at-least-once replay) recomputes the " +
      "byte-identical status relation") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "alpha text one")).toDF("doc_id", "text")
    val idx = tmp("replay_idx")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", idx)
    val batch = Seq((11L, "ALPHA text one"), (12L, "novel gamma"),
      (13L, "novel GAMMA")).toDF("doc_id", "text")
    def admit() = DedupIndex.admitAgainstIndex(batch, "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val st = admit()
    assert(st == Set((11L, "dup_corpus", 1L), (12L, "admitted", 12L),
      (13L, "dup_batch", 12L)))
    // the crashed-after-append replay window: index already holds 12's key
    DedupIndex.appendToIndex(
      Seq((12L, "novel gamma")).toDF("doc_id", "text"),
      "text", "doc_id", idx, kind = "exact")
    assert(admit() == st) // NOT flipped to dup_corpus
  }

  test("index build metadata: queries and appends with mismatched " +
      "parameters or the wrong kind fail loudly; matching parameters and " +
      "legacy meta-less indexes pass; compaction preserves the meta") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta eps zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val mh = tmp("meta_mh"); val an = tmp("meta_an")
    DedupIndex.writeMinHashIndex(docs, "text", "doc_id", mh,
      k = 64, bands = 16, shingleN = 3)
    DedupIndex.writeAnchorIndex(docs, "text", "doc_id", an, k = 3, w = 4)
    // wrong LSH geometry → loud failure (silent garbage recall otherwise)
    val e1 = intercept[IllegalArgumentException](
      DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id", mh,
        k = 32, bands = 8).collect())
    assert(e1.getMessage.contains("parameter mismatch"))
    // wrong winnowing window
    val e2 = intercept[IllegalArgumentException](
      DedupIndex.duplicateSpansAgainstIndex(docs, "text", "doc_id", an,
        k = 5, w = 4).collect())
    assert(e2.getMessage.contains("parameter mismatch"))
    // wrong KIND against a typed index
    val e3 = intercept[IllegalArgumentException](
      DedupIndex.compactIndex(s, mh, kind = "anchor"))
    assert(e3.getMessage.contains("kind"))
    // appends validate too
    val e4 = intercept[IllegalArgumentException](
      DedupIndex.appendToIndex(docs, "text", "doc_id", an, "anchor",
        anchorK = 7, anchorW = 2))
    assert(e4.getMessage.contains("parameter mismatch"))
    // matching parameters pass, and compaction carries the meta through
    // its atomic swap (the check still fires afterwards)
    assert(DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id",
      mh, k = 64, bands = 16).count() >= 0L)
    DedupIndex.compactIndex(s, mh, kind = "minhash")
    val e5 = intercept[IllegalArgumentException](
      DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id", mh,
        k = 32, bands = 8).collect())
    assert(e5.getMessage.contains("parameter mismatch"))
    // legacy index (no meta) skips the check
    val fs = new org.apache.hadoop.fs.Path(mh)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$mh/_graft_meta"), true)
    assert(DedupIndex.minhashCandidatesAgainstIndex(docs, "text", "doc_id",
      mh, k = 32, bands = 8).count() >= 0L)
    // ANN: serving with a different quantizer geometry fails loudly
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i * 4 + j).toFloat / 80f)))
      .toDF("vec_id", "embedding")
    val cents = vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = Similarity.pqCodebook(vecs, m = 2, seedMod = 5)
    val ann = tmp("meta_ann")
    AnnIndex.writeIvfPqIndex(vecs, cents, cb, m = 2, dim = 4, ann,
      twoLevel = false)
    val e6 = intercept[IllegalArgumentException](
      AnnIndex.queryIvfPqIndex(vecs.limit(2), ann, m = 2, dim = 4, k = 2,
        twoLevel = true).collect())
    assert(e6.getMessage.contains("parameter mismatch"))
    val e7 = intercept[IllegalArgumentException](
      AnnIndex.appendToIvfPqIndex(vecs, ann, m = 4, dim = 4))
    assert(e7.getMessage.contains("parameter mismatch"))
  }

  // ---- streaming dedup-ingest ------------------------------------------

  test("streaming dedup-ingest: per-doc statuses match the admission rule; " +
      "the second run dedups against the first run's admissions and " +
      "re-processes nothing (exactly-once file source)") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "alpha text one"), (2L, "beta text two"))
      .toDF("doc_id", "text")
    val idx = tmp("ingest_idx")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", idx)
    val srcDir = tmp("ingest_src")
    val outDir = tmp("ingest_out")
    // batch 1: 11 re-fetches corpus doc 1 (case/whitespace-normalized
    // key); 12 and 13 share a NOVEL text (12 admits, 13 is dup_batch);
    // 14 is novel
    Seq((11L, "ALPHA  text one"), (12L, "novel gamma"),
      (13L, "novel GAMMA"), (14L, "delta unique"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    def stream = s.readStream
      .schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    def statuses() = s.read.parquet(s"$outDir/status").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("keep_id"))))
    val st1 = statuses()
    assert(st1.length == 4) // one row per batch doc, none duplicated
    assert(st1.toMap == Map(
      11L -> (("dup_corpus", 1L)), 12L -> (("admitted", 12L)),
      13L -> (("dup_batch", 12L)), 14L -> (("admitted", 14L))))
    // batch 2, NEW file in the same source dir: 21 repeats batch 1's
    // admitted novel text — the stream's own earlier admission, now in
    // the index → dup_corpus with keep_id 12; 22 is novel. The shared
    // checkpoint means the batch-1 file is NOT reprocessed.
    Seq((21L, "novel gamma"), (22L, "epsilon fresh"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    val st2 = statuses()
    assert(st2.length == 6) // 4 old rows + 2 new, no replays
    assert(st2.toMap ++ Map() == st1.toMap ++ Map(
      21L -> (("dup_corpus", 12L)), 22L -> (("admitted", 22L))))
    // retention (round 17): drop all but the newest status partition.
    // Replay safety holds because the DEDUP STATE lives in the index,
    // not in old status partitions — after pruning, a third batch still
    // dedups against batch 1's admissions, and re-running against the
    // checkpoint with no new files is a no-op (nothing resurrects).
    val dropped = graft.streaming.StreamingOps.pruneStatusPartitions(
      s, outDir, keepLastN = 1)
    assert(dropped == 1L)
    // (partition-column inference reads batch_id back as int)
    val partIds = s.read.parquet(s"$outDir/status")
      .select("batch_id").distinct().collect().map(_.get(0).toString).toSet
    assert(partIds.size == 1)
    assert(statuses().length == 2) // only batch 1's rows remain
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir) // no new files → no-op
    assert(statuses().length == 2)
    Seq((31L, "NOVEL gamma"), (32L, "delta UNIQUE"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    val st3 = statuses().toMap
    // 31 dups batch 1's admission (12), 32 dups batch 0's (14) — the
    // pruned partition's ADMISSION survives in the index
    assert(st3(31L) == (("dup_corpus", 12L)))
    assert(st3(32L) == (("dup_corpus", 14L)))
  }

  test("maintenance + takedown BETWEEN streaming micro-batches (round " +
      "18): a tick-performed compaction mid-stream neither replays the " +
      "checkpoint nor loses surviving dedup state, and a taken-down " +
      "admission re-admits — the GDPR story under a live ingest stream") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "alpha text one"), (2L, "beta text two"))
      .toDF("doc_id", "text")
    val idx = tmp("mstream_idx")
    val srcDir = tmp("mstream_src"); val outDir = tmp("mstream_out")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", idx)
    Seq((11L, "novel gamma"), (12L, "alpha text one"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    def stream = s.readStream
      .schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    def statuses() = s.read.parquet(s"$outDir/status").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("keep_id")))).toMap
    assert(statuses() == Map(
      11L -> (("admitted", 11L)), 12L -> (("dup_corpus", 1L))))
    // takedown BETWEEN batches: the stream's own admission (11) and a
    // base corpus doc (1) — then ONE maintenanceTick performs the
    // compaction while the stream's checkpoint sits untouched (it
    // lives under the status root, not the index root)
    DedupIndex.deleteDocs(Seq(11L, 1L).toDF("doc_id"), idx)
    val acts = Maintenance.maintenanceTick(s, idx)
      .collect().map(r => (r.getString(1), r.getBoolean(4))).toSeq
    assert(acts == Seq(("compact", true)), acts.mkString(";"))
    // batch 2 after the mid-stream maintenance: 21 repeats the
    // taken-down text → ADMITTED (the content is really gone); 22
    // repeats surviving corpus doc 2 → still dup_corpus; batch 1's
    // file is NOT reprocessed (4 rows total, old rows unchanged)
    Seq((21L, "novel gamma"), (22L, "beta text two"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    assert(statuses() == Map(
      11L -> (("admitted", 11L)), 12L -> (("dup_corpus", 1L)),
      21L -> (("admitted", 21L)), 22L -> (("dup_corpus", 2L))))
    // the re-admission is durable dedup state: batch 3 dups against it
    Seq((31L, "NOVEL  gamma")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir)
    assert(statuses()(31L) == (("dup_corpus", 21L)))
  }

  test("streaming NEAR-dup ingest (kind=minhash): per-doc statuses follow " +
      "the verified-Jaccard admission rule, admitted docs extend the band " +
      "index AND the doc store, and a later run dedups near-dups against " +
      "the earlier run's admissions") {
    val s = spark; import s.implicits._
    val corpusRows = (1L to 8L).map(i => (i, synthDoc(i.toInt, 30)))
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = tmp("ndstream_idx"); val store = tmp("ndstream_store")
    val srcDir = tmp("ndstream_src"); val outDir = tmp("ndstream_out")
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", idx)
    corpus.write.parquet(store)
    val novelBase = synthDoc(600, 30)
    // batch 1: 101 near-dups corpus doc 2; 102 is a novel base (admits);
    // 103 near-dups 102 within the batch (dup_batch); 104 novel
    Seq((101L, editDoc(corpusRows(1)._2, 3, "EDIT")),
      (102L, novelBase),
      (103L, editDoc(novelBase, 0, "HEAD")),
      (104L, synthDoc(777, 25)))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    def stream = s.readStream
      .schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir,
      kind = "minhash", docStorePath = store)
    def statuses() = s.read.parquet(s"$outDir/status").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("keep_id")))).toMap
    assert(statuses() == Map(
      101L -> (("dup_corpus", 2L)), 102L -> (("admitted", 102L)),
      103L -> (("dup_batch", 102L)), 104L -> (("admitted", 104L))))
    // batch 2: 201 near-dups batch 1's ADMITTED doc 102 → dup_corpus
    // against the stream's own earlier admission (band rows + doc-store
    // text both came from the run above); 202 novel
    Seq((201L, editDoc(novelBase, 15, "MID")), (202L, synthDoc(888, 28)))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOps.dedupIngestStream(
      stream, "text", "doc_id", idx, outDir,
      kind = "minhash", docStorePath = store)
    assert(statuses() == Map(
      101L -> (("dup_corpus", 2L)), 102L -> (("admitted", 102L)),
      103L -> (("dup_batch", 102L)), 104L -> (("admitted", 104L)),
      201L -> (("dup_corpus", 102L)), 202L -> (("admitted", 202L))))
    // the doc store grew by exactly the admitted docs
    assert(s.read.parquet(store).count() == 8L + 2L + 1L)
  }

  test("takedown fuzz (round 17): after ONE Takedown call, every surface " +
      "equals a FRESH pipeline built over the survivors — random corpora, " +
      "random takedown sets, random probe batches") {
    val s = spark; import s.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 104729)
      // distinct texts per doc (the exact-index takedown contract assumes
      // a deduped corpus: the keeper IS the only holder of its text)
      val n = 10 + rnd.nextInt(6)
      val corpusRows = (1L to n.toLong).map(i => (i, synthDoc(i.toInt, 22)))
      val corpus = corpusRows.toDF("doc_id", "text")
      val refRows = (101L to 104L).map(i =>
        (i, synthDoc(i.toInt % 7 + 60, 8)))
      val ref = refRows.toDF("doc_id", "text")
      val dead = corpusRows.map(_._1).filter(_ => rnd.nextInt(3) == 0)
      val deadRef = Seq(101L + rnd.nextInt(4))
      val ids = dead ++ deadRef
      if (ids.nonEmpty) {
        def pipeline(tag: String, docs: org.apache.spark.sql.DataFrame,
            refs: org.apache.spark.sql.DataFrame): String = {
          val r = tmp(s"tdfuzz_${tag}_$seed")
          DedupIndex.writeExactIndex(docs, "text", "doc_id", s"$r/exact")
          DedupIndex.writeMinHashIndex(docs, "text", "doc_id", s"$r/minhash")
          DedupIndex.writeAnchorIndex(docs, "text", "doc_id", s"$r/anchor",
            k = 3, w = 4)
          docs.write.parquet(s"$r/docstore")
          refs.write.parquet(s"$r/refstore")
          DedupIndex.writeBloomIndex(refs, "text", "doc_id", s"$r/bloom",
            n = 3)
          r
        }
        val live = pipeline("live", corpus, ref)
        Takedown(ids.toDF("doc_id"), PipelineRoots(
          exactIndex = Some(s"$live/exact"),
          minhashIndex = Some(s"$live/minhash"),
          docStore = Some(s"$live/docstore"),
          anchorIndex = Some(s"$live/anchor"),
          bloomIndex = Some(s"$live/bloom"),
          refStore = Some(s"$live/refstore")))
        val fresh = pipeline("fresh",
          corpus.filter(!col("doc_id").isin(dead: _*)),
          ref.filter(!col("doc_id").isin(deadRef: _*)))
        // random probe batch: copies of corpus texts (dead ones
        // included — the takedown's re-admission semantics), edits
        // (near-dups), reference grams, and novel docs
        val batch = (1 to 6).map { j =>
          val id = 200L + j
          rnd.nextInt(4) match {
            case 0 => (id, corpusRows(rnd.nextInt(n))._2)
            case 1 => (id, editDoc(corpusRows(rnd.nextInt(n))._2, 0, "ED"))
            case 2 => (id, refRows(rnd.nextInt(4))._2)
            case _ => (id, synthDoc(900 + j, 20))
          }
        }.toDF("doc_id", "text")
        def surfaces(r: String): Seq[Set[Any]] = Seq(
          DedupIndex.admitAgainstIndex(batch, "text", "doc_id", s"$r/exact")
            .collect().map(x =>
              (x.getLong(0), x.getString(2), x.getLong(3)): Any).toSet,
          DedupIndex.minhashCandidatesAgainstIndex(batch, "text",
              "doc_id", s"$r/minhash")
            .collect().map(x => (x.getLong(0), x.getLong(1)): Any).toSet,
          DedupIndex.admitNearDupAgainstIndex(batch, "text", "doc_id",
              s"$r/minhash", s"$r/docstore")
            .collect().map(x =>
              (x.getLong(0), x.getString(1), x.getLong(2)): Any).toSet,
          DedupIndex.duplicateSpansAgainstIndex(batch, "text", "doc_id",
              s"$r/anchor", k = 3, w = 4)
            .collect().map(x =>
              (x.getLong(0), x.getLong(1), x.getLong(2)): Any).toSet,
          DedupIndex.bloomContaminationAgainstIndex(batch, "text",
              "doc_id", s"$r/bloom", n = 3)
            .collect().map(x =>
              (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)): Any)
            .toSet)
        assert(surfaces(live) == surfaces(fresh),
          s"seed=$seed dead=$dead deadRef=$deadRef")
      }
    }
  }

  // ---- admission differential fuzz (round 16) --------------------------

  test("admission fuzz: randomized dup-heavy corpora/batches with random " +
      "keeper tombstones — admitAgainstIndex matches a naive recompute in " +
      "BOTH broadcast and forced-shuffle modes") {
    // and a third mode: the driver-side answer under the default cutoff
    val s = spark; import s.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 7919)
      def text(k: Int): String =
        (0 until 6).map(j => s"t${k}w${(j * 3 + k) % 11}").mkString(" ")
      // corpus: 30 docs over ~10 distinct texts → real dup groups
      val corpusRows = (1L to 30L).map(i => (i, text(rnd.nextInt(10))))
      // batch: globally-unique ids; mix of corpus texts, novel texts
      // (some repeated within the batch), one-off novels
      val batchRows = (101L to 115L).map { i =>
        val r = rnd.nextInt(10)
        val t = if (r < 4) text(rnd.nextInt(10))        // corpus re-fetch
                else if (r < 7) text(50 + rnd.nextInt(3)) // novel, dup-able
                else text(100 + i.toInt)                  // novel one-off
        (i, t)
      }
      val corpus = corpusRows.toDF("doc_id", "text")
      val batch = batchRows.toDF("doc_id", "text")
      val path = tmp(s"fuzz$seed")
      DedupIndex.writeExactIndex(corpus, "text", "doc_id", path)
      // tombstone a random subset of KEEPERS (the only ids in the index)
      val keepers = corpusRows.groupBy(_._2).map(_._2.map(_._1).min).toSeq
      val dead = keepers.filter(_ => rnd.nextBoolean()).sorted
      if (dead.nonEmpty) DedupIndex.deleteDocs(dead.toDF("doc_id"), path)
      // naive recompute of the contract
      val surviving = corpusRows.groupBy(_._2)
        .map { case (t, rows) => t -> rows.map(_._1).min }
        .filter { case (_, keep) => !dead.contains(keep) }
      val batchMin = batchRows.groupBy(_._2)
        .map { case (t, rows) => t -> rows.map(_._1).min }
      val expected = batchRows.map { case (id, t) =>
        id -> (surviving.get(t) match {
          case Some(keep) => ("dup_corpus", keep)
          case None if batchMin(t) != id => ("dup_batch", batchMin(t))
          case None => ("admitted", id)
        })
      }.toMap
      def got(): Map[Long, (String, Long)] =
        DedupIndex.admitAgainstIndex(batch, "text", "doc_id", path)
          .collect().map(r => r.getLong(0) ->
            ((r.getString(2), r.getLong(3)))).toMap
      def planned(): Map[Long, (String, Long)] = DriverSide.withLimits(-1L, -1L)(got())
      assert(planned() == expected, s"seed $seed broadcast mode")
      s.conf.set(DedupIndex.MaxBroadcastBytesKey, "0")
      try assert(planned() == expected, s"seed $seed shuffle mode")
      finally s.conf.unset(DedupIndex.MaxBroadcastBytesKey)
      assert(got() == expected, s"seed $seed driver mode")
    }
  }

  // ---- describeIndex (round 16 ops surface) ----------------------------

  test("describeIndex: kind/params from meta, data counts exclude " +
      "sidecars, tombstone count live, legacy index reported as such") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val exact = tmp("desc_exact")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", exact)
    def row(p: String) = DedupIndex.describeIndex(s, p).head()
    val r0 = row(exact)
    assert(r0.getString(1) == "exact" && r0.getString(2) == "")
    assert(r0.getLong(3) > 0 && r0.getLong(4) > 0) // data files, bytes
    assert(r0.getLong(5) == 0 && !r0.getBoolean(6))
    DedupIndex.deleteDocs(Seq(1L, 2L).toDF("doc_id"), exact)
    assert(row(exact).getLong(5) == 2) // tombstones counted, distinct
    // data counts must not change when only sidecars were added
    assert(row(exact).getLong(3) == r0.getLong(3))
    val sh = tmp("desc_sh")
    DedupIndex.writeBloomIndexSharded(corpus, "text", "doc_id", sh,
      n = 3, shards = 8, mBits = 4096)
    val r1 = row(sh)
    assert(r1.getString(1) == "bloomsharded")
    assert(r1.getString(2) == "mBits=4096,n=3,shards=8")
    // legacy (meta-less) relation
    val legacy = tmp("desc_legacy")
    corpus.write.parquet(legacy)
    assert(row(legacy).getString(1) == "legacy")
    // a crash-orphaned _tombstones dir (only _temporary, no committed
    // file) must read as NO deletions, not brick the index
    val orphan = tmp("desc_orphan")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", orphan)
    val fs = new org.apache.hadoop.fs.Path(orphan)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$orphan/_tombstones/_temporary"))
    assert(row(orphan).getLong(5) == 0)
    val batch = Seq((10L, "alpha beta gamma")).toDF("doc_id", "text")
    val st = DedupIndex.admitAgainstIndex(batch, "text", "doc_id", orphan)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(st(10L) == "dup_corpus") // index still serves
    // a takedown against a nonexistent path fails loudly instead of
    // silently "succeeding" while the real index keeps serving
    val eMiss = intercept[IllegalArgumentException](
      DedupIndex.deleteDocs(Seq(1L).toDF("doc_id"), tmp("desc_nowhere")))
    assert(eMiss.getMessage.contains("no index/store"))
  }

  // ---- backfill broadcast fallback (round 16) --------------------------

  test("backfill fallback: forcing the shuffle path (maxBroadcastBytes=0) " +
      "yields byte-identical results across the whole probe family, and " +
      "the forced plans broadcast nothing") {
    val s = spark; import s.implicits._
    def synthDoc(seed: Int, n: Int): String =
      (0 until n).map(j => s"w${seed}x${(j * 7 + seed) % 23}").mkString(" ")
    val corpusRows = (1L to 12L).map(i => (i, synthDoc(i.toInt, 30)))
    val corpus = corpusRows.toDF("doc_id", "text")
    val nearA = corpusRows(2)._2.split(" ").updated(0, "EDIT").mkString(" ")
    val batch = Seq(
      (101L, corpusRows(0)._2),            // exact re-fetch of 1
      (102L, nearA),                       // near-dup of 3
      (103L, synthDoc(901, 30)),           // novel
      (104L, synthDoc(901, 30))).toDF("doc_id", "text") // dup of 103 in-batch
    val exact = tmp("bf_exact"); val mh = tmp("bf_mh")
    val anc = tmp("bf_anchor"); val store = tmp("bf_store")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", exact)
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", mh,
      k = 64, bands = 16)
    DedupIndex.writeAnchorIndex(corpus, "text", "doc_id", anc, k = 3, w = 4)
    corpus.write.mode("overwrite").parquet(store)
    // the plans, not the driver-side answers of the two admissions
    def runAll(): (Set[Any], Set[Any], Set[Any], Set[Any]) = DriverSide.withLimits(-1L, -1L)((
      DedupIndex.admitAgainstIndex(batch, "text", "doc_id", exact)
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)): Any).toSet,
      DedupIndex.minhashCandidatesAgainstIndex(batch, "text", "doc_id", mh,
        k = 64, bands = 16).collect()
        .map(r => (r.getLong(0), r.getLong(1)): Any).toSet,
      DedupIndex.duplicateSpansAgainstIndex(batch, "text", "doc_id", anc,
        k = 3, w = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)): Any).toSet,
      DedupIndex.admitNearDupAgainstIndex(batch, "text", "doc_id", mh,
        store, k = 64, bands = 16).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)): Any).toSet))
    val normal = runAll()
    assert(normal._1.nonEmpty && normal._2.nonEmpty && normal._3.nonEmpty)
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set(DedupIndex.MaxBroadcastBytesKey, "0")
    // kill un-hinted auto-broadcast too so the plan assertion below
    // proves the batch key set takes the shuffle path
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forced = runAll()
      assert(forced == normal) // join-order independence, byte-identical
      val plan = DriverSide.withLimits(-1L, -1L)(
        DedupIndex.admitAgainstIndex(batch, "text", "doc_id", exact))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") &&
        !plan.contains("BroadcastHashJoin"),
        s"forced backfill plan still broadcasts:\n$plan")
    } finally {
      s.conf.unset(DedupIndex.MaxBroadcastBytesKey)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("materializeBatch (round 17): a corpus-filter-shaped batch " +
      "inherits the corpus-scale estimate into probeHint and takes the " +
      "shuffle plan; materializing reclaims the broadcast plan — " +
      "results byte-identical") {
    val s = spark; import s.implicits._
    val corpusDir = tmp("mb_corpus")
    (1L to 40000L).map(i => (i, synthDoc((i % 97).toInt, 30)))
      .toDF("doc_id", "text").write.parquet(corpusDir)
    val corpus = s.read.parquet(corpusDir)
    val exact = tmp("mb_exact")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", exact)
    // the daily batch expressed as a selective filter over the store —
    // the documented foot-gun: without CBO column stats the filter does
    // NOT reduce the optimizer estimate
    val rawBatch = corpus.filter(pmod(col("doc_id"), lit(1000)) === 0)
    val corpusEst =
      corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rawBatch.queryExecution.optimizedPlan.stats.sizeInBytes
      == corpusEst)
    val mat = DedupIndex.materializeBatch(rawBatch)
    assert(mat.queryExecution.optimizedPlan.stats.sizeInBytes
      < corpusEst / BigInt(10))
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // budget sits between the true batch size and the corpus estimate;
    // auto-broadcast off so the plan assertion isolates probeHint
    s.conf.set(DedupIndex.MaxBroadcastBytesKey, (corpusEst / 10).toString)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q(b: org.apache.spark.sql.DataFrame) = DriverSide.withLimits(-1L, -1L)(
        DedupIndex.admitAgainstIndex(b, "text", "doc_id", exact))
      val planRaw = q(rawBatch).queryExecution.executedPlan.toString
      assert(!planRaw.contains("BroadcastHashJoin"),
        s"raw filtered batch should take the shuffle plan:\n$planRaw")
      val planMat = q(mat).queryExecution.executedPlan.toString
      assert(planMat.contains("BroadcastHashJoin"),
        s"materialized batch should take the broadcast plan:\n$planMat")
      def rows(b: org.apache.spark.sql.DataFrame) = q(b).collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
      assert(rows(rawBatch) == rows(mat))
      assert(rows(mat).nonEmpty)
    } finally {
      s.conf.unset(DedupIndex.MaxBroadcastBytesKey)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  // ---- round 18: the between-renames window + the FS contract ---------

  test("atomicSwap bare-live recreation BETWEEN the renames (round 18, " +
      "ADVICE): a racing deleteDocs whose append commits after " +
      "rename(live, old) must not make rename(tmp, live) nest — the " +
      "new data serves readably and the takedown stays PENDING") {
    val s = spark; import s.implicits._
    val path = tmp("between_renames")
    val corpus = Seq((1L, "alpha one"), (2L, "beta two"), (3L, "gamma three"))
      .toDF("doc_id", "text")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    def hp(x: String) = new org.apache.hadoop.fs.Path(x)
    // the racing deleteDocs: its exists-check passed before the swap's
    // first rename; its append commits in the two-rename window,
    // recreating `live` as a bare _tombstones-only dir. Without the
    // re-check, LocalFS rename(tmp, live) NESTS the new data at
    // live/._compact_tmp (invisible to parquet) and returns true, and
    // delete(old) then destroys the only readable copy of the index.
    DedupIndex.testBetweenRenames = () =>
      Seq(2L).toDF("id").write.mode("append").parquet(s"$path/_tombstones")
    try {
      DedupIndex.compactIndex(s, path, kind = "exact")
    } finally DedupIndex.testBetweenRenames = () => ()
    // the swap completed; the new data is AT live (not nested under it)
    assert(fs.exists(hp(path)))
    assert(!fs.exists(hp(s"$path/._compact_tmp")))
    assert(!fs.exists(hp(s"$path/._compact_old")))
    val keys = s.read.parquet(path).collect().map(_.getLong(1)).toSet
    assert(keys == Set(1L, 2L, 3L)) // physically intact...
    // ...with the race-window takedown rescued as PENDING: queries
    // exclude doc 2 now, and the next compaction applies it physically
    val adm = DedupIndex.admitAgainstIndex(
        Seq((21L, "beta two")).toDF("doc_id", "text"), "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(adm == Set((21L, "admitted")))
    DedupIndex.compactIndex(s, path, kind = "exact")
    assert(!s.read.parquet(path).collect().map(_.getLong(1)).contains(2L))
  }

  test("atomicSwap NON-bare live recreation between the renames aborts " +
      "loudly with old and tmp intact (single-maintainer violation, " +
      "round 18) — nothing is deleted, nothing nests") {
    val s = spark; import s.implicits._
    val path = tmp("nonbare_recreate")
    Seq((1L, "k1"), (2L, "k2")).toDF("doc_id", "text")
      .write.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    def hp(x: String) = new org.apache.hadoop.fs.Path(x)
    DedupIndex.testBetweenRenames = () =>
      Seq((9L, "foreign")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(path) // a foreign writer's data
    val ex = try {
      intercept[java.io.IOException](
        DedupIndex.atomicSwap(s, path, "compact", Nil) { tmpDir =>
          s.read.parquet(path).write.mode("overwrite").parquet(tmpDir)
        })
    } finally DedupIndex.testBetweenRenames = () => ()
    assert(ex.getMessage.contains("concurrent writer"))
    // previous data recoverable at old; new data still at tmp; the
    // foreign live was NOT renamed into (no nesting)
    assert(fs.exists(hp(s"$path._compact_old")))
    assert(fs.exists(hp(s"$path._compact_tmp")))
    assert(!fs.exists(hp(s"$path/._compact_tmp")))
    assert(s.read.parquet(s"$path._compact_old").count() == 2L)
  }

  test("atomicSwap filesystem contract (round 18): an object-store " +
      "scheme whose rename is non-atomic is rejected with a named " +
      "error; the documented conf accepts the weakened semantics " +
      "explicitly") {
    val s = spark
    val fakeS3a = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    val root = new org.apache.hadoop.fs.Path("s3a://bucket/idx")
    val ex = intercept[IllegalStateException](
      DedupIndex.requireAtomicRenameFs(s, fakeS3a, root, "compact"))
    assert(ex.getMessage.contains("s3a"))
    assert(ex.getMessage.contains("not atomic"))
    assert(ex.getMessage.contains("spark.graft.index.allowNonAtomicRename"))
    // the explicit opt-in lifts the guard (weakened semantics accepted)
    s.conf.set("spark.graft.index.allowNonAtomicRename", "true")
    try DedupIndex.requireAtomicRenameFs(s, fakeS3a, root, "compact")
    finally s.conf.unset("spark.graft.index.allowNonAtomicRename")
    // HDFS-class and local filesystems pass untouched
    DedupIndex.requireAtomicRenameFs(s,
      new org.apache.hadoop.fs.Path("/tmp").getFileSystem(
        s.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path("/tmp/idx"), "compact")
  }

  test("atomicSwap on a SIMULATED object store (nar://, copy-then-" +
      "delete dir renames): rejected by default; under the documented " +
      "opt-out a crash mid-rename strands a partial root that the " +
      "recovery protocol cannot recognize — the next compaction " +
      "SILENTLY loses data. The executable case for the contract guard") {
    val s = spark; import s.implicits._
    // route the nar scheme to the harness (sqlConf entries propagate
    // into every newHadoopConf, driver and task side)
    s.conf.set("fs.nar.impl", classOf[NonAtomicRenameFs].getName)
    val local = tmp("narstore")
    val path = s"nar://$local/exact"
    try {
      def docsIn(r: Range) = r
        .map(i => (i.toLong, s"nar doc $i distinct payload $i"))
        .toDF("doc_id", "text")
      DedupIndex.writeExactIndex(docsIn(1 to 400), "text", "doc_id", path)
      // three appends → the index root holds ≥4 data files (the crash
      // below must strand a PARTIAL data set, not a sidecar-only gap)
      Seq(401 to 800, 801 to 1200, 1201 to 1600).foreach(r =>
        DedupIndex.appendToIndex(docsIn(r), "text", "doc_id", path, "exact"))
      val c0 = s.read.parquet(path).count()
      assert(c0 == 1600L)
      DedupIndex.deleteDocs(Seq(7L).toDF("doc_id"), path)
      // 1. the DEFAULT posture: any swap-backed op rejects the scheme
      // with the named error before touching anything
      val g = intercept[IllegalStateException](
        DedupIndex.compactIndex(s, path, "exact"))
      assert(g.getMessage.contains("'nar'"))
      assert(s.read.parquet(path).count() == c0) // untouched
      // 2. the documented opt-out + a crash mid rename(live, old): the
      // window is O(data) on this store class, and a crash inside it
      // leaves BOTH roots partial — a shape none of the swap's
      // crash-recovery cases (live-missing+old, bare-live) matches
      s.conf.set("spark.graft.index.allowNonAtomicRename", "true")
      NonAtomicRenameFs.crashWhenDstContains = "._compact_old"
      val ex = intercept[java.io.IOException](
        DedupIndex.compactIndex(s, path, "exact"))
      assert(ex.getMessage.contains("simulated crash"),
        s"wrong failure: ${ex.getMessage}")
      NonAtomicRenameFs.crashWhenDstContains = null
      // mixed state SERVES: the live root now holds a strict subset
      val cPartial = s.read.parquet(path).count()
      assert(cPartial > 0 && cPartial < c0,
        s"expected a partial live root, got $cPartial of $c0")
      // 3. the next compaction runs the recovery protocol — which was
      // enumerated for atomic-rename crash shapes. It salvages the meta
      // sidecar, then deletes `old` WITH the bulk of the data: the op
      // reports success and the loss is permanent and silent.
      DedupIndex.compactIndex(s, path, "exact")
      val cFinal = s.read.parquet(path).count()
      assert(cFinal > 0 && cFinal < c0 - 1,
        s"silent-loss demonstration: expected < ${c0 - 1} rows to " +
          s"survive, got $cFinal")
      assert(cFinal <= cPartial)
    } finally {
      NonAtomicRenameFs.crashWhenDstContains = null
      s.conf.unset("spark.graft.index.allowNonAtomicRename")
      s.conf.unset("fs.nar.impl")
    }
  }
}
