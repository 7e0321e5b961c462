package graft

import graft.plans.Closure
import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5): closure = reachability; ingest
  * round-trips sorted input; minhash similarity tracks Jaccard.
  * (scalacheck generators sampled with fixed seeds — the scalatest
  * bridge artifact isn't in the offline dependency set). */
class PropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** Deterministic samples from a generator. */
  def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  val edgeGen: Gen[List[(String, String)]] = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 25)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
    } yield (s"n$a", s"n$b"))
  } yield edges

  def reachability(edges: List[(String, String)]): Set[(String, String)] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    nodes.flatMap { start =>
      var seen = Set.empty[String]
      var frontier = adj.getOrElse(start, Set.empty)
      while (frontier.nonEmpty) {
        val fresh = frontier.diff(seen)
        seen ++= fresh
        frontier = fresh.flatMap(adj.getOrElse(_, Set.empty))
      }
      seen.map(start -> _)
    }
  }

  test("closure (driver BFS and distributed fixpoint) == BFS reachability, incl. cycles") {
    val s = spark; import s.implicits._
    samples(edgeGen, 8).filter(_.nonEmpty).foreach { edges =>
      val df = edges.toDF("src", "dst")
      val expect = reachability(edges)
      val driver = Closure.transitive(df).as[(String, String)].collect().toSet
      assert(driver == expect, s"driver-side closure wrong for $edges")
      val dist = Closure.transitiveDistributed(df).as[(String, String)].collect().toSet
      assert(dist == expect, s"distributed closure wrong for $edges")
    }
  }

  test("ingest round-trip: parquet content == time-sorted CSV input") {
    val s = spark; import s.implicits._
    val cases = samples(Gen.zip(Gen.choose(5, 200), Gen.choose(0L, 1000000L)), 4)
    cases.foreach { case (n, offset) =>
      val csv = java.nio.file.Files.createTempDirectory("prop-csv")
      val dest = java.nio.file.Files.createTempDirectory("prop-fact").resolve("d").toString
      val uuid = java.util.UUID.nameUUIDFromBytes(s"$n-$offset".getBytes).toString
      val base = java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(offset)
      val rows = (0 until n).map(i =>
        (base.plusSeconds(37L * i), math.sin(i) * 100))
      val shuffled = new scala.util.Random(n).shuffle(rows)
      java.nio.file.Files.write(csv.resolve(s"$uuid.csv"),
        (s"datetime,lbl" +: shuffled.map { case (t, v) =>
          s"${t.toString.replace("T", " ").replace("Z", "+00:00")},$v"
        }).mkString("\n").getBytes)
      Ingest.transform(spark, "c1", csv.toString, dest)
      val got = spark.read.parquet(dest)
        .select("time", "value").collect()
        .map(r => (r.getTimestamp(0).toInstant, r.getDouble(1)))
      assert(got.length == n)
      assert(got.map(_._1).toSeq == rows.map(_._1).toSeq) // time-sorted
      assert(got.toSet == rows.toSet)
    }
  }

  test("ngramJaccard == plain-Scala shingle-set math on random corpora") {
    val s = spark; import s.implicits._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docGen = for {
      len <- Gen.choose(1, 20)
      ws <- Gen.listOfN(len, wordGen)
    } yield ws.mkString(" ")
    val texts = samples(docGen, 12).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = texts.toDF("doc_id", "text")
    val allPairs = for {
      (ia, _) <- texts; (ib, _) <- texts if ia < ib
    } yield (ia, ib)
    val got = graft.operators.Dedup
      .ngramJaccard(allPairs.toDF("id_a", "id_b"), docs, "text", "doc_id", shingleN = 2)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"), r.getAs[Long]("jaccard_bp")))
      .toMap
    // plain-Scala reference: 2-gram shingle SETS over the same tokenization
    // (docs shorter than n yield one whole-doc shingle — Dedup's pos-0 rule)
    def shingleSet(t: String): Set[Seq[String]] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      if (toks.length < 2) Set(toks) else toks.sliding(2).map(_.toSeq).toSet
    }
    val byId = texts.toMap
    allPairs.foreach { case (ia, ib) =>
      val (sa, sb) = (shingleSet(byId(ia)), shingleSet(byId(ib)))
      val inter = sa.intersect(sb).size.toLong
      val union = sa.union(sb).size.toLong
      val (gi, gu, gbp) = got((ia, ib))
      assert(gi == inter && gu == union,
        s"pair ($ia,$ib): got ($gi,$gu) want ($inter,$union)")
      assert(gbp == inter * 10000 / union)
    }
  }

  test("minhash signature agreement approximates Jaccard similarity ordering") {
    val s = spark; import s.implicits._
    // doc pairs with decreasing overlap → signature agreement must decrease
    val docs = Seq(
      (0L, (1 to 50).map("t" + _).mkString(" ")),
      (1L, (1 to 45).map("t" + _).mkString(" ") + " x1 x2 x3 x4 x5"), // J≈0.82
      (2L, (1 to 25).map("t" + _).mkString(" ") + " " + (1 to 25).map("y" + _).mkString(" ")), // J≈0.33
      (3L, (1 to 50).map("z" + _).mkString(" "))) // J=0
      .toDF("doc_id", "text")
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "text", "doc_id", k = 64, shingleN = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Long, b: Long) = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
    assert(agree(0L, 1L) > agree(0L, 2L))
    assert(agree(0L, 2L) > agree(0L, 3L))
    assert(agree(0L, 3L) <= 3) // J=0 → near-zero agreement
  }

  test("fused minhash kernel is bit-identical to the explode-shape signatures") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "EPS", "zed", "x", "Y9")
    // lengths straddle every shingle edge: 1, 2 (< n), exactly n, long
    val docs = ((1L to 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((98L, "solo"), (99L, "two words"))).toDF("doc_id", "text")
    for (n <- Seq(1, 3, 5); k <- Seq(8, 64)) {
      val a = graft.operators.Dedup.minhashSignatures(docs, "text", "doc_id", k, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val b = graft.operators.Dedup.minhashSignaturesFused(docs, "text", "doc_id", k, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(a == b, s"signature mismatch at n=$n k=$k")
    }
    // fused band keys == bandKeys over the explode-shape signatures
    import org.apache.spark.sql.graftbridge.Bridge
    val viaBandKeys = graft.operators.Dedup.minhashSignatures(docs, "text", "doc_id", 64, 3)
      .select(org.apache.spark.sql.functions.col("id"),
        graft.operators.Dedup.bandKeys(
          org.apache.spark.sql.functions.col("sig"), 16, 4).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaKernel = docs.select(
        org.apache.spark.sql.functions.col("doc_id").as("id"),
        Bridge.column(graft.functions.MinHashBandKeys(
          Bridge.expression(graft.operators.TextOps.tokens(
            org.apache.spark.sql.functions.col("text"))), 64, 3, 16)).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaBandKeys == viaKernel)
    // streaming row-local helper shares the exact same hash space
    val viaStreaming = docs.collect().map { r =>
      r.getLong(0) -> graft.streaming.StreamingOps
        .bandKeysOf(r.getLong(0), r.getString(1), 64, 16).map(_.key).toSeq
    }.toMap
    assert(viaStreaming == viaKernel)
    // interpreted path (nullSafeEval, no codegen): same values as the
    // DataFrame run above, and the empty-array → NULL rule holds
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def evalSig(tokens: Seq[String], k: Int, n: Int): Any =
      graft.functions.MinHashSignature(
        Literal.create(tokens, ArrayType(StringType)), k, n)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(evalSig(Nil, 8, 3) == null)
    val viaDf = graft.operators.Dedup.minhashSignaturesFused(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "text", "doc_id", 8, 3)
      .collect().head.getSeq[Long](1)
    val viaEval = evalSig(Seq("a", "b", "c", "d"), 8, 3)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(viaDf == viaEval)
  }
}
