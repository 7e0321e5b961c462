package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 pipeline operators: semantic dedup, PII redaction, BPE pair
  * stats, bigram-LM scoring, mixture apportionment, shard manifests,
  * frame-level audio features, image resize. */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // ---- semantic dedup -------------------------------------------------

  test("semanticDedup drops larger-id near-copies within a cluster only") {
    val s = spark; import s.implicits._
    // two well-separated directions; ids 1,2 near-identical (cos ≈ 1),
    // id 3 the same direction as 1/2 but in the OTHER cluster seed's
    // direction it would never land; id 4 alone in cluster B
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.01)),
      (2L, Array(1.0, 0.0, 0.0, 0.02)), // near-copy of 1 (cos ≈ 1) → dropped
      (3L, Array(0.8, 0.6, 0.0, 0.0)), // same cluster, cos ≈ 0.80 < thr → kept
      (4L, Array(0.0, 1.0, 0.0, 0.0))) // other cluster, isolated → kept
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val out = Dedup.semanticDedup(vecs, cents, "embedding", "vec_id", 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(1L) == (10L, 0))
    assert(out(2L) == (10L, 1)) // only the larger id of the near pair drops
    assert(out(3L) == (10L, 0))
    assert(out(4L) == (20L, 0))
  }

  test("semanticDedup fails loudly when a cluster exceeds maxCluster") {
    val s = spark; import s.implicits._
    val vecs = (1L to 10L).map(i => (i, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val cents = Seq((10L, Seq(1.0, 0.0))).toDF("cid", "cvec")
    val e = intercept[IllegalStateException] {
      Dedup.semanticDedup(vecs, cents, "embedding", "vec_id", 0.9, maxCluster = 5)
    }
    assert(e.getMessage.contains("maxCluster"))
  }

  test("semanticDedup never compares across clusters") {
    val s = spark; import s.implicits._
    // identical vectors forced into different clusters by proximity to
    // different centroids → neither drops
    val vecs = Seq(
      (1L, Array(1.0, 0.9, 0.0, 0.0)),
      (2L, Array(0.9, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val out = Dedup.semanticDedup(vecs, cents, "embedding", "vec_id", 0.5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(1L -> 0, 2L -> 0))
  }

  // ---- PII ------------------------------------------------------------

  test("piiCounts and redactPii find and replace emails, phones, IPs") {
    val s = spark; import s.implicits._
    val df = Seq("mail bob.smith@corp.example.com or 555-0199 at 192.168.1.77 end")
      .toDF("text")
    val row = df.select(
      TextOps.piiCounts(col("text")).map { case (n, c) => c.as(n) } :+
        TextOps.redactPii(col("text")).as("red"): _*).head()
    assert(row.getLong(0) == 1L) // email
    assert(row.getLong(1) == 1L) // phone
    assert(row.getLong(2) == 1L) // ip
    assert(row.getString(3) == "mail <EMAIL> or <PHONE> at <IP> end")
  }

  test("piiCounts: no false hits on clean text; multiple hits counted") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("no pii here, just words and 42 numbers", 0L, 0L, 0L),
      ("a@b.io c@d.net", 2L, 0L, 0L),
      ("555-123 555-4567", 0L, 2L, 0L),
      ("1.2.3.4 and 10.0.0.1", 0L, 0L, 2L))
      .toDF("text", "e", "p", "i")
    val bad = df.select(
      (TextOps.piiCounts(col("text")).map { case (n, c) => c.as(n) } ++
        Seq(col("e"), col("p"), col("i"))): _*)
      .filter(col("n_emails") =!= col("e") || col("n_phones") =!= col("p") ||
        col("n_ips") =!= col("i"))
    assert(bad.count() == 0)
  }

  // ---- BPE pair stats -------------------------------------------------

  test("bpePairStats counts in-word adjacent character pairs") {
    val s = spark; import s.implicits._
    // "abab cd" → words abab, cd → pairs ab, ba, ab, cd
    val out = TextOps.bpePairStats(Seq("abab cd").toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 2L, "ba" -> 1L, "cd" -> 1L))
  }

  test("bpePairStats normalizes case/punctuation and skips 1-char words") {
    val s = spark; import s.implicits._
    // "A-B" normalizes to "a b": two 1-char words, no pairs; "xyz." → xyz
    val out = TextOps.bpePairStats(Seq("A-B xyz.").toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("xy" -> 1L, "yz" -> 1L))
  }

  // ---- bigram LM ------------------------------------------------------

  test("bigramLmScores computes exact conditional-probability basis points") {
    val s = spark; import s.implicits._
    // corpus bigrams: doc1: (a b) (b a) (a b); doc2: (a c)
    // counts: c2(a,b)=2 c2(b,a)=1 c2(a,c)=1 ; c1(a)=3 c1(b)=1
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.bigramLmScores(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc1: bp(a,b)=2*10000/3=6666, bp(b,a)=1*10000/1=10000, bp(a,b)=6666
    assert(out(1L) == ((3L, 23332L, 7777L, 6666L)))
    // doc2: bp(a,c)=1*10000/3=3333
    assert(out(2L) == ((1L, 3333L, 3333L, 3333L)))
  }

  test("bigramLmScores equals a plain-Scala reference on random corpora") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (1L to 25L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val bigs = docs.flatMap { case (id, t) =>
      t.split(" ").sliding(2).filter(_.length == 2).map(p => (id, p(0), p(1)))
    }
    val c2 = bigs.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val c1 = bigs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = bigs.groupBy(_._1).map { case (id, bs) =>
      val bps = bs.map(b => c2((b._2, b._3)) * 10000L / c1(b._2))
      id -> (bs.size.toLong, bps.sum, bps.sum / bs.size, bps.min)
    }
    val got = TextOps.bigramLmScores(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  // ---- DSIR importance weights ----------------------------------------

  test("dsirWeights scores pool docs by target-vs-pool bigram LM ratio") {
    val s = spark; import s.implicits._
    // target (doc 9): "a b a b" -> tc2(a,b)=2 tc2(b,a)=1; tc1(a)=2 tc1(b)=1
    // pool: doc1 "a b c" -> (a,b)(b,c); doc2 "c c" -> (c,c); doc3 "z" (no
    // bigram, excluded). sc2(a,b)=1 sc2(b,c)=1 sc2(c,c)=1; sc1(a)=1 sc1(b)=1
    // sc1(c)=1.
    val df = Seq((9L, "a b a b", true), (1L, "a b c", false),
      (2L, "c c", false), (3L, "z", false)).toDF("doc_id", "text", "tgt")
    val out = TextOps.dsirWeights(df, "text", "doc_id", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: (a,b): 2*10000/2 - 1*10000/1 = 0; (b,c): 0 - 10000 = -10000
    // doc2: (c,c): 0 - 10000 = -10000
    assert(out == Map(1L -> ((2L, -10000L)), 2L -> ((1L, -10000L))))
  }

  test("dsirWeights equals a plain-Scala reference on random corpora") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (1L to 40L).map { i =>
      val t = Seq.fill(2 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, t, i % 5 == 0) // every 5th doc is the target domain
    }
    val bigs = docs.flatMap { case (id, t, tgt) =>
      t.split(" ").sliding(2).filter(_.length == 2).map(p => (id, tgt, p(0), p(1)))
    }
    val (tb, pb) = bigs.partition(_._2)
    val tc2 = tb.groupBy(b => (b._3, b._4)).view.mapValues(_.size.toLong).toMap
    val tc1 = tb.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val sc2 = pb.groupBy(b => (b._3, b._4)).view.mapValues(_.size.toLong).toMap
    val sc1 = pb.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val expected = pb.groupBy(_._1).map { case (id, bs) =>
      val dbps = bs.map { b =>
        val bpT = tc2.get((b._3, b._4))
          .map(c2 => c2 * 10000L / tc1(b._3)).getOrElse(0L)
        bpT - sc2((b._3, b._4)) * 10000L / sc1(b._3)
      }
      id -> (bs.size.toLong, dbps.sum)
    }
    val got = TextOps.dsirWeights(
        docs.toDF("doc_id", "text", "tgt"), "text", "doc_id", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("dsirWeights edges: empty target scores pure-pool penalty; target docs never output") {
    val s = spark; import s.implicits._
    // no doc is target → every bigram is target-unseen (bp_t = 0), so the
    // weight is exactly -sum(bp_s): for doc 1 "a a", sc2(a,a)=1 sc1(a)=1
    // → -10000
    val noTgt = Seq((1L, "a a", false), (2L, "b c", false))
      .toDF("doc_id", "text", "tgt")
    val out1 = TextOps.dsirWeights(noTgt, "text", "doc_id", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out1(1L) == -10000L && out1(2L) == -10000L)
    // all docs target → pool is empty → empty output, not an error
    val allTgt = Seq((1L, "a a", true)).toDF("doc_id", "text", "tgt")
    assert(TextOps.dsirWeights(allTgt, "text", "doc_id", col("tgt")).count() == 0L)
  }

  test("corpusDupNgrams: exact fraction of positions covered by cross-doc grams") {
    val s = spark; import s.implicits._
    // doc1/doc2 share "x y z" (and doc2 repeats it); doc3 is all-unique
    val df = Seq(
      (1L, "x y z a b"),   // grams: xyz yza zab -> 1 dup of 3
      (2L, "x y z x y z"), // grams: xyz yzx zxy xyz -> xyz(2 of 4 positions)
      (3L, "p q r s")      // grams: pqr qrs -> 0 dup
    ).toDF("doc_id", "text")
    val out = TextOps.corpusDupNgrams(df, "text", "doc_id", n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 1L, 3333L)))
    assert(out(2L) == ((4L, 2L, 5000L)))
    assert(out(3L) == ((2L, 0L, 0L)))
  }

  test("corpusDupNgrams equals a plain-Scala reference on random corpora") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (1L to 30L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val n = 3
    val gramsByDoc = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
    }.toMap
    val docFreq = gramsByDoc.toSeq.flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val expected = gramsByDoc.collect { case (id, gs) if gs.nonEmpty =>
      val dup = gs.count(g => docFreq(g) >= 2)
      id -> (gs.size.toLong, dup.toLong, 10000L * dup / gs.size)
    }.toMap
    val got = TextOps.corpusDupNgrams(docs.toDF("doc_id", "text"), "text", "doc_id",
        n = n, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
  }

  test("corpusDupNgrams: gram assembly evaluates ONCE (ReusedExchange, single window sort)") {
    val s = spark; import s.implicits._
    // through parquet, not toDF: a LocalRelation gets constant-folded and
    // the subtree under test could vanish from the executed plan
    val dir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    (1L to 40L).map { i =>
      (i, if (i % 5 == 0) "shared boilerplate header text common to many documents"
          else s"unique body ${i * 13} with words ${i * 7} and ${i * 3}")
    }.toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val out = TextOps.corpusDupNgrams(docs, "text", "doc_id", n = 3, minDocs = 2)
    out.collect()
    // AQE's toString appends the pre-execution "Initial Plan" — assert on
    // the Final Plan section only
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the three consumers (freq agg, semi-join probe, n_pos agg) must read
    // the one planted repartition(id) shuffle, not re-run gram assembly
    assert(plan.contains("ReusedExchange"),
      "gram-assembly shuffle must be reused across branches:\n" + plan.take(3000))
    assert("(?i)\\bWindow\\b".r.findAllIn(plan).length == 1,
      "lead-window gram assembly must appear exactly once in the executed plan:\n" +
        plan.take(3000))
    assert("Generate".r.findAllIn(plan).length == 1,
      "posexplode must appear exactly once in the executed plan:\n" + plan.take(3000))
  }

  test("scoreTerciles: exact integer tercile buckets per group; one scan via ReusedExchange") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-terc").toString
    // en: scores 1..9 once each -> t1=3, t2=6 -> 3/3/3 split
    // de: [5,5,5,7] with ties -> t1=t2=5 -> three tail, one head, NO middle
    ((1 to 9).map(i => (i.toLong, "en", i.toLong)) ++
      Seq((101L, "de", 5L), (102L, "de", 5L), (103L, "de", 5L), (104L, "de", 7L)))
      .toDF("doc_id", "lang", "score").write.parquet(s"$dir/scores.parquet")
    val scored = spark.read.parquet(s"$dir/scores.parquet")
    val out = TextOps.scoreTerciles(scored, Seq("lang"), "score")
    val rows = out.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"))).toMap
    (1 to 3).foreach(i => assert(rows(i.toLong) == "tail"))
    (4 to 6).foreach(i => assert(rows(i.toLong) == "middle"))
    (7 to 9).foreach(i => assert(rows(i.toLong) == "head"))
    assert(rows(101L) == "tail" && rows(102L) == "tail" && rows(103L) == "tail")
    assert(rows(104L) == "head")
    // single evaluation of the scored input: histogram, thresholds, and
    // classify probe all read the planted (group, score) exchange
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      "tercile branches must reuse the planted exchange:\n" + plan.take(3000))
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      "scored input must be scanned exactly once:\n" + plan.take(3000))
  }

  test("canonicalUrl: case, ports, slashes, tracking params, fragments") {
    val s = spark; import s.implicits._
    val cases = Seq(
      // mixed case host + default port + dup slashes + trailing slash +
      // tracking + fragment
      "HTTPS://WWW.Ex.COM:443//A//b/?utm_source=x&id=5#f" ->
        "https://www.ex.com/A/b?id=5",
      // http default port; params order preserved; consecutive trackers
      "http://Ex.com:80/p?a=1&utm_a=x&utm_b=y&fbclid=z&b=2" ->
        "http://ex.com/p?a=1&b=2",
      // non-default port preserved; path case preserved
      "https://Ex.com:8080/CaseSensitive/Path" ->
        "https://ex.com:8080/CaseSensitive/Path",
      // all params are trackers -> query dropped entirely
      "https://ex.com/p?utm_source=a&gclid=b" -> "https://ex.com/p",
      // plain URL is a fixpoint
      "https://ex.com/a/b?x=1" -> "https://ex.com/a/b?x=1",
      // cross-scheme default ports are REAL ports and must survive
      // (round-11 fix: the strip is scheme-conditioned)
      "http://ex.com:443/x" -> "http://ex.com:443/x",
      "https://ex.com:80/x" -> "https://ex.com:80/x")
    val out = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.canonicalUrl(col("u")).as("c")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"canonicalUrl($in) = ${out(in)}, want $want")
    }
  }

  test("stripHtml: scripts/styles wholesale, entities decoded, escape roundtrips") {
    val s = spark; import s.implicits._
    val cases = Seq(
      // script string literal CONTAINS markup — must vanish wholesale
      "<p>keep</p><script>var x = \"<p>gone</p>\";</script><p>too</p>" ->
        "keep too",
      // style + comment + attribute-laden tags
      "<style media=\"all\">p{color:red}</style><!-- note --><a href=\"/x\">link</a>" ->
        "link",
      // entity decode, amp LAST: literal "&lt;" survives one level
      "a &amp;lt; b &lt;c&gt; &quot;d&quot; &#39;e&#39; &nbsp;f" ->
        "a &lt; b <c> \"d\" 'e' f",
      // tags become word boundaries, whitespace collapses
      "<div>one</div><div>two\n\n three</div>" -> "one two three",
      // mixed-case close tags
      "<SCRIPT>x</SCRIPT>y<STYLE a=b>z</STYLE>" -> "y")
    val out = cases.map(_._1).toDF("h")
      .select(col("h"), operators.TextOps.stripHtml(col("h")).as("t")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"stripHtml($in) = '${out(in)}', want '$want'")
    }
    // escape → wrap → extract roundtrips arbitrary markup-laden text
    val nasty = "a<b & c>\"d\" 'e' &amp; </script> <style>"
    val round = Seq(nasty).toDF("x")
      .select(operators.TextOps.stripHtml(concat(lit("<p>"),
        operators.TextOps.escapeHtml(col("x")), lit("</p>"))).as("r"))
      .head().getString(0)
    assert(round == "a<b & c>\"d\" 'e' &amp; </script> <style>", round)
  }

  test("chunkSpans covers every token exactly, with stride-spaced starts") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(9)
    val docs = (1L to 15L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(200))("w").mkString(" ")))
    val nToks = docs.toMap.view.mapValues(_.split(" ").length.toLong).toMap
    val out = TextOps.chunkSpans(docs.toDF("doc_id", "text"), "text", "doc_id",
        chunkLen = 16, stride = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    docs.foreach { case (id, _) =>
      val chunks = out(id).sortBy(_._2)
      val n = nToks(id)
      assert(chunks.head._3 == 0L) // first chunk starts at 0
      assert(chunks.last._4 == n) // last chunk ends at the doc end
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 - a._3 == 12L) // stride-spaced starts
          assert(a._4 > b._3) // consecutive chunks overlap
        case _ => ()
      }
      chunks.foreach { c => assert(c._4 - c._3 == math.min(16L, n - c._3)) }
    }
  }

  test("ngramCounts builds the pruned count table") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a b c a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    // 3-grams: doc1: "a b c","b c a","c a b","a b c"; doc2: "a b c","b c d"
    val all = TextOps.ngramCounts(df, "text", "doc_id", n = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("a b c" -> 3L, "b c a" -> 1L, "c a b" -> 1L, "b c d" -> 1L))
    val pruned = TextOps.ngramCounts(df, "text", "doc_id", n = 3, minCount = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned == Map("a b c" -> 3L)) // singleton tail dropped
  }

  // ---- temperature mixture --------------------------------------------

  test("temperatureMixture apportions the budget exactly, √-weighted") {
    val s = spark; import s.implicits._
    // sources with 1, 4, 9 docs → weights 1e6, 2e6, 3e6
    val df = (Seq.fill(1)("s1") ++ Seq.fill(4)("s2") ++ Seq.fill(9)("s3"))
      .toDF("source")
    val out = Sampling.temperatureMixture(df, "source", budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val m = out.map(r => r._1 -> r).toMap
    assert(m("s1")._3 == 1000000L && m("s2")._3 == 2000000L && m("s3")._3 == 3000000L)
    // shares 100/6·(1,2,3) → base 16,33,50 rem 4,2,0 → leftover 1 → s1 +1
    assert(m("s1")._4 == 17L && m("s2")._4 == 33L && m("s3")._4 == 50L)
    assert(out.map(_._4).sum == 100L)
  }

  test("temperatureMixture allocation always sums to the budget") {
    val s = spark; import s.implicits._
    val df = (Seq.fill(7)("a") ++ Seq.fill(13)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(29)("d")).toDF("source")
    for (budget <- Seq(1L, 10L, 997L)) {
      val total = Sampling.temperatureMixture(df, "source", budget)
        .agg(sum(col("alloc"))).head().getLong(0)
      assert(total == budget, s"budget $budget")
    }
  }

  // ---- shard stats ----------------------------------------------------

  test("shardStats partitions the corpus completely and deterministically") {
    val s = spark; import s.implicits._
    val df = (0L until 200L).map(i => (i, s"doc $i text with words")).toDF("doc_id", "text")
    val out = Packing.shardStats(df, "text", "doc_id", nShards = 8)
    val rows = out.collect()
    assert(rows.map(_.getLong(1)).sum == 200L) // every doc in exactly one shard
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    // deterministic: a second run is identical
    val again = Packing.shardStats(df, "text", "doc_id", nShards = 8).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  // ---- audio frames ---------------------------------------------------

  /** Minimal valid PCM16 WAV around the given samples. */
  private def wavBytes(samples: Seq[Int]): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val data = samples.flatMap(v => le16(v & 0xFFFF)).toArray
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  test("decodeWavFrames: frame boundaries, ragged tail, zero crossings") {
    // 5 frames of 2 samples + 1 ragged: signs + - + + - - +
    val samples = Seq(100, -200, 300, 400, -500, -600, 700)
    val frames = Multimodal.decodeWavFrames(1L, wavBytes(samples), frameLen = 2)
    assert(frames.map(_.frame_index) == Seq(0, 1, 2, 3))
    assert(frames.map(_.n_samples) == Seq(2L, 2L, 2L, 1L))
    // crossings WITHIN frames only: (100,-200)=1, (300,400)=0, (-500,-600)=0
    assert(frames.map(_.n_crossings) == Seq(1L, 0L, 0L, 0L))
    assert(frames.map(_.sum_samples) == Seq(-100L, 700L, -1100L, 700L))
    assert(frames(0).sum_squares == 100L * 100 + 200L * 200)
    assert(frames(0).peak_abs == 200)
  }

  test("decodeWavFrames totals equal decodeWav whole-stream stats") {
    val samples = Seq.tabulate(1000)(i => (i * 37 % 4001) - 2000)
    val b = wavBytes(samples)
    val whole = Multimodal.decodeWav(7L, b).get
    val frames = Multimodal.decodeWavFrames(7L, b, frameLen = 256)
    assert(frames.map(_.n_samples).sum == whole.n_samples)
    assert(frames.map(_.sum_samples).sum == whole.sum_samples)
    assert(frames.map(_.sum_squares).sum == whole.sum_squares)
    assert(frames.map(_.peak_abs).max == whole.peak_abs)
  }

  test("decodeWavFrames on corrupt payload returns empty, never throws") {
    assert(Multimodal.decodeWavFrames(1L, Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeWavFrames(1L, "RIFFxxxxWAVE".getBytes).isEmpty)
  }

  // ---- image resize ---------------------------------------------------

  test("resizePngStats matches the pixel formula on a real encoded PNG") {
    val (id, w, h) = (5L, 10, 7)
    val png = Multimodal.pngEncode(id, w, h)
    val out = Multimodal.resizePngStats(id, png, factor = 2).get
    assert(out.src_w == w && out.src_h == h)
    assert(out.width == 5 && out.height == 4)
    // brute-force from v(y, xByte) = (id + 7y + 13·xByte) mod 251
    var sum = 0L; var ss = 0L; var mx = 0
    for (ry <- 0 until 4; rx <- 0 until 5; ch <- 0 until 4) {
      val v = ((id + 7L * (2 * ry) + 13L * (4 * (2 * rx) + ch)) % 251L).toInt
      sum += v; ss += v.toLong * v; mx = math.max(mx, v)
    }
    assert(out.n_bytes == 4L * 5 * 4)
    assert(out.sum_bytes == sum && out.sum_squares == ss && out.max_px == mx)
  }

  test("resizePngStats factor=1 reproduces decodePng whole-image stats") {
    val png = Multimodal.pngEncode(9L, 16, 16)
    val full = Multimodal.decodePng(9L, png).get
    val r1 = Multimodal.resizePngStats(9L, png, factor = 1).get
    assert(r1.width == 16 && r1.height == 16)
    assert(r1.sum_bytes == full.sum_bytes && r1.sum_squares == full.sum_squares)
    assert(r1.max_px == Seq(full.max_r, full.max_g, full.max_b, full.max_a).max)
  }

  // ---- streaming near-dup candidates ----------------------------------

  test("streaming near-dup candidate stream flags bucket collisions") {
    val s = spark; import s.implicits._
    import graft.streaming.StreamingOps
    val passage = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, passage),
      (2L, passage), // near-copy of 1 → must collide in every band
      (3L, "completely unrelated words about parquet footers and shuffles"))
    val dir = java.nio.file.Files.createTempDirectory("neardup-stream").toString
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val in = s.readStream.schema("doc_id LONG, text STRING").parquet(dir)
      .as[(Long, String)]
    StreamingOps.runToMemory(
      StreamingOps.nearDupCandidatesStream(in).toDF(), "neardup_out")
    val pairs = s.sql("SELECT DISTINCT doc_id, dup_of FROM neardup_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 1L))) // identical docs pair up; doc 3 is silent
  }

  test("nearDupCandidatesStream transform runs identically on a batch Dataset") {
    val s = spark; import s.implicits._
    import graft.streaming.StreamingOps
    val passage = "one two three four five six seven eight nine ten eleven twelve"
    val ds = Seq((10L, passage), (20L, passage),
      (30L, "nothing in common with anything else at all here")).toDS()
    val got = StreamingOps.nearDupCandidatesStream(ds)
      .collect().map(c => (c.doc_id, c.dup_of)).toSet
    assert(got == Set((20L, 10L)))
  }

  // ---- connected components on the subgraph ---------------------------

  test("connectedComponents labels isolated nodes without iterating over them") {
    val s = spark; import s.implicits._
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents with no pairs at all maps every node to itself") {
    val s = spark; import s.implicits._
    val nodes = (1L to 4L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  // ---- quality filter -------------------------------------------------

  test("qualityFilter sets the right reason bits") {
    val s = spark; import s.implicits._
    // distinct words, ~33% stopwords, avg token len ≈ 6, no repetition
    val good = (1 to 30).map(i => s"the apple$i banana$i").mkString(" ")
    val short = "the and of is it" // 5 tokens, mean len 2.4
    val digits = "the 111 222 333 444 555 666 777 888 999 000 123 456 789 " * 5
    val df = Seq((1L, good), (2L, short), (3L, digits)).toDF("doc_id", "text")
    val out = TextOps.qualityFilter(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out(1L) == ((0L, 1))) // clean doc passes every rule
    assert(out(2L)._1 == (1L | 2L) && out(2L)._2 == 0) // short + tiny words
    assert((out(3L)._1 & 4L) == 4L) // digit-heavy
    assert((out(3L)._1 & 32L) == 32L) // and repetitious (5× same sentence)
  }

  // ---- int8 quantization ----------------------------------------------

  test("quantizeInt8Stats: exact codes, saturation, zero-vector guard") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8Stats(df, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7))).toMap
    // vec 1: amax=1, codes (127, -127, 64, 0) — round-half-up of 63.5
    assert(out(1L) == ((1.0, 2L, 64L, 127L * 127 * 2 + 64L * 64, out(1L)._5)))
    // error mass: only the 0.5 → 64/127 code has reconstruction error
    assert(out(1L)._5 > 0L)
    assert(out(2L) == ((0.0, 0L, 0L, 0L, 0L))) // zero vector: all zero codes
  }

  // ---- chunking -------------------------------------------------------

  test("chunkSpans: whole-doc chunk, overlap windows, ragged tail") {
    val s = spark; import s.implicits._
    val doc10 = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val doc3 = "a b c"
    val df = Seq((1L, doc10), (2L, doc3)).toDF("doc_id", "text")
    val out = TextOps.chunkSpans(df, "text", "doc_id", chunkLen = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    // doc1: nChunks = ceil((10-4)/3)+1 = 3 → [0,4) [3,7) [6,10)
    assert(out.filter(_._1 == 1L).map(t => (t._3, t._4, t._5)).toSeq ==
      Seq((0L, 4L, 4L), (3L, 7L, 4L), (6L, 10L, 4L)))
    // doc2 shorter than a chunk → one whole-doc chunk
    assert(out.filter(_._1 == 2L).map(t => (t._3, t._4, t._5)).toSeq == Seq((0L, 3L, 3L)))
  }

  test("chunkSpans fingerprints identify identical windows across docs") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x y z w"), (2L, "x y z w")).toDF("doc_id", "text")
    val fps = TextOps.chunkSpans(df, "text", "doc_id", chunkLen = 4, stride = 4)
      .collect().map(r => r.getString(5)).distinct
    assert(fps.length == 1) // same tokens → same chunk_fp
  }

  test("connectedComponents driver union-find equals the distributed fixpoint") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val nodes = (0L until 60L).toDF("id")
    // random sparse graph incl. a chain, a triangle, and isolated nodes
    val edges = ((0L until 10L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L)) ++
      Seq.fill(15)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val pairs = edges.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(nodes, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.connectedComponentsDistributed(nodes, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == dist)
  }

  // ---- winnowing fingerprints -----------------------------------------

  test("winnowFingerprints: shared >= k+w-1 token passage shares a fingerprint") {
    val s = spark; import s.implicits._
    // k=3, w=4 → any shared run of >= 6 tokens must yield a common fp
    val shared = "the quick brown fox jumps over"
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared"),
      (3L, "completely different words here with no overlap at all"))
      .toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(df, "text", "doc_id", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
  }

  test("winnowFingerprints: short docs yield no rows; fps are window minima") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "a b"),          // < k tokens → no grams
      (2L, "a b c d"),      // 2 grams < w → no full window
      (3L, "a b c d e f g")) // 5 grams, w=4 → 2 windows
      .toDF("doc_id", "text")
    val out = TextOps.winnowFingerprints(df, "text", "doc_id", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!out.exists(_._1 == 1L) && !out.exists(_._1 == 2L))
    val d3 = out.filter(_._1 == 3L).map(_._2).toSet
    assert(d3.nonEmpty && d3.size <= 2) // distinct minima of 2 overlapping windows
  }

  // ---- deterministic split report -------------------------------------

  test("splitReport: per-stratum shares account for every doc and ~10000 bp") {
    val s = spark; import s.implicits._
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rows = Sampling.splitReport(df, "doc_id", Seq("lang"),
      trainPct = 80, valPct = 10).collect()
    val byLang = rows.groupBy(_.getString(0))
    for ((_, rs) <- byLang) {
      assert(rs.map(_.getLong(2)).sum == 200L) // n_docs covers the stratum
      val bp = rs.map(_.getLong(3)).sum
      assert(bp <= 10000L && bp > 10000L - rs.length) // floor rounding only
    }
    // deterministic: identical on re-run
    val again = Sampling.splitReport(df, "doc_id", Seq("lang"),
      trainPct = 80, valPct = 10).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("splitReport: train/val/test proportions track the requested pcts") {
    val s = spark; import s.implicits._
    val df = (1L to 2000L).map(i => (i, "all")).toDF("doc_id", "g")
    val m = Sampling.splitReport(df, "doc_id", Seq("g"), trainPct = 80, valPct = 10)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    // md5 buckets are uniform-ish; ±1000 bp tolerance on 2000 docs
    assert(math.abs(m("train") - 8000L) < 1000L)
    assert(math.abs(m("val") - 1000L) < 600L)
    assert(math.abs(m("test") - 1000L) < 600L)
  }

  // ---- per-dimension embedding stats ----------------------------------

  test("dimStats matches brute-force fixed-point stats") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      Array(0.5f, -0.25f, 0.0f),
      Array(1.5f, 0.75f, -1.0f),
      Array(-0.5f, 0.25f, 2.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.dimStats(df, "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for (d <- 0 until 3) {
      val xs = vecs.map(v => v(d).toDouble)
      val fp6 = xs.map(x => math.floor(x * 1e6).toLong)
      val fp3 = xs.map(x => math.floor(x * 1e3).toLong)
      assert(got(d.toLong) ==
        ((3L, fp6.sum, fp6.min, fp6.max, fp3.map(x => x * x).sum)))
    }
  }

  // ---- corpus-head vocabulary coverage --------------------------------

  test("vocabCoverage: head-only docs score 10000 bp, tail-only score 0") {
    val s = spark; import s.implicits._
    // "the" and "and" dominate the corpus head (k=2); doc 3 is pure tail
    val df = Seq(
      (1L, "the and the and the"),
      (2L, "the and zebra"),
      (3L, "quux corge grault"),
      (4L, "the the the and and xyzzy"))
      .toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(df, "text", "doc_id", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((5L, 5L, 10000L)))
    assert(out(2L) == ((3L, 2L, 6666L)))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0L)
    assert(out(4L) == ((6L, 5L, 8333L)))
  }
}
