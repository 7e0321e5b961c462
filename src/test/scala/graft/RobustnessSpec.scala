package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.plans.{Closure, DriverSide}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the fail-loud / fallback / corrupt-input branches that the
  * driver queries never reach: the closure row-limit fallback, the
  * blockPairs guard trip, connected-components non-convergence, corrupt
  * media payloads (the 0xFFFFFFF8 RIFF size, truncated WAV/PNG, non-PCM
  * formats, JPEG standalone markers), vec_lsh_buckets interpreted/codegen
  * parity, k-means determinism across partitionings, and the PNG
  * encode→decode round trip. */
class RobustnessSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // --- Closure: driver-side row-limit fallback -----------------------------

  test("transitive closure falls back to the distributed fixpoint when the " +
      "driver-side closure exceeds closureRowLimit") {
    val s = spark; import s.implicits._
    // 80-node chain: 79 edges, closure = 79·80/2 = 3160 pairs — the edge
    // count passes the driver-side cutover but the RESULT trips the cap
    val edges = (1 until 80).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val viaFallback = DriverSide.withLimits(DriverSide.InputLimit, output = 100)(
      Closure.transitive(edges))
    assert(viaFallback.count() == 3160)
    // and it must agree exactly with the unconstrained driver-side BFS
    val viaDriver = Closure.transitive(edges)
    assert(viaFallback.except(viaDriver).isEmpty && viaDriver.except(viaFallback).isEmpty)
    // spot-check the longest path
    assert(viaFallback.filter(col("src") === "n1" && col("dst") === "n80").count() == 1)
  }

  test("driver-side closures pin no cached blocks") {
    val s = spark; import s.implicits._
    val edges = (1 until 20).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    // compared by id: the context cleaner may drop earlier tests' blocks
    // meanwhile, so only an RDD persisted here counts
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Closure.transitive(edges).count() == 19 * 20 / 2)
    assert(Closure.reachableFrom(edges, "n1").count() == 19)
    assert(Closure.reachableFrom(edges, "n20", reverse = true).count() == 19)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"a driver-side closure left persisted RDDs $added behind")
  }

  test("distributed closures accept edges filtered from a union of literal columns") {
    // the planner's edge shape over such quads: Spark 4.1 inferred plan
    // constraints over attributes the checkpointed fixpoint no longer had
    // and failed with "key not found: src#…"
    val chains = spark.range(10).select(concat(lit("a"), col("id")).as("a"),
      concat(lit("b"), col("id")).as("b"), concat(lit("c"), col("id")).as("c"))
    val quads = chains.select(col("a").as("s"), col("b").as("o"))
      .union(chains.select(col("b").as("s"), col("c").as("o")))
      .select(col("s"), lit("next").as("p"), col("o"))
      .union(spark.range(5).select(concat(lit("e"), col("id")).as("s"),
        lit("type").as("p"), lit("C").as("o")))
      .cache()
    try {
      val edges = quads.filter(col("p") === "next").select(col("s").as("src"), col("o").as("dst"))
      assert(Closure.transitiveDistributed(edges).count() == 30)
      assert(Closure.reachableDistributed(edges, "a3").count() == 2)
    } finally quads.unpersist()
  }

  // --- Dedup: blockPairs guard + CC non-convergence ------------------------

  test("blockPairs fails loudly when a block exceeds maxBlock") {
    val s = spark; import s.implicits._
    val docs = (1 to 20).map(i => (i.toLong, "same", "src")).toDF("doc_id", "lang", "source")
    val e = intercept[IllegalStateException] {
      Dedup.blockPairs(docs, Seq("lang", "source"), "doc_id", maxBlock = 10).count()
    }
    assert(e.getMessage.contains("maxBlock=10"))
    assert(e.getMessage.contains("minhashCandidates"))
    // under the cap the same input yields all 190 in-block pairs
    assert(Dedup.blockPairs(docs, Seq("lang", "source"), "doc_id", maxBlock = 100)
      .count() == 190)
  }

  test("connectedComponents throws on non-convergence instead of returning " +
      "wrong labels") {
    val s = spark; import s.implicits._
    // a 12-node chain needs ~11 propagation rounds; maxIter=3 cannot finish
    val nodes = (0L to 11L).map(Tuple1(_)).toDF("id")
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      // the distributed fixpoint (the driver union-find fast path would
      // solve any chain in one pass)
      Dedup.connectedComponentsDistributed(nodes, "id", pairs, maxIter = 3)
    }
    assert(e.getMessage.contains("not converged"))
    // with enough rounds the same chain collapses to a single component
    val labels = Dedup.connectedComponents(nodes, "id", pairs)
      .select("component").distinct().as[Long].collect()
    assert(labels.toSeq == Seq(0L))
  }

  // --- Multimodal: corrupt-input bailouts ----------------------------------

  private def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
  private def ascii(t: String): Array[Byte] = t.getBytes("US-ASCII")

  /** A minimal valid PCM16 WAV with the given fmt-code/bit-depth knobs. */
  private def wavBytes(
      rate: Int, nch: Int, body: Array[Byte],
      fmtCode: Int = 1, bits: Int = 16): Array[Byte] = {
    val ba = nch * 2
    ascii("RIFF") ++ le32(36L + body.length) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(fmtCode) ++ le16(nch) ++ le32(rate) ++
      le32(rate.toLong * ba) ++ le16(ba) ++ le16(bits) ++
      ascii("data") ++ le32(body.length.toLong) ++ body
  }

  test("duplicateSpans hotGramCap: planted boilerplate in >50% of docs " +
      "yields byte-identical spans with the straggler gram skip-listed") {
    val s = spark; import s.implicits._
    val boiler = "ALL RIGHTS RESERVED COPYRIGHT HEADER 2026 " // 42 chars
    // 120 docs; 70 share the boilerplate header (a hot gram in >50% of
    // the corpus — the crawl-data straggler shape), plus one genuine
    // cross-doc duplicate pair and unique tails everywhere
    val docs = (1 to 120).map { i =>
      val unique = s"doc$i " + (1 to 6).map(j => s"tok${i * 31 + j}").mkString(" ")
      val dup = if (i == 3 || i == 77)
        " THIS EXACT SHARED PASSAGE APPEARS IN TWO DOCUMENTS ONLY" else ""
      val text = (if (i <= 70) boiler else "") + unique + dup
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val exact = operators.TextOps.duplicateSpans(docs, "text", "doc_id", minLen = 40)
    val capped = operators.TextOps.duplicateSpans(docs, "text", "doc_id",
      minLen = 40, hotGramCap = 10L)
    // semantics: identical output — a capped gram is still duplicated
    assert(capped.except(exact).isEmpty && exact.except(capped).isEmpty)
    // the boilerplate produces spans in all 70 docs and the planted pair in 2
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every boilerplate doc gets a span anchored at char 1 (doc 3 gets a
    // SECOND span for the planted passage); the only spans outside the
    // boilerplate set are the planted pair's
    assert((1 to 70).forall(i => got.exists(s => s._1 == i && s._2 == 1L)))
    assert(got.filter(_._1 > 70).map(_._1).distinct.sorted.toSeq == Seq(77L))
    assert(got.count(_._1 == 3L) == 2)
    // physical shape: the capped plan carries the broadcast skip-list
    // (no gram-keyed window partition can exceed the cap), the exact
    // plan doesn't
    val cappedPlan = capped.queryExecution.executedPlan.toString
    assert(cappedPlan.contains("BroadcastHashJoin"))
    // cap < 2 would let a "capped" gram be a non-duplicate — rejected
    intercept[IllegalArgumentException] {
      operators.TextOps.duplicateSpans(docs, "text", "doc_id", 40, hotGramCap = 1L)
    }
  }

  test("duplicateSpansAnchoredChars hotAnchorCap: planted boilerplate " +
      "yields byte-identical spans with the hot anchor skip-listed") {
    val s = spark; import s.implicits._
    // 6 shared tokens >= k+w-1 guarantee an anchor in every copy — the
    // SAME anchor (winnowing is content-determined), i.e. the hot key
    val boiler = "all rights reserved unauthorized reproduction prohibited "
    val docs = (1 to 120).map { i =>
      val unique = (1 to 8).map(j => s"tok${i * 37 + j}").mkString(" ")
      ((if (i <= 70) boiler else "") + unique, i.toLong)
    }.map(_.swap).toDF("doc_id", "text")
    val exact = operators.TextOps.duplicateSpansAnchoredChars(
      docs, "text", "doc_id", k = 3, w = 4)
    val capped = operators.TextOps.duplicateSpansAnchoredChars(
      docs, "text", "doc_id", k = 3, w = 4, hotAnchorCap = 10L)
    assert(capped.except(exact).isEmpty && exact.except(capped).isEmpty)
    val got = capped.collect().map(_.getLong(0)).distinct.sorted
    assert(got.toSeq == (1L to 70L), s"got=${got.toSeq}")
    assert(capped.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    intercept[IllegalArgumentException] {
      operators.TextOps.duplicateSpansAnchored(docs, "text", "doc_id",
        3, 4, hotAnchorCap = 1L)
    }
  }

  test("decodeWav: valid PCM16 round-trips; corrupt/truncated/non-PCM16 " +
      "payloads return None") {
    val body = Array[Byte](0x10, 0x00, 0xf0.toByte, 0xff.toByte) // +16, -16
    val good = Multimodal.decodeWav(1L, wavBytes(8000, 1, body))
    assert(good.contains(Multimodal.WavFeatures(1L, 8000, 1, 2L, 0L, 512L, 16)))
    // non-WAV magic
    assert(Multimodal.decodeWav(1L, Array.fill[Byte](64)(0x42)).isEmpty)
    // truncated mid-header (fmt chunk cut off)
    assert(Multimodal.decodeWav(1L, wavBytes(8000, 1, body).take(20)).isEmpty)
    // IEEE-float fmt code (3) and 8-bit depth are not PCM16
    assert(Multimodal.decodeWav(1L, wavBytes(8000, 1, body, fmtCode = 3)).isEmpty)
    assert(Multimodal.decodeWav(1L, wavBytes(8000, 1, body, bits = 8)).isEmpty)
  }

  test("decodeWav and sniffBytes terminate on a corrupt 0xFFFFFFF8 RIFF " +
      "chunk size") {
    // RIFF/WAVE whose first chunk declares size 0xFFFFFFF8 — read signed
    // that is -8 and the walk would loop forever at offset 12
    val corrupt = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("junk") ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](32)(0)
    assert(Multimodal.decodeWav(7L, corrupt).isEmpty)
    val meta = Multimodal.sniffBytes(7L, "audio", corrupt)
    assert(meta.format == "wav" && meta.sample_rate.isEmpty && meta.channels.isEmpty)
    // same for the AVI walker
    val corruptAvi = ascii("RIFF") ++ le32(100) ++ ascii("AVI ") ++
      ascii("xxxx") ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](32)(0)
    val aviMeta = Multimodal.sniffBytes(8L, "video", corruptAvi)
    assert(aviMeta.format == "avi" && aviMeta.n_frames.isEmpty)
  }

  test("JPEG sniffer skips fill bytes and standalone markers before SOF") {
    def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++ // SOI
      Array[Byte](0xff.toByte, 0xff.toByte) ++ // fill byte, then resync
      Array[Byte](0xff.toByte, 0xd0.toByte) ++ // RST0: standalone, no length
      Array[Byte](0xff.toByte, 0x01.toByte) ++ // TEM: standalone, no length
      Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++ // SOF0
      Array[Byte](8) ++ be16(77) ++ be16(33) ++ Array[Byte](1, 1, 0x11, 0)
    val meta = Multimodal.sniffBytes(9L, "image", jpeg)
    assert(meta.format == "jpeg")
    assert(meta.width.contains(33) && meta.height.contains(77))
  }

  // --- PNG: encode → decode round trip + corruption ------------------------

  test("decodePng reconstructs the exact pixel stats pngEncode wrote " +
      "(all five filter types)") {
    val (id, w, h) = (7L, 21, 13) // h ≥ 5 ⇒ every filter type appears
    val feats = Multimodal.decodePng(id, Multimodal.pngEncode(id, w, h))
    // recompute the expected stats straight from the pixel formula
    var sum = 0L; var ss = 0L
    val maxCh = new Array[Int](4)
    for (y <- 0 until h; x <- 0 until w * 4) {
      val v = ((id + 7L * y + 13L * x) % 251L).toInt
      sum += v; ss += v.toLong * v
      if (v > maxCh(x % 4)) maxCh(x % 4) = v
    }
    assert(feats.contains(Multimodal.PngFeatures(
      id, w, h, w.toLong * h * 4, sum, ss, maxCh(0), maxCh(1), maxCh(2), maxCh(3))))
  }

  test("decodePng returns None for corrupt payloads (flipped IDAT byte, " +
      "truncation, wrong magic)") {
    val good = Multimodal.pngEncode(3L, 16, 16)
    assert(Multimodal.decodePng(3L, good).isDefined)
    // flip one byte inside the IDAT data → CRC mismatch
    val flipped = good.clone()
    flipped(70) = (flipped(70) ^ 0x5a).toByte
    assert(Multimodal.decodePng(3L, flipped).isEmpty)
    // truncate mid-chunk
    assert(Multimodal.decodePng(3L, good.take(good.length - 10)).isEmpty)
    // wrong magic
    val badMagic = good.clone(); badMagic(0) = 0x42
    assert(Multimodal.decodePng(3L, badMagic).isEmpty)
  }

  // --- AVI: encode → frame decode round trip + corruption ------------------

  test("decodeAviFrames reconstructs every frame's exact pixel stats from " +
      "aviEncode output") {
    val id = 11L // 13 frames of 11×({6..11}) BGR — odd frame size ⇒ pad byte
    val frames = Multimodal.decodeAviFrames(id, Multimodal.aviEncode(id))
    val nf = (id % 48 + 2).toInt
    val nb = (8 + id % 8).toInt * (6 + id % 6).toInt * 3
    assert(frames.size == nf)
    frames.zipWithIndex.foreach { case (fr, f) =>
      var sum = 0L; var ss = 0L; var peak = 0
      for (k <- 0 until nb) {
        val v = ((id + 11L * f + 5L * k) % 241L).toInt
        sum += v; ss += v.toLong * v; if (v > peak) peak = v
      }
      assert(fr == Multimodal.AviFrameFeatures(id, f, nb.toLong, sum, ss, peak))
    }
    // the container is also a well-formed AVI for the header sniffer
    val meta = Multimodal.sniffBytes(id, "video", Multimodal.aviEncode(id))
    assert(meta.format == "avi" && meta.n_frames.contains(nf))
  }

  test("decodeAviFrames tolerates corrupt containers (wrong magic, " +
      "corrupt chunk size, truncation)") {
    val good = Multimodal.aviEncode(5L)
    assert(Multimodal.decodeAviFrames(5L, good).size == 7)
    // wrong magic → nothing
    assert(Multimodal.decodeAviFrames(5L, Array.fill[Byte](64)(0x33)).isEmpty)
    // corrupt first-chunk size 0xFFFFFFF8 → walk terminates, no frames
    val corrupt = ascii("RIFF") ++ le32(100) ++ ascii("AVI ") ++
      ascii("LIST") ++ le32(0xFFFFFFF8L) ++ ascii("movi") ++ Array.fill[Byte](16)(0)
    assert(Multimodal.decodeAviFrames(5L, corrupt).isEmpty)
    // truncation mid-frame: decodes the intact prefix, never throws
    val truncated = Multimodal.decodeAviFrames(5L, good.take(good.length / 2))
    assert(truncated.size < 7)
  }

  // --- JPEG: real baseline codec ------------------------------------------

  test("JPEG codec: block-constant images round-trip BIT-EXACTLY through " +
      "the full entropy pipeline") {
    val (w, h) = (32, 24)
    val id = 9L
    val px = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = (i / w) / 8
      ((id + 3L * bx + 5L * by) % 256L).toInt
    }
    val decoded = operators.Jpeg.decode(operators.Jpeg.encode(px, w, h))
    assert(decoded.isDefined)
    assert(decoded.get.width == w && decoded.get.height == h)
    assert(decoded.get.pixels.sameElements(px),
      "constant blocks + unit quant must reproduce every pixel exactly")
  }

  test("JPEG codec: arbitrary images round-trip within ±1 at unit " +
      "quantization (float DCT rounding only)") {
    val (w, h) = (24, 16)
    val rnd = new scala.util.Random(7)
    // alternate flat and random blocks so one entropy stream exercises
    // BOTH the flat/DC-only fast paths and the general DCT path
    val px = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = (i / w) / 8
      if ((bx + by) % 2 == 0) 37 + 11 * bx + 5 * by else rnd.nextInt(256)
    }
    val decoded = operators.Jpeg.decode(operators.Jpeg.encode(px, w, h))
    assert(decoded.isDefined)
    val maxErr = decoded.get.pixels.zip(px).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 1, s"max per-pixel error $maxErr exceeds unit-quant bound")
    // the flat blocks must round-trip exactly even inside a mixed stream
    for (i <- 0 until w * h) {
      val bx = (i % w) / 8; val by = (i / w) / 8
      if ((bx + by) % 2 == 0) assert(decoded.get.pixels(i) == px(i))
    }
  }

  test("JPEG codec: corrupt/unsupported inputs return None") {
    val good = operators.Jpeg.encode(Array.fill(64)(128), 8, 8)
    assert(operators.Jpeg.decode(good).isDefined)
    // not a JPEG
    assert(operators.Jpeg.decode(Array.fill[Byte](32)(0x11)).isEmpty)
    // truncated mid-entropy-stream
    assert(operators.Jpeg.decode(good.take(good.length - 4)).isEmpty)
    // progressive SOF (0xC2) is not baseline → unsupported
    val progressive = good.clone()
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    progressive(sofAt + 1) = 0xc2.toByte
    assert(operators.Jpeg.decode(progressive).isEmpty)
  }

  test("MJPEG: per-frame decode through the real JPEG pipeline is exact " +
      "for block-constant frames; corrupt frames are skipped") {
    val id = 4L
    val frames = Multimodal.decodeMjpegFrames(id, Multimodal.mjpegEncode(id))
    val nf = (id % 48 + 2).toInt
    val fw = 8 * (2 + (id % 3).toInt); val fh = 8 * (2 + (id % 2).toInt)
    assert(frames.size == nf)
    frames.zipWithIndex.foreach { case (fr, f) =>
      var sum = 0L; var ss = 0L; var peak = 0
      for (by <- 0 until fh / 8; bx <- 0 until fw / 8) {
        val c = ((id + 7L * f + 3L * bx + 5L * by) % 256L).toInt
        sum += 64L * c; ss += 64L * c * c; if (c > peak) peak = c
      }
      assert(fr == Multimodal.MjpegFrameFeatures(
        id, f, fw, fh, fw.toLong * fh, sum, ss, peak))
    }
    // non-AVI and truncation: no exception, partial/no frames
    assert(Multimodal.decodeMjpegFrames(id, Array.fill[Byte](32)(0x21)).isEmpty)
    val bytes = Multimodal.mjpegEncode(id)
    assert(Multimodal.decodeMjpegFrames(id, bytes.take(bytes.length / 2)).size < nf)
  }

  // --- vec_lsh_buckets: interpreted eval == codegen eval -------------------

  test("vec_lsh_buckets interpreted eval matches the codegen'd DataFrame " +
      "result and a plain Scala reference") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val vec = Seq(0.3, -1.2, 0.7, 2.5)
    val planes = Seq( // 4 planes, planesPerTable=2 → 2 tables
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, -1.0, 0.0, 0.0),
      Seq(-1.0, 0.0, 0.0, 1.0), Seq(0.5, 0.5, 0.5, 0.5))
    // plain Scala reference
    val expected = planes.map(p => p.zip(vec).map { case (a, b) => a * b }.sum)
      .grouped(2).map(_.zipWithIndex.map { case (d, j) =>
        if (d > 0) 1L << j else 0L }.sum).toSeq
    // interpreted path: eval the expression directly on literals
    val expr = graft.functions.VectorExpressions.HyperplaneBuckets(
      Literal.create(vec, ArrayType(DoubleType)),
      Literal.create(planes, ArrayType(ArrayType(DoubleType))), 2)
    val interp = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    assert(interp == expected)
    // codegen path: the same computation through a DataFrame projection
    val fromDf = Seq(Tuple1(vec)).toDF("vec")
      .select(graft.functions.VectorExpressions
        .vec_lsh_buckets(col("vec"), typedLit(planes), 2).as("b"))
      .as[Seq[Long]].head()
    assert(fromDf == expected)
    // and float input must agree with double input (widening, not drift)
    val fromFloat = Seq(Tuple1(vec.map(_.toFloat))).toDF("vec")
      .select(graft.functions.VectorExpressions
        .vec_lsh_buckets(col("vec"), typedLit(planes), 2).as("b"))
      .as[Seq[Long]].head()
    assert(fromFloat == expected)
  }

  // --- vec_subl2sq_fp6: interpreted eval == codegen eval -------------------

  test("vec_subl2sq_fp6 interpreted eval matches the codegen'd DataFrame " +
      "result and a plain Scala reference, with float widening and clamping") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val a = Seq(0.31, -1.27, 0.74, 2.51, -0.08, 1.99)
    val b = Seq(0.30, -1.20, 0.70, 2.50, -0.10, 2.00)
    def ref(start: Int, len: Int): Long =
      (start until math.min(start + len, a.length)).map { i =>
        val d = math.floor(a(i) * 1e6).toLong - math.floor(b(i) * 1e6).toLong
        d * d
      }.sum
    // interpreted path on literals (subrange [2, 5))
    val expr = graft.functions.VectorExpressions.SubvectorL2SqFp6(
      Literal.create(a, ArrayType(DoubleType)),
      Literal.create(b, ArrayType(DoubleType)),
      Literal(2), 3)
    assert(expr.eval(null) == ref(2, 3))
    // codegen path through a projection, double and float element types
    val fromDf = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.VectorExpressions
        .vec_subl2sq_fp6(col("a"), col("b"), lit(2), 3).as("d"))
      .as[Long].head()
    assert(fromDf == ref(2, 3))
    // float input widens per element BEFORE the fixed-point floor — must
    // match a reference computed over the widened values (floats are not
    // exact decimals, so this differs from the double-input result)
    val refFloat = (2 until 5).map { i =>
      val d = math.floor(a(i).toFloat.toDouble * 1e6).toLong -
        math.floor(b(i) * 1e6).toLong
      d * d
    }.sum
    val fromFloat = Seq((a.map(_.toFloat), b)).toDF("a", "b")
      .select(graft.functions.VectorExpressions
        .vec_subl2sq_fp6(col("a"), col("b"), lit(2), 3).as("d"))
      .as[Long].head()
    assert(fromFloat == refFloat)
    // a window running past the arrays clamps instead of throwing
    val clamped = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.VectorExpressions
        .vec_subl2sq_fp6(col("a"), col("b"), lit(4), 100).as("d"))
      .as[Long].head()
    assert(clamped == ref(4, 100))
  }

  // --- product quantization: encode + ADC semantics ------------------------

  test("pqTopKWith ranks by summed per-subspace table distances and " +
      "encodes each subspace independently") {
    val s = spark; import s.implicits._
    // dim=4, m=2 (dsub=2). Codebook from seeds (mod 2): ids 0 and 2.
    // v0=[0,0,1,1], v2=[1,1,0,0]: subspace codes differ per half.
    // v1=[0,0,0.9,0.9] encodes as (j0→0, j1→0); v2 and v3 both as
    // (j0→2, j1→2) — so q=v0 ranks v1 first (ADC distance 0) and the
    // v2/v3 tie (identical codes → identical ADC distance) breaks by id.
    val emb = Seq(
      (0L, Seq(0.0, 0.0, 1.0, 1.0)),
      (1L, Seq(0.0, 0.0, 0.9, 0.9)),
      (2L, Seq(1.0, 1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 1.0, 0.1, 0.1)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(emb, m = 2, seedMod = 2)
    assert(cb.count() == 4) // 2 seeds × 2 subspaces
    val top = Similarity.pqTopKWith(
      emb, emb.filter(col("vec_id") === 0), cb, m = 2, dim = 4, k = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    // ADC scores are exact integers in fixed-point space: -(sum of the
    // query's table entries at each vector's codes). v1's codes are both
    // 0 (cells [0,0] and [1,1]); q=v0 distance to cell0 j0 = 0, j1 = 0.
    assert(top.head.getDouble(3) == 0.0) // q's own cell → distance 0
  }

  // --- fuzz: no byte parser may throw on arbitrary input -------------------

  test("media parsers never throw on random or mutated payloads " +
      "(corrupt input must not kill a stage)") {
    val rnd = new scala.util.Random(42)
    val valids: Seq[Array[Byte]] = Seq(
      Multimodal.pngEncode(3L, 16, 16),
      Multimodal.aviEncode(5L),
      Multimodal.mjpegEncode(4L),
      operators.Jpeg.encode(Array.fill(64)(128), 8, 8))
    val cases: Seq[Array[Byte]] =
      // pure noise of assorted sizes (including empty and tiny)
      Seq(0, 1, 3, 7, 12, 64, 256, 4096).map(n => Array.fill[Byte](n)(rnd.nextInt().toByte)) ++
      // valid payloads with random single-byte mutations (headers stay
      // recognizable, inner structure breaks in arbitrary ways)
      (1 to 40).map { _ =>
        val base = valids(rnd.nextInt(valids.length)).clone()
        (0 until 3).foreach { _ =>
          base(rnd.nextInt(base.length)) = rnd.nextInt().toByte
        }
        base
      } ++
      // random truncations of valid payloads
      (1 to 20).map { _ =>
        val base = valids(rnd.nextInt(valids.length))
        base.take(rnd.nextInt(base.length))
      }
    cases.foreach { bytes =>
      // every parser must return, not throw
      Multimodal.sniffBytes(1L, "image", bytes)
      Multimodal.decodeWav(1L, bytes)
      Multimodal.decodePng(1L, bytes)
      Multimodal.decodeAviFrames(1L, bytes)
      Multimodal.decodeMjpegFrames(1L, bytes)
      Multimodal.decodeWavFrames(1L, bytes)
      Multimodal.resizePngStats(1L, bytes, factor = 2)
      operators.Jpeg.decode(bytes)
    }
    succeed
  }

  // --- duplicate n-gram spans ----------------------------------------------

  test("duplicateNgramSpans finds maximal shared token runs with exact " +
      "positions; hot-gram cap prunes flooding grams") {
    val s = spark; import s.implicits._
    val shared = "one two three four five six seven" // 7 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"), // shared run at positions 2..8
      (2L, s"$shared delta epsilon zeta"), // shared run at positions 0..6
      (3L, "unrelated words only here nothing repeats at all")).toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .duplicateNgramSpans(docs, "text", "doc_id", n = 5).collect()
    // exactly one maximal span between docs 1 and 2: 7 tokens
    assert(spans.length == 1)
    val r = spans.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert((r.getLong(2), r.getLong(3)) == (2L, 8L)) // a_start..a_end
    assert((r.getLong(4), r.getLong(5)) == (0L, 6L)) // b_start..b_end
    assert(r.getLong(6) == 7L)
    // a gram shared by MANY docs floods k² — the cap drops it
    val flood = (10L to 29L).map(i => (i, s"common common common common common tail$i"))
      .toDF("doc_id", "text")
    val uncapped = graft.operators.Dedup
      .duplicateNgramSpans(flood, "text", "doc_id", n = 5).count()
    assert(uncapped == 20L * 19 / 2) // all pairs match on the common gram
    val capped = graft.operators.Dedup
      .duplicateNgramSpans(flood, "text", "doc_id", n = 5, maxOccurrences = 5)
      .count()
    assert(capped == 0L)
  }

  test("crossCorpusContamination reports exact dirty-gram basis points") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "x1 x2 one two three four five y1"), // 4 grams, 1 in reference
      (2L, "completely clean text with no overlap at all"), // 4 grams, 0 dirty
      (3L, "tiny doc")).toDF("doc_id", "text") // < 5 tokens → omitted
    val reference = Seq(
      (100L, "one two three four five tail tokens here")).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .crossCorpusContamination(corpus, reference, "text", "doc_id", n = 5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 4L, 1L, 2500L), (2L, 4L, 0L, 0L)))
  }

  test("repetitionStats: duplicate-gram basis points are exact") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b"), // 3-grams: abc bca cab abc bca cab → 6 grams, 3 distinct
      (2L, "all tokens unique here now")).toDF("doc_id", "text") // 3 grams, 3 distinct
    val got = graft.operators.TextOps.repetitionStats(docs, "text", "doc_id", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 6L, 3L, 5000L), (2L, 3L, 3L, 0L)))
  }

  // --- k-means: deterministic across partitionings -------------------------

  test("kmeansCentroids is bit-identical across partition counts") {
    val s = spark; import s.implicits._
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    def run(parts: Int): Seq[(Long, Seq[Double])] =
      Similarity.kmeansCentroids(corpus.repartition(parts), dim = 4,
          centroidMod = 10, iters = 2)
        .orderBy("cid").as[(Long, Seq[Double])].collect().toSeq
    val one = run(1)
    val seven = run(7)
    assert(one.map(_._1) == seven.map(_._1))
    // exact equality: the integer-space accumulation makes the means
    // independent of partition/accumulation order
    one.zip(seven).foreach { case ((_, a), (_, b)) => assert(a == b) }
  }

  // --- top-k aggregate vs ranking window -----------------------------------

  test("top_k_by_score aggregate equals the ranking-window top-k " +
      "(ties included) and plans with map-side partial aggregation") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // 3 groups × 200 rows with deliberate score ties (quantized scores)
    val scored = (0 until 600).map { i =>
      (i % 3L, i.toLong, (rnd.nextInt(40) / 10.0))
    }.toDF("qid", "nid", "score").repartition(7)
    val viaAgg = graft.functions.TopK.top_k_by_score(col("nid"), col("score"), 5)
    val aggRows = scored.groupBy("qid").agg(viaAgg.as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("qid"), col("e.nid"), (col("r") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    val winRows = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "nid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(aggRows == winRows)
    // the scale property: partial (map-side) aggregation before the
    // exchange — the shuffle carries ≤ k rows per group per partition
    val plan = scored.groupBy("qid").agg(viaAgg.as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert("(?s)partial_top_k_by_score.*Exchange".r.findFirstIn(plan).isDefined,
      s"expected a partial aggregate below the exchange:\n$plan")
  }

  // --- bucketed range join -------------------------------------------------

  test("rangeJoinBucketed equals the naive inequality join and plans as a " +
      "hash equi-join (no nested loop)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val points = (0 until 400).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(rnd.nextInt(200000).toLong)))
    }.toDF("pid", "ts")
    val intervals = (0 until 30).map { i =>
      val st = rnd.nextInt(150000).toLong
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(st)),
        java.sql.Timestamp.from(base.plusSeconds(st + 1000 + rnd.nextInt(40000))))
    }.toDF("iid", "w_start", "w_end")
    val bucketed = graft.operators.Events
      .rangeJoinBucketed(points, "ts", intervals, "w_start", "w_end", bucketWidth = 7200L)
      .select("pid", "iid")
    val naive = points.join(intervals,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "iid")
    val bSet = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nSet = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bSet == nSet && bSet.nonEmpty)
    // no multi-bucket duplicates
    assert(bucketed.count() == bSet.size)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected a bucketed equi-join plan:\n$plan")
  }

  // --- distributed prefix sum / sequence packing ---------------------------

  test("distributed prefix sum equals the single-partition window cumsum " +
      "at every partition count") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    val rows = (0L until 500L).map(i => (i, rnd.nextInt(100).toLong + 1))
    val df = rows.toDF("id", "v")
    val expected = df
      .withColumn("cum", sum("v").over(
        Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = graft.operators.Packing.prefixSum(df, "id", "v", parts)
        .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"prefix sum diverged at $parts partitions")
    }
  }

  // --- Engine.dataSparqlBatches --------------------------------------------

  test("dataSparqlBatches yields bounded batches covering the full result") {
    val s = spark; import s.implicits._
    val quads = Seq(
      Model.Quad("urn:g#", "urn:g#p1", "urn:ts", "u1"),
      Model.Quad("urn:g#", "urn:g#p2", "urn:ts", "u2")).toDF()
    val base = java.time.Instant.parse("2020-06-01T00:00:00Z")
    val fact = (0 until 15).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(60L * i)),
        i * 1.0, if (i < 10) "u1" else "u2")
    }.toDF("time", "value", "uuid")
    val engine = new Engine(spark, quads, fact)
    val batches = engine.dataSparqlBatches(
      "SELECT ?id WHERE { ?p <urn:ts> ?id . }", batchRows = 4).toSeq
    assert(batches.map(_.size).sum == 15)
    assert(batches.forall(_.size <= 4))
    assert(batches.flatten.map(_.getAs[String]("uuid")).toSet == Set("u1", "u2"))
  }

  // --- Turtle.loadGraphs: ontology merged into every named graph -----------

  test("loadGraphs merges the ontology file's triples into every named " +
      "graph without creating a graph of its own") {
    val dir = java.nio.file.Files.createTempDirectory("ttl-merge")
    java.nio.file.Files.write(dir.resolve("siteA.ttl"),
      "<urn:a#s1> <urn:p#has> <urn:a#o1> .\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("siteB.ttl"),
      "<urn:b#s1> <urn:p#has> <urn:b#o1> .\n".getBytes("UTF-8"))
    val ontDir = java.nio.file.Files.createDirectories(dir.resolve("_ontology"))
    val ont = ontDir.resolve("ont.ttl")
    java.nio.file.Files.write(ont,
      ("@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n" +
        "<urn:cls#A> rdfs:subClassOf <urn:cls#B> .\n").getBytes("UTF-8"))
    val quads = graft.sources.Turtle.loadGraphs(spark, dir.toString, Some(ont.toString))
    val s = spark; import s.implicits._
    val graphs = quads.select("graph").distinct().as[String].collect().toSet
    assert(graphs == Set("urn:siteA#", "urn:siteB#"), s"graphs were $graphs")
    // the subClassOf edge appears ONCE PER GRAPH (reference merges the
    // ontology into each site store: setup-graphs.py:22)
    val ontRows = quads.filter(col("p") === Model.RdfsSubClassOf)
    assert(ontRows.select("graph").distinct().count() == 2)
    assert(ontRows.count() == 2)
    // site triples stay scoped to their own graph
    assert(quads.filter(col("s") === "urn:a#s1").select("graph")
      .distinct().as[String].head() == "urn:siteA#")
  }

  test("SPARQL parser never hangs or throws non-IAE on mutated/truncated queries") {
    // every grammar corner in one corpus of valid queries, then mutate:
    // truncate at every prefix boundary, delete/duplicate/flip single
    // chars at seeded positions — the parser must either succeed or throw
    // IllegalArgumentException (the named-error contract), never loop or
    // escape with a raw StringIndexOutOfBounds/NPE/StackOverflow
    val p = "PREFIX p: <urn:p#> "
    val valid = Seq(
      p + "SELECT ?s WHERE { ?s p:val ?v . FILTER(?v > 9 && regex(?v, \"x\")) }",
      p + "SELECT DISTINCT ?s ?v WHERE { ?s (p:a|^p:b)* ?v . OPTIONAL { ?s p:t ?t . FILTER(BOUND(?t)) } }",
      p + "SELECT ?u (GROUP_CONCAT(DISTINCT ?v; SEPARATOR=\",\") AS ?vs) WHERE { ?u p:buy ?v . } GROUP BY ?u HAVING(COUNT(?v) > 1) ORDER BY DESC(?vs) LIMIT 3 OFFSET 1",
      p + "SELECT ?s WHERE { { ?s p:a ?x } UNION { ?s p:b ?y } MINUS { ?s p:c \"z\" } VALUES ?s { <urn:d#1> } BIND(CONCAT(STR(?s), \"!\") AS ?t) }",
      p + "SELECT ?s WHERE { ?s p:v ?v . FILTER EXISTS { ?s p:t ?t } FILTER(?v IN (\"1\", \"2\")) }",
      p + "SELECT ?u ?n WHERE { ?u p:b ?v . { SELECT ?u (COUNT(?w) AS ?n) WHERE { ?u p:b ?w . } GROUP BY ?u } }",
      p + "ASK { ?s p:v \"5\" . FILTER(STRENDS(?s, \"1\")) }",
      p + "CONSTRUCT { ?s <urn:p#x> ?v } WHERE { ?s p:v ?v . }",
      p + "DESCRIBE <urn:d#1> ?s WHERE { ?s p:t \"alpha\" . }",
      // round-9 surface: nested groups, GRAPH, group-scoped
      // VALUES/BIND/MINUS/EXISTS, UNDEF cells
      p + "SELECT ?s ?x WHERE { ?s p:v ?v . OPTIONAL { ?s p:t ?t . OPTIONAL { ?s p:u ?u } BIND(UCASE(?t) AS ?x) } }",
      p + "SELECT ?s WHERE { ?s p:v ?v . { ?s p:t ?t . FILTER(?t > 1) } OPTIONAL { { ?s p:a ?a } UNION { ?s p:b ?a } } }",
      p + "SELECT ?g ?s WHERE { GRAPH ?g { ?s p:t ?o . ?s p:u* ?w } }",
      p + "SELECT ?s WHERE { GRAPH <urn:g#1> { ?s p:t ?o . OPTIONAL { ?s p:u ?w } } }",
      p + "SELECT ?s ?m WHERE { ?s p:v ?m . VALUES (?s ?m) { (UNDEF \"x\") (<urn:d#1> UNDEF) } }",
      p + "SELECT ?s WHERE { ?s p:v ?v . OPTIONAL { ?s p:t ?m . VALUES ?m { \"a\" \"b\" } MINUS { ?s p:c ?z } FILTER EXISTS { ?s p:d ?d } } }")
    // sanity: the corpus itself parses
    valid.foreach(graft.sparql.Sparql.parse)
    val rnd = new scala.util.Random(42)
    var attempts = 0
    valid.foreach { q =>
      val mutations =
        (1 until q.length by 7).map(q.take(_)) ++ // truncations
          (1 to 40).map { _ => // point mutations
            val i = rnd.nextInt(q.length)
            rnd.nextInt(3) match {
              case 0 => q.take(i) + q.drop(i + 1) // delete
              case 1 => q.take(i) + q.charAt(i) + q.drop(i) // duplicate
              case _ =>
                val metas = "{}?<>\"'().|^*"
                q.take(i) + metas.charAt(rnd.nextInt(metas.length)) +
                  q.drop(i + 1) // flip to a meta char
            }
          }
      mutations.foreach { m =>
        attempts += 1
        try { graft.sparql.Sparql.parse(m); () }
        catch {
          case _: IllegalArgumentException => ()
          case e: Throwable =>
            fail(s"non-IAE ${e.getClass.getSimpleName}: ${e.getMessage} " +
              s"for input <<<$m>>>", e)
        }
      }
    }
    assert(attempts > 400, s"only $attempts mutations exercised")
  }

  // --- Round-15 index-family degenerate inputs -----------------------------

  test("index queries behave on degenerate inputs: empty reference bloom " +
      "mask hits nothing, empty-corpus near-dup admission admits the whole " +
      "batch, empty batch produces empty relations (no crashes)") {
    val s = spark; import s.implicits._
    val tmp = (t: String) => TempDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_robidx_${t}_${java.util.UUID.randomUUID()}")
    val batch = Seq((1L, "alpha beta gamma delta eps"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val empty = batch.filter(lit(false))
    // empty REFERENCE → zero mask → nothing can be flagged (no-FN
    // property holds trivially in both directions)
    val bPath = tmp("bloom")
    operators.DedupIndex.writeBloomIndex(empty, "text", "doc_id", bPath)
    val rep = operators.DedupIndex.bloomContaminationAgainstIndex(
      batch, "text", "doc_id", bPath).collect()
    assert(rep.length == 2 && rep.forall(_.getAs[Long]("n_maybe_dirty") == 0L))
    // empty CORPUS behind the band index + doc store → every batch doc
    // admits (and intra-batch logic still runs: plant one batch dup)
    val mPath = tmp("mh"); val dPath = tmp("store")
    operators.DedupIndex.writeMinHashIndex(empty, "text", "doc_id", mPath)
    empty.write.parquet(dPath)
    val dupBatch = batch.union(
      Seq((3L, "alpha beta gamma delta eps")).toDF("doc_id", "text"))
    val st = operators.DedupIndex.admitNearDupAgainstIndex(dupBatch,
        "text", "doc_id", mPath, dPath)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "admitted", 2L -> "admitted", 3L -> "dup_batch"))
    // empty BATCH against a real index → empty outputs, no crash
    val ePath = tmp("exact")
    operators.DedupIndex.writeExactIndex(batch, "text", "doc_id", ePath)
    assert(operators.DedupIndex.admitAgainstIndex(
      empty, "text", "doc_id", ePath).count() == 0L)
    assert(operators.DedupIndex.admitNearDupAgainstIndex(
      empty, "text", "doc_id", mPath, dPath).count() == 0L)
    assert(operators.DedupIndex.bloomContaminationAgainstIndex(
      empty, "text", "doc_id", bPath).count() == 0L)
  }

  test("the graft conf keys fail naming the key on a bad value") {
    val s = spark; import s.implicits._
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_robconf_${java.util.UUID.randomUUID()}")
    val batch = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    operators.DedupIndex.writeExactIndex(batch, "text", "doc_id", path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val cases: Seq[(String, String, () => Unit)] = Seq(
      (operators.DedupIndex.MaxBroadcastBytesKey, "512MB", () =>
        operators.DedupIndex.admitAgainstIndex(batch, "text", "doc_id", path)),
      ("spark.graft.index.allowNonAtomicRename", "yes", () =>
        operators.DedupIndex.requireAtomicRenameFs(s, fs, root, "spec")))
    cases.foreach { case (key, bad, use) =>
      s.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](use())
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally s.conf.unset(key)
      use()
    }
  }

  test("IVF-PQ serving fails naming the parameter on a non-positive k, shortK or nProbe") {
    val s = spark; import s.implicits._
    val vecs = (0 until 20).map(i => (i.toLong, Array.tabulate(4)(j => (i * 4 + j).toFloat / 80f)))
      .toDF("vec_id", "embedding")
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_robann_${java.util.UUID.randomUUID()}")
    operators.AnnIndex.writeIvfPqIndex(vecs, vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      Similarity.pqCodebook(vecs, m = 2, seedMod = 5), m = 2, dim = 4, path)
    val qs = vecs.limit(2)
    def query(k: Int, nProbe: Int) =
      operators.AnnIndex.queryIvfPqIndex(qs, path, m = 2, dim = 4, k = k, nProbe = nProbe)
    def admit(shortK: Int, nProbe: Int) = operators.AnnIndex.admitEmbeddingsAgainstIndex(
      qs, vecs, path, m = 2, dim = 4, shortK = shortK, nProbe = nProbe)
    Seq[(String, () => Any)](
      ("k must be positive", () => query(0, 2)), ("k must be positive", () => query(-3, 2)),
      ("nProbe must be positive", () => query(2, 0)),
      ("shortK must be positive", () => admit(-1, 2)),
      ("nProbe must be positive", () => admit(2, -1))).foreach { case (msg, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    assert(query(2, 2).count() > 0)
  }

  test("near-dup admission fails naming the parameter on a bad theta, k, bands or shingleN") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val root = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_robnd_${java.util.UUID.randomUUID()}")
    operators.DedupIndex.writeMinHashIndex(docs, "text", "doc_id", s"$root/mh")
    docs.write.parquet(s"$root/store")
    val batch = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    def admit(k: Int = 64, bands: Int = 16, shingleN: Int = 3, thetaBp: Long = 5000L) =
      operators.DedupIndex.admitNearDupAgainstIndex(batch, "text", "doc_id", s"$root/mh",
        s"$root/store", k, bands, shingleN, thetaBp)
    def cands(k: Int, bands: Int, shingleN: Int) =
      operators.DedupIndex.minhashCandidatesAgainstIndex(batch, "text", "doc_id", s"$root/mh",
        k, bands, shingleN)
    Seq[(String, () => Any)](
      ("thetaBp must be in [0, 10000]", () => admit(thetaBp = -1L)),
      ("thetaBp must be in [0, 10000]", () => admit(thetaBp = 10001L)),
      ("k must be positive", () => admit(k = 0)),
      ("bands must be positive", () => admit(bands = -16)),
      ("shingleN must be positive", () => admit(shingleN = 0)),
      ("bands must divide k", () => admit(bands = 5)),
      ("k must be positive", () => cands(-64, 16, 3)),
      ("bands must divide k", () => cands(64, 6, 3)),
      ("shingleN must be positive", () => cands(64, 16, -1))).foreach { case (msg, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    assert(admit(thetaBp = 10000L).collect().map(_.getString(1)).toSeq == Seq("dup_corpus"))
  }
}
