package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Row-local MinHash core: the one copy of the shingle hashing, called by
  * the Catalyst kernels below (interpreted and generated code alike), the
  * streaming path ([[graft.streaming.StreamingOps.bandKeysOf]]) and the
  * driver-side near-dup verifier ([[graft.operators.AdmitOnDriver]]).
  * Values are BIT-IDENTICAL to the batch xxhash64 pipeline
  * (`Dedup.shingleHashes`), so streaming candidate state, driver-side
  * shingle sets and batch LSH output live in one hash space. */
object MinHash {
  import org.apache.spark.unsafe.types.UTF8String

  /** Each token's `xxhash64` (seed 42); a null token hashes to 0. */
  def tokenHashes(toks: ArrayData): Array[Long] =
    Array.tabulate(toks.numElements()) { p =>
      if (toks.isNullAt(p)) 0L else XXH64.hashUTF8String(toks.getUTF8String(p), 42L)
    }

  def tokenHashes(toks: Array[String]): Array[Long] =
    toks.map(t => if (t == null) 0L else XXH64.hashUTF8String(UTF8String.fromString(t), 42L))

  /** The `shingleN`-gram shingle hashes of a document whose tokens hash
    * to `th`, in position order: each shingle is the `hashLong` fold of
    * its token hashes from seed 42, as `xxhash64(h0, …, hn-1)` evaluates
    * it. A document shorter than `shingleN` tokens has one shingle, its
    * missing positions hashed as 0; an empty one has none. */
  def shingleHashes(th: Array[Long], shingleN: Int): Array[Long] = {
    val m = th.length
    if (m == 0) return Array.emptyLongArray
    val out = new Array[Long](if (m >= shingleN) m - shingleN + 1 else 1)
    var p = 0
    while (p < out.length) {
      var h = 42L
      var j = 0
      while (j < shingleN) {
        h = XXH64.hashLong(if (p + j < m) th(p + j) else 0L, h)
        j += 1
      }
      out(p) = h
      p += 1
    }
    out
  }

  /** k salted minima over shingle hashes — `sig[i] = min over shingles
    * of xxhash64(shingle, i)`; null when there are no shingles. */
  def minima(shingles: Array[Long], k: Int): Array[Long] = {
    if (shingles.isEmpty) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var p = 0
    while (p < shingles.length) {
      val base = XXH64.hashLong(shingles(p), 42L)
      var i = 0
      while (i < k) {
        val s = XXH64.hashInt(i, base)
        if (s < sig(i)) sig(i) = s
        i += 1
      }
      p += 1
    }
    sig
  }

  /** Signature of a token sequence: k salted minima over `shingleN`-gram
    * shingle hashes; same composition as `Dedup.minhashSignatures`.
    * Empty input → null. */
  def signature(toks: Array[String], k: Int, shingleN: Int): Array[Long] =
    minima(shingleHashes(tokenHashes(toks), shingleN), k)

  def signature(toks: ArrayData, k: Int, shingleN: Int): Array[Long] =
    minima(shingleHashes(tokenHashes(toks), shingleN), k)

  /** LSH band keys of a signature; same fold as `Dedup.bandKeys`. */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { j =>
      var h = 42L
      var i = 0
      while (i < rows) { h = XXH64.hashLong(sig(j * rows + i), h); i += 1 }
      XXH64.hashInt(j, h)
    }
  }

  /** A kernel's result as Catalyst array data; null stays null. */
  def arrayData(v: Array[Long]): ArrayData = if (v == null) null else new GenericArrayData(v)

  /** [[bandKeys]] of a token sequence's [[signature]]; null when it has
    * no signature. */
  def bandKeys(toks: ArrayData, k: Int, shingleN: Int, bands: Int): Array[Long] = {
    val sig = signature(toks, k, shingleN)
    if (sig == null) null else bandKeys(sig, bands)
  }
}

/** Fused per-row MinHash signature kernel.
  *
  * Computes, in ONE codegen pass over a document's token array, the exact
  * signature the explode-shape pipeline produces
  * (`Dedup.shingleHashes` → k `min` aggregates): word-`shingleN`-gram
  * shingle identities as xxhash64 folds of per-token xxhash64 values, then
  * `sig[i] = min over shingles of xxhash64(shingle, i)`. Bit-identical to
  * the DataFrame formulation (verified by a differential spec), because it
  * replays Spark's own hash composition: strings via
  * `XXH64.hashUTF8String(t, 42)`, long folds via `hashLong(h, seed)` from
  * seed 42, and the integer salt via `hashInt(i, ·)` — exactly what
  * `xxhash64(col…)` evaluates.
  *
  * Why it exists (scale): the explode shape shuffles one (id, shingle-hash)
  * row PER TOKEN of the corpus to group-and-minimize — at 100 TB that
  * shuffle is corpus-sized. This kernel keeps the whole signature
  * computation inside the scan's WholeStageCodegen: zero shuffle, zero
  * intermediate rows, one long[] per document. Same output, one fewer
  * corpus-wide exchange.
  *
  * Short documents (fewer than `shingleN` tokens) hash their single
  * truncated shingle with missing positions as 0L — the same
  * whole-short-doc identity the explode shape's coalesce produces. An
  * EMPTY token array yields NULL (the explode shape simply emits no rows
  * for such a doc), so callers filter `isNotNull`.
  */
case class MinHashSignature(child: Expression, k: Int, shingleN: Int)
    extends UnaryExpression {

  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 && shingleN > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens and k, shingleN > 0; " +
        s"got ${other.simpleString}, k=$k, shingleN=$shingleN")
  }

  override def nullSafeEval(input: Any): Any =
    MinHash.arrayData(MinHash.signature(input.asInstanceOf[ArrayData], k, shingleN))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHash.arrayData(" +
        s"graft.functions.MinHash.signature($a, $k, $shingleN));\n" +
        s"${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused per-row MinHash LSH BAND KEYS: the full [[MinHashSignature]]
  * computation plus the band fold of `Dedup.bandKeys`
  * (`xxhash64(slice(sig, j·rows+1, rows), j)` — Spark hashes an array by
  * folding `hashLong` over its elements from seed 42, then the band index
  * via `hashInt`), all inside ONE codegen evaluation.
  *
  * Why a separate kernel instead of `bandKeys(minhash_sig(…))`: Catalyst
  * inlines a projected alias into its consumers, and the 16 band slices
  * each re-evaluated the whole signature — measured 19.9 s vs 0.5 s for
  * the one-pass form at sf0.1. The aggregation barrier protects the
  * explode shape from this; a pure-projection pipeline must fuse the
  * fan-out into the kernel itself. Bit-identical to
  * `bandKeys(minhashSignatures(…))` (differential-spec'd). */
case class MinHashBandKeys(child: Expression, k: Int, shingleN: Int, bands: Int)
    extends UnaryExpression {

  override def prettyName: String = "minhash_bands"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _)
        if k > 0 && shingleN > 0 && bands > 0 && k % bands == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, k, shingleN, bands > 0 " +
        s"and bands | k; got ${other.simpleString}, k=$k, shingleN=$shingleN, " +
        s"bands=$bands")
  }

  override def nullSafeEval(input: Any): Any =
    MinHash.arrayData(MinHash.bandKeys(input.asInstanceOf[ArrayData], k, shingleN, bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHash.arrayData(" +
        s"graft.functions.MinHash.bandKeys($a, $k, $shingleN, $bands));\n" +
        s"${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
