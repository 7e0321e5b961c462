package graft

import graft.operators.DedupIndex
import graft.plans.DriverSide
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Batch admission on the driver against the Spark plans it stands in
  * for: under [[DriverSide]]'s cutoff `admitAgainstIndex` and
  * `admitNearDupAgainstIndex` answer with a local relation, and forced
  * over it (the test seam) the same calls plan through Spark. Both must
  * return the same bag of rows under the same schema over random
  * fixtures that hold every case the plans treat specially: dup_batch
  * chains, a replayed batch whose docs are already appended, tombstones
  * on the index only and on the store only, repeated store rows, docs
  * shorter than `shingleN`, null and empty texts, pairs at exactly
  * `thetaBp`, and an `Int` id column. */
class AdmitDriverSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val K = 16
  private val Bands = 16

  private def tmp(tag: String): String = TempDirs.register(
    s"${System.getProperty("java.io.tmpdir")}/graft_admitdrv_${tag}_${java.util.UUID.randomUUID()}")

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Docs of random words over a small vocabulary, so shingles are
    * shared often. `at` and `atEdit` are 5-token docs whose 3-gram sets
    * meet at exactly 5,000 bp, as do batch docs 126 and 127. */
  private def words(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(s"w${rnd.nextInt(9)}").mkString(" ")
  private val at = "p1 p2 p3 p4 p5"
  private val atEdit = "p1 p2 p3 p4 q9"

  private final class Fixture(val batch: DataFrame, val exact: String, val minhash: String,
      val store: String, val shingleN: Int, val thetaBp: Long)

  private def fixture(seed: Int, intIds: Boolean): Fixture = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    val shingleN = if (seed % 2 == 0) 2 else 3
    val thetaBp = Seq(0L, 5000L, 3333L, 10000L)(seed % 4)
    val corpusRows: Seq[(Long, String)] =
      (1L to 24L).map(i => (i, words(rnd, 2 + rnd.nextInt(8)))) ++
        Seq((25L, at), (26L, "w1"), (27L, ""), (28L, null))
    // re-fetches (case and spacing), edited copies, in-batch copies that
    // chain (a copy of a copy), short, empty and null texts, novel docs
    val batchRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (101L to 124L).foreach { i =>
      val t = rnd.nextInt(7) match {
        case 0 => corpusRows(rnd.nextInt(24))._2.toUpperCase.replace(" ", "  ")
        case 1 =>
          val ws = corpusRows(rnd.nextInt(24))._2.split(" ")
          ws.updated(rnd.nextInt(ws.length), "edit").mkString(" ")
        case 2 if batchRows.nonEmpty => batchRows(rnd.nextInt(batchRows.size))._2
        case 3 => Seq("w1", "", null, "w2 w3")(rnd.nextInt(4))
        case _ => words(rnd, 2 + rnd.nextInt(8))
      }
      batchRows += ((i, t))
    }
    batchRows ++= Seq((125L, atEdit), (126L, "s1 s2 s3 s4 s6"), (127L, "s1 s2 s3 s4 s7"))
    def df(rows: Seq[(Long, String)]): DataFrame = {
      val d = rows.toDF("doc_id", "text")
      if (intIds) d.select(col("doc_id").cast("int").as("doc_id"), col("text")) else d
    }
    val corpus = df(corpusRows)
    val batch = df(batchRows.toSeq)
    val exact = tmp("exact"); val minhash = tmp("mh"); val store = tmp("store")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", exact)
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", minhash, K, Bands, shingleN)
    corpus.write.parquet(store)
    // a replay: part of this batch was admitted and appended before a crash
    val replayed = df(batchRows.toSeq.filter(_._1 % 5 == 0))
    DedupIndex.appendToIndex(replayed, "text", "doc_id", exact, "exact")
    DedupIndex.appendToIndex(replayed, "text", "doc_id", minhash, "minhash", K, Bands, shingleN)
    replayed.write.mode("append").parquet(store)
    // a replayed store append repeats rows
    df(corpusRows.filter(_._1 % 3 == 0)).write.mode("append").parquet(store)
    // tombstones: some keepers and band owners on the indexes only, others
    // on the store only; the planted docs stay live
    val ids = corpusRows.map(_._1).filter(_ < 25)
    DedupIndex.deleteDocs(ids.filter(_ % 7 == seed % 7).toDF("doc_id"), exact)
    DedupIndex.deleteDocs(ids.filter(_ % 7 == seed % 7).toDF("doc_id"), minhash)
    DedupIndex.deleteDocs(ids.filter(_ % 7 == (seed + 3) % 7).toDF("doc_id"), store)
    new Fixture(batch, exact, minhash, store, shingleN, thetaBp)
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)

  /** The driver's answer equals the plan's, as bags under one schema. */
  private def samePlanAnswer(call: => DataFrame): DataFrame = {
    val local = call
    val planned = DriverSide.withLimits(-1L, -1L)(call)
    assert(isLocal(local) && !isLocal(planned))
    assert(local.schema == planned.schema)
    assert(bag(local) == bag(planned))
    local
  }

  test("the driver path returns the plans' rows and schemas over random fixtures") {
    val statuses = Seq.newBuilder[(String, String)]
    for (seed <- 1 to 4) {
      val f = fixture(seed, intIds = seed == 4)
      val ex = samePlanAnswer(DedupIndex.admitAgainstIndex(f.batch, "text", "doc_id", f.exact))
      val nd = samePlanAnswer(DedupIndex.admitNearDupAgainstIndex(f.batch, "text", "doc_id",
        f.minhash, f.store, K, Bands, f.shingleN, f.thetaBp))
      if (seed == 4) assert(ex.schema("doc_id").dataType == IntegerType &&
        nd.schema("keep_id").dataType == IntegerType)
      statuses ++= ex.collect().map(r => ("exact", r.getString(2)))
      statuses ++= nd.collect().map(r => ("near", r.getString(1)))
      if (f.thetaBp == 5000L) {
        // the planted pairs at exactly theta are dups
        val st = nd.collect().map(r => r.getAs[Number](0).longValue() ->
          (r.getString(1), r.getAs[Number](2).longValue())).toMap
        assert(st(125L) == (("dup_corpus", 25L)) && st(127L) == (("dup_batch", 126L)), st)
      }
    }
    val seen = statuses.result().toSet
    for (kind <- Seq("exact", "near"); st <- Seq("dup_corpus", "dup_batch", "admitted"))
      assert(seen((kind, st)), s"no $kind admission marked $st")
  }

  test("a warm call with a local batch runs at most 1 (exact) or 2 (near-dup) Spark " +
      "jobs, infers no schema and pins no block") {
    val f = fixture(5, intIds = false)
    def exact() = DedupIndex.admitAgainstIndex(f.batch, "text", "doc_id", f.exact).collect()
    def near() = DedupIndex.admitNearDupAgainstIndex(f.batch, "text", "doc_id",
      f.minhash, f.store, K, Bands, f.shingleN, f.thetaBp).collect()
    val sc = spark.sparkContext
    Seq(("exact", 1, () => exact()), ("near-dup", 2, () => near())).foreach { case (name, most, call) =>
      call()
      val pinned = sc.getPersistentRDDs.keySet
      val (got, jobs, _) = TestSpark.sparkJobsDuring(call())
      assert(got.nonEmpty)
      assert(jobs.size <= most, s"$name jobs: $jobs")
      assert(!jobs.exists(_.startsWith("parquet at")), s"$name jobs: $jobs")
      assert((sc.getPersistentRDDs.keySet -- pinned).isEmpty, s"$name pinned an RDD")
    }
  }
}
