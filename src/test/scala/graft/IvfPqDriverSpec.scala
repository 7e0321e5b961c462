package graft

import graft.operators.{AnnIndex, Similarity}
import graft.plans.DriverSide
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ serving on the driver against the Spark plan it stands in for:
  * under [[DriverSide]]'s cutoff `queryIvfPqIndex` answers with a local
  * relation, and forced over it (the test seam) the same call plans
  * through Spark. Both must return the same rows (qid, nid, rank, score)
  * under the same schema, over every layout the index goes through:
  * flat and two-level, appended codes, streamed codes with a folded
  * batch, tombstones and a root without `supers/`. Vectors sit on a
  * coarse grid, so cosines and ADC sums tie often and a zero vector's
  * cosine is NaN: ties and NaN must order as Spark orders them. */
class IvfPqDriverSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = TempDirs.register(
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfdrv_${tag}_${java.util.UUID.randomUUID()}")

  /** `n` vectors from `from` on, each coordinate in {-1, -0.5, 0, 0.5, 1}. */
  private def grid(seed: Long, n: Int, from: Long = 0): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (from + i, Array.fill(4)((rnd.nextInt(5) - 2) * 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private def build(corpus: DataFrame, twoLevel: Boolean): String = {
    val path = tmp(if (twoLevel) "tl" else "flat")
    val cents = corpus.filter(pmod(col("vec_id"), lit(7)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    AnnIndex.writeIvfPqIndex(corpus, cents, Similarity.pqCodebook(corpus, m = 2, seedMod = 5),
      m = 2, dim = 4, path, twoLevel = twoLevel)
    path
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Corpus ids (each must not match itself), the zero vector (NaN
    * cosine to every centroid), a repeated vector and ids outside the
    * corpus. */
  private def queries(corpus: DataFrame): DataFrame = {
    val s = spark; import s.implicits._
    corpus.filter(col("vec_id") < 6).union(Seq(
      (1000L, Array(0f, 0f, 0f, 0f)), (1001L, Array(0.5f, 0.5f, 0f, -0.5f)),
      (1002L, Array(0.5f, 0.5f, 0f, -0.5f)), (1003L, Array(1f, -1f, 0.5f, 0f)))
      .toDF("vec_id", "embedding"))
  }

  private def sameAnswers(qs: DataFrame, path: String, twoLevel: Boolean, k: Int = 5,
      nProbe: Int = 2): Unit = {
    def serve() = AnnIndex.queryIvfPqIndex(qs, path, m = 2, dim = 4, k = k,
      nProbe = nProbe, twoLevel = twoLevel)
    val local = serve()
    val planned = DriverSide.withLimits(-1L, -1L)(serve())
    assert(isLocal(local) && !isLocal(planned))
    assert(local.schema == planned.schema)
    def rows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1), r.getDouble(3))).sorted
    val want = rows(planned)
    assert(want.nonEmpty)
    assert(rows(local) == want)
  }

  test("the driver path returns the Spark plan's rows through appends, a folded " +
      "stream, tombstones and a root without supers, flat and two-level") {
    val corpus = grid(11, 90)
    Seq(false, true).foreach { twoLevel =>
      val path = build(corpus, twoLevel)
      val qs = queries(corpus)
      sameAnswers(qs, path, twoLevel)
      AnnIndex.appendToIvfPqIndex(grid(12, 30, from = 90), path, m = 2, dim = 4,
        twoLevel = twoLevel)
      // batch 0 is folded into codes/, then replayed: its partition is
      // back but marked folded, so it must not count twice; batch 1 stays
      // unfolded in codes_stream/
      def ingest(batch: Long) = AnnIndex.ingestVecBatch(grid(13 + batch, 20, from = 200 + 20 * batch),
        batch, path, m = 2, dim = 4, twoLevel, "vec_id", "embedding")
      ingest(0)
      AnnIndex.foldStreamIntoCodes(spark, path)
      ingest(0)
      ingest(1)
      sameAnswers(qs, path, twoLevel, k = 7, nProbe = 3)
      AnnIndex.deleteVectors(spark.range(3, 60, 4).toDF("id"), path)
      sameAnswers(qs, path, twoLevel)
      if (twoLevel) {
        val supers = new org.apache.hadoop.fs.Path(s"$path/supers")
        supers.getFileSystem(spark.sessionState.newHadoopConf()).delete(supers, true)
        sameAnswers(qs, path, twoLevel, nProbe = 1)
      }
    }
  }

  test("a warm call under the cutoff runs at most 4 Spark jobs and infers no schema") {
    val corpus = grid(21, 60)
    val path = build(corpus, twoLevel = true)
    AnnIndex.appendToIvfPqIndex(grid(22, 20, from = 60), path, m = 2, dim = 4, twoLevel = true)
    def call() = AnnIndex.queryIvfPqIndex(queries(corpus), path, m = 2, dim = 4, k = 4,
      nProbe = 2, twoLevel = true).collect()
    call()
    val (got, jobs, _) = TestSpark.sparkJobsDuring(call())
    assert(got.nonEmpty)
    assert(jobs.size <= 4, s"jobs: $jobs")
    assert(!jobs.exists(_.startsWith("parquet at")), s"jobs: $jobs")
  }
}
