package graft

import graft.operators.{AnnIndex, Dedup, DedupIndex, Similarity}
import graft.plans.{Closure, DriverSide}
import graft.sparql.LocalBgp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one driver-side cutoff ([[DriverSide]]). With a small limit set
  * through its test seam, each of its callers takes its distributed
  * plan over the cutoff (the reference the driver-side answers are
  * property-checked against): its rows equal the driver-side answer, and
  * the relation is ruled out by a count — no
  * task returns more than metrics and a row, where a collect of the
  * relation returns hundreds of KB from one task. Broadcast joins are off
  * while a call runs over the cutoff: they route their small side
  * through the driver by design, which is not the collect ruled out here. */
class DriverSideSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  import TestSpark.sparkWorkDuring

  private val Limit = 100L

  /** Bytes one task may return over the cutoff. Each relation below is
    * megabytes, so a collect of it returns more from at least one of its
    * few tasks; counts, checkpoints and the fixpoints' emptiness probes
    * return a few KB of metrics and at most one row. */
  private val Bound = 64L * 1024

  /** `body` over the cutoff, and the most bytes one of its tasks shipped. */
  private def overCutoff[T](body: => T): (T, Long) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try onDriver(DriverSide.withLimits(Limit, Limit)(body))
    finally spark.conf.set(key, prev)
  }

  /** `body` at the default limits, and the most bytes one of its tasks
    * shipped. */
  private def onDriver[T](body: => T): (T, Long) = {
    val (out, _, shipped) = sparkWorkDuring(body)
    (out, shipped.max)
  }

  /** A node name, long enough that collecting thousands of them shows. */
  private def node(prefix: String, id: org.apache.spark.sql.Column) =
    concat(lit(s"urn:$prefix:${"x" * 200}:"), id.cast("string"))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("closures over the cutoff run the distributed plans without collecting the edges") {
    // a → b → c for 1,000 chains: two-edge paths, so the fixpoints converge fast
    val ids = spark.range(1000).select(col("id"))
    val edges = ids.select(node("a", col("id")).as("src"), node("b", col("id")).as("dst"))
      .union(ids.select(node("b", col("id")).as("src"), node("c", col("id")).as("dst")))
    val (driver, collected) = onDriver(Closure.transitive(edges))
    assert(collected > Bound, s"a collect of the edges shipped at most $collected bytes from one task")
    val (cluster, shipped) = overCutoff(Closure.transitive(edges))
    assert(shipped < Bound, s"$shipped result bytes reached the driver from one task")
    assert(rows(cluster) == rows(driver) && rows(driver).size == 3000)

    val star = ids.select(lit("urn:root").as("src"), node("b", col("id")).as("dst"))
      .union(ids.select(node("b", col("id")).as("src"), node("c", col("id")).as("dst")))
    val (near, collectedFrom) = onDriver(Closure.reachableFrom(star, "urn:root"))
    assert(collectedFrom > Bound)
    val (reached, shippedFrom) = overCutoff(Closure.reachableFrom(star, "urn:root"))
    assert(shippedFrom < Bound, s"$shippedFrom result bytes reached the driver from one task")
    assert(rows(reached) == rows(near) && rows(near).size == 2000)
  }

  test("a graph over the cutoff is not indexed on the driver and plans through BgpPlanner") {
    val quads = spark.range(1000).select(lit("urn:g#").as("graph"),
      node("s", col("id")).as("s"), lit("urn:p").as("p"), node("o", col("id")).as("o"))
      .cache()
    try {
      val (index, shipped) = overCutoff(LocalBgp.Index.build(quads))
      assert(index.isEmpty)
      assert(shipped < Bound, s"$shipped result bytes reached the driver from one task")
      val (built, collected) = onDriver(LocalBgp.Index.build(quads))
      assert(built.nonEmpty && collected > Bound)
      val q = "SELECT ?s ?o WHERE { ?s <urn:p> ?o }"
      val planned = DriverSide.withLimits(Limit, Limit)(
        new Engine(spark, quads, spark.range(0).toDF()).sparql(q))
      val local = new Engine(spark, quads, spark.range(0).toDF()).sparql(q)
      assert(rows(planned) == rows(local) && rows(local).size == 1000)
    } finally quads.unpersist()
  }

  test("connected components over the cutoff run the distributed loop without collecting the pairs") {
    // 20,000 two-node components and some isolated nodes
    val pairs = spark.range(20000).select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
    val nodes = spark.range(40010).toDF("id")
    val (driver, collected) = onDriver(Dedup.connectedComponents(nodes, "id", pairs))
    assert(collected > Bound, s"a collect of the pairs shipped at most $collected bytes from one task")
    val (cluster, shipped) = overCutoff(Dedup.connectedComponents(nodes, "id", pairs))
    assert(shipped < Bound, s"$shipped result bytes reached the driver from one task")
    val want = rows(driver)
    assert(rows(cluster) == want && want.size == 40010)
  }

  test("an IVF-PQ index over the cutoff is served by the Spark plan without collecting its codes") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 20000).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val path = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_driverside_ann_${java.util.UUID.randomUUID()}")
    val cents = vecs.filter(pmod(col("vec_id"), lit(400)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    AnnIndex.writeIvfPqIndex(vecs, cents, Similarity.pqCodebook(vecs, m = 2, seedMod = 400),
      m = 2, dim = 4, path)
    // every list probed: the driver path ships all 40,000 code rows
    def serve() = AnnIndex.queryIvfPqIndex(vecs.filter(col("vec_id") < 4), path,
      m = 2, dim = 4, k = 5, nProbe = 50)
    val (driver, collected) = onDriver(serve())
    assert(collected > Bound, s"a collect of the codes shipped at most $collected bytes from one task")
    val (cluster, shipped) = overCutoff(serve().collect())
    assert(shipped < Bound, s"$shipped result bytes reached the driver from one task")
    val want = rows(driver)
    assert(cluster.map(_.toSeq).toSet == want && want.size == 20)
  }

  test("admissions over the cutoff plan through Spark without collecting the index or the store") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    def text() = Seq.fill(20)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val corpus = (0L until 2000L).map(i => (i, text())).toDF("doc_id", "text")
    // every doc re-fetched under a new id: each matches its index key and
    // its band rows, and each candidate's text is fetched
    val batch = corpus.collect().map(r => (r.getLong(0) + 100000L, r.getString(1))).toSeq
      .toDF("doc_id", "text")
    val root = TempDirs.register(s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_driverside_admit_${java.util.UUID.randomUUID()}")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", s"$root/exact")
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", s"$root/mh")
    corpus.write.parquet(s"$root/store")
    // rows and a bag fingerprint of them: one row ships to the driver
    def fingerprint(df: DataFrame) =
      df.agg(count(lit(1)), sum(hash(df.columns.map(col).toSeq: _*).cast("long"))).head().toSeq
    Seq[() => DataFrame](
      () => DedupIndex.admitAgainstIndex(batch, "text", "doc_id", s"$root/exact"),
      () => DedupIndex.admitNearDupAgainstIndex(batch, "text", "doc_id", s"$root/mh",
        s"$root/store")).foreach { admit =>
      val (driver, collected) = onDriver(admit())
      assert(collected > Bound, s"the driver path shipped at most $collected bytes from one task")
      assert(driver.collect().exists(_.toSeq.contains("dup_corpus")))
      // the plan's batch-sized relations shuffle instead of broadcasting
      s.conf.set(DedupIndex.MaxBroadcastBytesKey, "0")
      try {
        val (planned, shipped) = overCutoff(fingerprint(admit()))
        assert(shipped < Bound, s"$shipped result bytes reached the driver from one task")
        assert(planned == fingerprint(driver) && planned.head == 2000L)
      } finally s.conf.unset(DedupIndex.MaxBroadcastBytesKey)
    }
  }
}
