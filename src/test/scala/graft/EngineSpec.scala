package graft

import graft.plans.BoundParams
import graft.sparql.LocalBgp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite

/** The flagship's first level runs on the driver: once the graph index is
  * built, a conjunctive `dataSparql` reaches its pruned scan without a
  * single Spark job, and anything else still plans through BgpPlanner. */
class EngineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  import TestSpark.sparkWorkDuring

  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs, _) = sparkWorkDuring(body)
    (out, jobs)
  }

  test("a conjunctive dataSparql submits no Spark job until its frame is consumed") {
    val s = spark; import s.implicits._
    val quads = Seq(
      Model.Quad("urn:site1#", "urn:site1#p1", Model.RdfType, "urn:cls#Temp"),
      Model.Quad("urn:site1#", "urn:cls#Temp", Model.RdfsSubClassOf, "urn:cls#Point"),
      Model.Quad("urn:site1#", "urn:site1#p1", "urn:ts", "\"u1\""),
      Model.Quad("urn:site2#", "urn:site2#p2", Model.RdfType, "urn:cls#Point"),
      Model.Quad("urn:site2#", "urn:site2#p2", "urn:ts", "\"u2\"")).toDF()
    val base = java.time.Instant.parse("2020-06-01T00:00:00Z")
    val fact = (0 until 15).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(60L * i)),
        i * 1.0, if (i < 10) "u1" else "u2")
    }.toDF("time", "value", "uuid")
    val engine = new Engine(spark, quads, fact)
    val conj =
      s"""SELECT ?id WHERE {
         |  ?p <${Model.RdfType}>/<${Model.RdfsSubClassOf}>* <urn:cls#Point> .
         |  ?p <urn:ts> ?id }""".stripMargin
    // the first query builds the graph index
    assert(engine.sparql(conj).as[String].collect().sorted.toSeq == Seq("u1", "u2"))

    val (all, allJobs) = jobsDuring(engine.dataSparql(conj))
    val (site2, siteJobs) = jobsDuring(engine.dataSparql(conj, sites = Seq("site2")))
    assert(allJobs == 0 && siteJobs == 0,
      s"conjunctive dataSparql ran $allJobs (union) / $siteJobs (site) jobs")
    val (n, consumeJobs) = jobsDuring(all.count())
    assert(n == 15 && site2.count() == 5)
    assert(consumeJobs > 0, "the listener saw no job for the scan itself")

    val filtered =
      s"""SELECT ?id WHERE { ?p <${Model.RdfType}> ?c . ?p <urn:ts> ?id
         |  FILTER(?c = <urn:cls#Temp>) }""".stripMargin
    assert(!engine.sparql(filtered).queryExecution.logical.isInstanceOf[LocalRelation])
    val (u1, filterJobs) = jobsDuring(engine.dataSparql(filtered))
    assert(filterJobs > 0, "a FILTER query must resolve its ids through BgpPlanner")
    assert(u1.count() == 10)
  }

  test("calls that differ only in their window share one compiled scan; the pushed " +
      "filters and the explain text keep the literal bounds") {
    val s = spark; import s.implicits._
    val root = TempDirs.create("graft-engine-params") + "/store"
    val base = java.time.Instant.parse("2020-07-08T09:10:11Z")
    (0 until 300).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(60L * i)), i * 0.5, s"u${i % 3}")
    }.toDF("time", "value", "uuid").write.partitionBy("uuid").parquet(root)
    val quads = Seq(
      Model.Quad("urn:site1#", "urn:site1#p1", Model.RdfType, "urn:cls#Temp"),
      Model.Quad("urn:site1#", "urn:site1#p1", "urn:ts", "\"u1\"")).toDF()
    val engine = new Engine(spark, quads, spark.read.parquet(root))
    val query = s"SELECT ?id WHERE { ?p <${Model.RdfType}> <urn:cls#Temp> . ?p <urn:ts> ?id }"
    def at(minute: Int): String = base.plusSeconds(60L * minute).toString
    def compilesDuring[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    val calls: Seq[(String, (Int, Int) => DataFrame)] = Seq(
      "data" -> ((a, b) => engine.data(Seq("u1"), at(a), at(b))),
      "dataSparql" -> ((a, b) => engine.dataSparql(query, start = at(a), end = at(b))))
    for (((name, call), k) <- calls.zipWithIndex) {
      compilesDuring(call(3 + k, 250 - k).collect())
      val (from, to) = (61 + 3 * k, 211 - 3 * k)
      val (rows, compiles) = compilesDuring(call(from, to).collect())
      assert(compiles == 0, s"the second $name call compiled $compiles classes")
      // u1's rows include the ones stamped exactly at either bound
      assert(rows.map(_.getAs[Double]("value")).toSet ==
        (from to to).filter(_ % 3 == 1).map(_ * 0.5).toSet, name)
    }

    val df = engine.data(Seq("u1"), at(61), at(211))
    val plan = df.queryExecution.executedPlan
    val scan = plan.collectFirst { case f: FileSourceScanExec => f }.get
    val bounds = Seq(61, 211).map(m => java.sql.Timestamp.from(base.plusSeconds(60L * m)))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains(GreaterThanOrEqual("time", bounds(0)).toString) &&
      pushed.contains(LessThanOrEqual("time", bounds(1)).toString), pushed)
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[BoundParams.Param])))
    val filter = plan.collectFirst { case f: FilterExec => f }.get
    assert(filter.condition.exists(_.isInstanceOf[BoundParams.Param]))
    // the filter FileSourceStrategy plans without the rewrite prints the same
    val inlined = FileSourceStrategy(df.queryExecution.optimizedPlan)
      .flatMap(_.collectFirst { case f: FilterExec => f }).head
    assert(!inlined.condition.exists(_.isInstanceOf[BoundParams.Param]))
    assert(filter.simpleString(Int.MaxValue) == inlined.simpleString(Int.MaxValue))
    assert(df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .contains(s"Condition : ${inlined.condition}\n"))
  }

  test("a graph over the cutoff is ruled out by a count, without shipping its quads") {
    import org.apache.spark.sql.functions._
    val limit = graft.plans.DriverSide.InputLimit
    val quads = spark.range(limit + 1).select(lit("urn:g#").as("graph"),
      concat(lit("urn:s"), col("id")).as("s"), lit("urn:p").as("p"),
      concat(lit("urn:o"), col("id")).as("o")).cache()
    try {
      quads.count()
      val (index, _, results) = sparkWorkDuring(LocalBgp.Index.build(quads))
      assert(index.isEmpty)
      // the quads are megabytes even compressed; a count's tasks return bytes
      val shipped = results.sum
      assert(shipped < 256 * 1024, s"$shipped result bytes reached the driver")
    } finally quads.unpersist()
  }
}
