package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the flagship two-level query's scale property, not just its
  * row counts: the SPARQL-derived uuid IN-list must land in the fact
  * scan's PARTITION filters (static pruning — decided at planning time),
  * and the files actually opened must belong exclusively to the matching
  * stream directories. This is the property that lets the pattern survive
  * a 100 TB store: non-matching streams are never listed, opened or read
  * (reference: client.py:65-72 does the same via explicit dataset
  * partition filtering). */
class FlagshipSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  val sfDir = "/root/testdata/sf0.001"

  test("flagship scan statically prunes to the SPARQL-selected uuid partitions") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("flagship-spec").toString
    val factRoot = s"$root/store"
    val ttlDir = s"$root/graphs"
    Flagship.ingest(spark, sfDir, factRoot, fullValidate = true)
    val ont = Flagship.writeGraphs(spark, sfDir, ttlDir)
    val engine = Engine(spark, ttlDir, factRoot, ontology = Some(ont))
    val df = engine.dataSparql(Flagship.Query,
      start = "2024-01-05T00:00:00Z", end = "2024-01-20T00:00:00Z")

    // the streams the SPARQL star SHOULD select: writeGraphs types every
    // 5th stream (in sorted-uuid order) as a temperature sensor
    val allUuids = spark.read.parquet(factRoot)
      .select("uuid").distinct().as[String].collect().sorted
    val tempUuids = allUuids.zipWithIndex
      .collect { case (u, i) if Flagship.isTemp(i.toLong) => u }.toSet
    assert(tempUuids.nonEmpty && tempUuids.size < allUuids.length,
      "pruning is only meaningful if a strict subset of streams matches")

    // 1. the plan carries the uuid IN-list as a PARTITION filter (static
    //    pruning), with the time range pushed to the parquet reader
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scanSection = plan.linesIterator
      .dropWhile(l => !l.contains("PartitionFilters")).take(1).mkString
    assert(scanSection.contains("uuid") && scanSection.contains(" IN "),
      s"expected a uuid IN-list partition filter, plan:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(time"),
      s"expected the time range pushed to the scan, plan:\n$plan")

    // 2. the files actually read all belong to matching stream dirs, and
    //    every matching stream is covered — non-matching partition
    //    directories contribute no input files at all
    val readUuids = df.select(input_file_name().as("f")).distinct().as[String]
      .collect()
      .map(f => f.split("uuid=")(1).split("/")(0)).toSet
    assert(readUuids == tempUuids,
      s"scan read ${readUuids.size} stream dirs, expected ${tempUuids.size}")
    assert(df.count() > 0)
  }

  test("ingest spot-check reports a missing stream directory by name") {
    val root = java.nio.file.Files.createTempDirectory("flagship-spot").toString
    val e = intercept[IllegalArgumentException] {
      Flagship.spotCheck(spark, s"$root/store")
    }
    assert(e.getMessage.contains("ingest spot-check") &&
      e.getMessage.contains(s"uuid=${Flagship.uuidOf(5)} is missing"), e.getMessage)
  }
}
