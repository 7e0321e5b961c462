package graft

import graft.sources.{Ingest, StatsIndex}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Ingest round-trip + stats index, mirroring the reference pipeline
  * (reference: transform.py + make-metadata.py, verified numbers SURVEY.md §5
  * re-derived on generated fixtures). */
class IngestSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  val uuid1 = "a0dd74ce-05ee-5fee-8335-2d9856bd52be"
  val uuid2 = "f3b61918-afa9-596d-bef5-40fe1e96454f"

  /** One reading per minute from 2016-11-30T00:00Z, n rows, written shuffled
    * (ingest must sort). */
  private def writeCsv(dir: Path, uuid: String, label: String, n: Int): Unit = {
    val base = java.time.Instant.parse("2016-11-30T00:00:00Z")
    val rows = (0 until n).map { i =>
      val t = base.plusSeconds(60L * i)
      s"${t.toString.replace("Z", "+00:00").replace("T", " ")},${0.5 + i * 0.001}"
    }
    val shuffled = new scala.util.Random(42).shuffle(rows)
    Files.write(dir.resolve(s"$uuid.csv"), (s"datetime,$label" +: shuffled).mkString("\n").getBytes)
  }

  lazy val (csvDir, destDir) = {
    val csv = Files.createTempDirectory("graft-csv")
    val dest = Files.createTempDirectory("graft-fact").resolve("data")
    writeCsv(csv, uuid1, "/delta/m5/c12", 2880) // 2 days @ 1/min
    writeCsv(csv, uuid2, "/delta/m5/sp", 1440)
    Files.write(csv.resolve("not-a-uuid.csv"), "datetime,x\n2016-01-01 00:00:00+00:00,1.0".getBytes)
    Ingest.transform(spark, "bldg1", csv.toString, dest.toString)
    (csv, dest)
  }

  test("schema matches the reference fact table (transform.py:36,39)") {
    val df = spark.read.parquet(destDir.toString)
    val fields = df.schema.fields.map(f => (f.name, f.dataType.typeName)).toMap
    assert(fields("time") == "timestamp")
    assert(fields("value") == "double")
    assert(fields("label") == "string")
    assert(fields("uri") == "string")
    // hive partition keys resolve as columns
    assert(df.columns.contains("collection") && df.columns.contains("uuid"))
  }

  test("row counts per stream; non-UUID file skipped (transform.py:11-16)") {
    val df = spark.read.parquet(destDir.toString)
    val counts = df.groupBy("uuid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(uuid1 -> 2880L, uuid2 -> 1440L))
  }

  test("derived columns: label, uri = urn:{collection}/{label} (transform.py:33-34)") {
    val df = spark.read.parquet(destDir.toString)
    val r = df.filter(col("uuid") === uuid1).select("label", "uri", "collection").head()
    assert(r.getString(0) == "/delta/m5/c12")
    assert(r.getString(1) == "urn:bldg1//delta/m5/c12")
    assert(r.getString(2) == "bldg1")
  }

  test("partition layout collection=<c>/uuid=<u>, rows time-sorted within files") {
    val part = destDir.resolve(s"collection=bldg1/uuid=$uuid1")
    assert(Files.isDirectory(part))
    val df = spark.read.parquet(part.toString)
    val times = df.select("time").collect().map(_.getTimestamp(0).getTime)
    assert(times.length == 2880 && times.sameElements(times.sorted))
  }

  test("time-range pushdown filter count (fixture analogue of the 1 272-row golden)") {
    // 1 reading/min: [2016-12-01T00:00, 2016-12-01T12:00] inclusive = 721
    val df = spark.read.parquet(destDir.toString)
      .filter(col("uuid") === uuid1 &&
        col("time") >= to_timestamp(lit("2016-12-01T00:00:00Z")) &&
        col("time") <= to_timestamp(lit("2016-12-01T12:00:00Z")))
    assert(df.count() == 721)
    // and the plan pushes both predicates to the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("time"))
  }

  test("stats index build + validate reopen (make-metadata.py:8-22)") {
    val statsPath = Files.createTempDirectory("graft-stats").resolve("stats").toString
    val stats = StatsIndex.build(spark, destDir.toString, statsPath)
    assert(StatsIndex.validate(spark, statsPath))
    val r = stats.filter(col("uuid") === uuid2).head()
    assert(r.getAs[Long]("num_rows") == 1440L)
    // min/max time bracket the generated range
    assert(r.getAs[java.sql.Timestamp]("min_time").toInstant.toString == "2016-11-30T00:00:00Z")
    // window pruning helper finds only overlapping streams
    val pruned = StatsIndex.streamsInWindow(stats, "2016-12-01T00:00:00Z", "2016-12-02T00:00:00Z")
    assert(pruned.collect().map(_.getString(1)).toSet == Set(uuid1)) // uuid2 ends 2016-11-30
  }

  test("stats refresh (round 15): new fragments are picked up at " +
      "new-files-only cost, stale rows are dropped, the result equals a " +
      "full rebuild, and a no-change refresh is a no-op") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-refresh").toString
    val statsPath = s"$root-stats"
    // era 1 lands files in EXISTING uuid dirs (u1, u2) AND one new dir
    // (u3) — refresh must discover both shapes
    def fact(era: Int) = (0 until 100).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 60L + era * 100000L)), i.toDouble, "lbl",
        "c1", s"u${i % 3 + era}")
    }.toDF("time", "value", "label", "collection", "uuid")
    fact(0).write.mode("overwrite").partitionBy("collection", "uuid").parquet(root)
    StatsIndex.build(s, root, statsPath)
    val before = s.read.parquet(statsPath).count()
    // era 1: new fragments in NEW uuid dirs land later
    fact(1).write.mode("append").partitionBy("collection", "uuid").parquet(root)
    StatsIndex.refresh(s, root, statsPath)
    def canon() = s.read.parquet(statsPath)
      .select(col("collection"), col("uuid"),
        regexp_replace(col("file"), "^[a-zA-Z0-9+.-]+:/+", "/").as("f"),
        col("min_time"), col("max_time"), col("num_rows"))
      .collect().map(_.toSeq).toSet
    val refreshed = canon()
    assert(refreshed.size > before.toInt)
    // equals a full rebuild over the current store
    val rebuiltPath = s"$root-stats-rebuilt"
    StatsIndex.build(s, root, rebuiltPath)
    val rebuilt = s.read.parquet(rebuiltPath)
      .select(col("collection"), col("uuid"),
        regexp_replace(col("file"), "^[a-zA-Z0-9+.-]+:/+", "/").as("f"),
        col("min_time"), col("max_time"), col("num_rows"))
      .collect().map(_.toSeq).toSet
    assert(refreshed == rebuilt)
    // idempotent: no change → no new rows
    StatsIndex.refresh(s, root, statsPath)
    assert(canon() == refreshed)
    // stale: delete one uuid directory (a compaction/retention event) —
    // refresh drops its rows and matches a rebuild again
    val gone = new java.io.File(s"$root/collection=c1/uuid=u0")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(gone)
    StatsIndex.refresh(s, root, statsPath)
    val after = canon()
    assert(!after.exists(_.exists(v => v != null && v.toString.contains("uuid=u0"))))
    assert(after.size < refreshed.size)
  }

  test("stats refresh (round 16): percent-encodable store paths stay " +
      "idempotent (listing vs input_file_name decode to one identity), " +
      "and refresh on a store with NO stats table falls back to build") {
    val s = spark; import s.implicits._
    // a SPACE in the store root: input_file_name() reports %20 while the
    // FS listing reports the raw char — pre-fix, every file looked new
    // on every refresh and stats rows duplicated per file per call
    val base = Files.createTempDirectory("graft-refresh-enc").toString
    val root = s"$base/store with space"
    val statsPath = s"$base/stats"
    def fact(era: Int) = (0 until 60).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 60L + era * 100000L)), i.toDouble, "lbl",
        "c1", s"u${i % 2}")
    }.toDF("time", "value", "label", "collection", "uuid")
    fact(0).write.mode("overwrite").partitionBy("collection", "uuid").parquet(root)
    StatsIndex.build(s, root, statsPath)
    val built = s.read.parquet(statsPath).count()
    // no store change → refresh must append NOTHING despite the encoding
    StatsIndex.refresh(s, root, statsPath)
    assert(s.read.parquet(statsPath).count() == built)
    StatsIndex.refresh(s, root, statsPath)
    assert(s.read.parquet(statsPath).count() == built)
    // a new era still gets discovered exactly once
    fact(1).write.mode("append").partitionBy("collection", "uuid").parquet(root)
    StatsIndex.refresh(s, root, statsPath)
    val grown = s.read.parquet(statsPath).count()
    assert(grown > built)
    StatsIndex.refresh(s, root, statsPath)
    assert(s.read.parquet(statsPath).count() == grown)
    // every stored file identity is unique (no duplicate stats rows)
    assert(s.read.parquet(statsPath).groupBy("file").count()
      .agg(max("count")).head().getLong(0) == 1L)
    // missing stats table: refresh ≡ build, not a raw read error
    val fresh = s"$base/fresh-stats"
    StatsIndex.refresh(s, root, fresh)
    assert(s.read.parquet(fresh).count() == grown)
  }

  test("prunedScan reads ONLY the stats-selected fragments (README.md:56 _metadata analogue)") {
    val statsPath = Files.createTempDirectory("graft-stats-ps").resolve("stats").toString
    val stats = StatsIndex.build(spark, destDir.toString, statsPath)
    val root = destDir.toString
    val start = "2016-12-01T00:00:00Z"; val end = "2016-12-02T00:00:00Z"

    // uuid2's only file ends 2016-11-30 → the stats cut drops it even
    // though its uuid is requested
    val files = StatsIndex.prunedFiles(stats, Seq(uuid1, uuid2), start, end)
    assert(files.nonEmpty && files.forall(_.contains(s"uuid=$uuid1")), files.mkString(","))

    val pruned = StatsIndex.prunedScan(spark, stats, root, Seq(uuid1, uuid2), start, end)
    // row-exact parity with the naive partition-pruned scan
    val naive = spark.read.parquet(root)
      .filter(col("uuid").isin(uuid1, uuid2) &&
        col("time") >= to_timestamp(lit(start)) && col("time") <= to_timestamp(lit(end)))
    // uuid1 covers 2016-11-30T00:00..2016-12-01T23:59 → the Dec-1 day = 1440
    assert(pruned.count() == naive.count() && naive.count() == 1440)
    // partition columns survive the explicit-file read
    assert(pruned.columns.contains("collection") && pruned.columns.contains("uuid"))
    // the files actually opened are exactly the stats-selected list
    val touched = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(touched == files.toSet, s"touched=$touched expected=$files")

    // empty match (window after all data): empty relation, schema intact
    val none = StatsIndex.prunedScan(spark, stats, root, Seq(uuid1, uuid2),
      "2020-01-01T00:00:00Z", "2020-01-02T00:00:00Z")
    assert(none.count() == 0 && none.columns.contains("uuid"))
  }

  test("end-to-end: engine dataSparql over ingested fixture (client.py:95-109 shape)") {
    val s = spark
    import s.implicits._
    val quads = graft.sources.Turtle.parse(
      """@prefix brick: <https://brickschema.org/schema/Brick#> .
        |@prefix ns: <urn:fix#> .
        |ns:sen1 a brick:Zone_Air_Temperature_Sensor ;
        |    brick:timeseries [ brick:hasTimeseriesId "a0dd74ce-05ee-5fee-8335-2d9856bd52be" ] .
        |""".stripMargin, "bldg1")
      .map { case (su, p, o) => Model.Quad("urn:bldg1#", su, p, o) }.toDF()
    val engine = new Engine(spark, quads, spark.read.parquet(destDir.toString))
    val df = engine.dataSparql(
      """PREFIX brick: <https://brickschema.org/schema/Brick#>
        |SELECT ?id WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }""".stripMargin,
      start = "2016-12-01T00:00:00Z", end = "2016-12-01T12:00:00Z")
    assert(df.count() == 721)
    assert(df.select("uuid").distinct().head().getString(0) == uuid1)
    // exact limit (conscious delta from the reference's overshoot, SURVEY §7.4)
    assert(engine.dataSparql(
      """PREFIX brick: <https://brickschema.org/schema/Brick#>
        |SELECT ?id WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }""".stripMargin,
      limit = 100).count() == 100)
  }

  test("duckdb sink: parquet staging + generated parquet_scan DDL (client.py:82-93)") {
    val s = spark
    import s.implicits._
    val quads = graft.sources.Turtle.parse(
      """@prefix brick: <https://brickschema.org/schema/Brick#> .
        |@prefix ns: <urn:fix#> .
        |ns:sen1 a brick:Zone_Air_Temperature_Sensor ;
        |    brick:timeseries [ brick:hasTimeseriesId "a0dd74ce-05ee-5fee-8335-2d9856bd52be" ] .
        |""".stripMargin, "bldg1")
      .map { case (su, p, o) => Model.Quad("urn:bldg1#", su, p, o) }.toDF()
    val engine = new Engine(spark, quads, spark.read.parquet(destDir.toString))
    val out = java.nio.file.Files.createTempDirectory("duck").toString
    engine.dataSparqlToDuckDb(
      """PREFIX brick: <https://brickschema.org/schema/Brick#>
        |SELECT ?id WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }""".stripMargin,
      out, "readings",
      start = "2016-12-01T00:00:00Z", end = "2016-12-01T12:00:00Z")
    val ddl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "load.sql")))
    // CREATE OR REPLACE: re-running load.sql after further appended
    // batches rebuilds the table over ALL staged parquet (IF NOT EXISTS
    // would silently no-op and lose later batches — reference parity is
    // per-batch INSERT over a live connection, client.py:82-93)
    assert(ddl.contains("CREATE OR REPLACE TABLE readings"))
    assert(ddl.contains("parquet_scan"))
    assert(spark.read.parquet(out + "/data").count() == 721)
  }

  test("incremental duckdb sink: per-batch INSERT timeline, idempotent re-delivery (client.py:82-93)") {
    import graft.sources.DuckDbSink
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("duck-inc").toString
    DuckDbSink.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), out, "tbl", 0L)
    DuckDbSink.appendBatch(Seq((3L, "c")).toDF("id", "v"), out, "tbl", 1L)
    // re-delivery of batch 1 (streaming restart): staging overwritten,
    // script NOT extended — exactly-once table contents on replay
    DuckDbSink.appendBatch(Seq((3L, "c")).toDF("id", "v"), out, "tbl", 1L)
    val script = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "load.sql"))
    // one CREATE (schema-only, LIMIT 0) then exactly one INSERT per batch,
    // in batch order — replaying the script reproduces the reference's
    // live-connection statement history; an incremental consumer runs only
    // the new tail lines, never re-scanning loaded batches
    assert(script.linesIterator.count(_.startsWith("CREATE TABLE IF NOT EXISTS tbl")) == 1)
    val inserts = script.linesIterator.filter(_.startsWith("INSERT INTO tbl")).toSeq
    assert(inserts.size == 2)
    assert(inserts(0).contains("batch_0") && inserts(1).contains("batch_1"))
    assert(script.contains("LIMIT 0;"))
    // replay the script's scans engine-side: union of the staged batch
    // dirs (in INSERT order) == everything appended, exactly once
    val replayed = spark.read.parquet(out + "/data/batch_0", out + "/data/batch_1")
    assert(replayed.count() == 3)
    assert(replayed.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("incremental duckdb sink: streaming foreachBatch appends each micro-batch") {
    import graft.sources.DuckDbSink
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val out = java.nio.file.Files.createTempDirectory("duck-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("duck-ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = DuckDbSink.streamTo(in.toDF().toDF("id", "v"), out, "tbl", ckpt)
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val script = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "load.sql"))
    assert(script.linesIterator.count(_.startsWith("INSERT INTO tbl")) == 2)
    assert(spark.read.parquet(out + "/data/batch_0", out + "/data/batch_1")
      .count() == 3)
  }

  test("ingest maxRecordsPerFile splits long streams into time-sorted leaf files") {
    val csv = java.nio.file.Files.createTempDirectory("split-csv")
    val dest = java.nio.file.Files.createTempDirectory("split-fact").resolve("d").toString
    writeCsv(csv, uuid1, "lbl", 1000)
    graft.sources.Ingest.transform(spark, "c2", csv.toString, dest, maxRecordsPerFile = 300)
    val part = java.nio.file.Paths.get(dest, "collection=c2", s"uuid=$uuid1")
    val files = java.nio.file.Files.list(part).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 leaf files, got ${files.length}") // 300*3 + 100
    files.foreach { f =>
      val times = spark.read.parquet(f).select("time").collect().map(_.getTimestamp(0).getTime)
      assert(times.sameElements(times.sorted), s"file $f not time-sorted")
    }
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally walk.close()
  }

  /** The `time` column's parquet type and its per-row-group statistics,
    * read from the footer of `file`. */
  private def timeFooter(file: Path): (PrimitiveType, Seq[Statistics[_]]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new Configuration()))
    try {
      val footer = reader.getFooter
      val tpe = footer.getFileMetaData.getSchema.getColumnDescription(Array("time")).getPrimitiveType
      val stats = footer.getBlocks.asScala.toSeq.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "time").get.getStatistics)
      (tpe, stats)
    } finally reader.close()
  }

  private def micros(t: java.time.Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000

  test("footer stores time as INT64 TIMESTAMP(MICROS, true) with min/max stats " +
      "(transform.py:39 coerce_timestamps='us')") {
    val files = parquetFiles(destDir.resolve(s"collection=bldg1/uuid=$uuid1"))
    assert(files.size == 1)
    val (tpe, stats) = timeFooter(files.head)
    assert(tpe.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    assert(tpe.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
    assert(stats.nonEmpty && stats.forall(_.hasNonNullValue))
    val base = java.time.Instant.parse("2016-11-30T00:00:00Z")
    assert(stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min == micros(base))
    assert(stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max ==
      micros(base.plusSeconds(60L * 2879)))
  }

  test("ingest writes without a shuffle: one sort, a broadcast join at most") {
    val csv = Files.createTempDirectory("plan-csv")
    val dest = Files.createTempDirectory("plan-fact").resolve("d").toString
    writeCsv(csv, uuid1, "a", 100)
    writeCsv(csv, uuid2, "b", 100)
    // the ingest's session is a clone of this one and inherits its listeners
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def writePlan = seen.asScala.map(_.executedPlan)
      .find(p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    spark.listenerManager.register(listener)
    try {
      Ingest.transform(spark, "c", csv.toString, dest)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    } finally spark.listenerManager.unregister(listener)
    val plan = writePlan.getOrElse(fail("no write plan was seen"))
    assert(helper.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    assert(helper.collect(plan) { case e: BroadcastExchangeExec => e }.size <= 1, plan.toString)
    assert(helper.collect(plan) { case e: SortExec => e }.size == 1, plan.toString)
    assert(spark.read.parquet(dest).count() == 200)
  }

  test("rows whose time or value fails to parse are dropped; the rest read back") {
    // a space in the path: the header rows' paths and the listed files must
    // still match up despite their different URI spellings
    val csv = Files.createDirectory(Files.createTempDirectory("bad-csv").resolve("csv dir"))
    val dest = Files.createTempDirectory("bad-fact").resolve("d").toString
    val base = java.time.Instant.parse("2016-11-30T00:00:00Z")
    val good = (0 until 10).map(i => (base.plusSeconds(60L * i), i + 0.5))
    val lines = good.map { case (t, v) => s"${t.toString.replace("T", " ").replace("Z", "+00:00")},$v" }
    Files.write(csv.resolve(s"$uuid1.csv"), (Seq("datetime,lbl") ++ lines.take(5) ++
      Seq("not-a-time,2.0", "2016-11-30 01:00:00+00:00,not-a-number") ++ lines.drop(5))
      .mkString("\n").getBytes)
    Ingest.transform(spark, "c", csv.toString, dest)
    val got = spark.read.parquet(dest).select("time", "value").collect()
      .map(r => (r.getTimestamp(0).toInstant, r.getDouble(1)))
    assert(got.toSeq == good)
  }

  test("a UUID-named CSV without a header row fails the ingest, naming the file") {
    val csv = Files.createTempDirectory("nohdr-csv")
    val dest = Files.createTempDirectory("nohdr-fact").resolve("d")
    writeCsv(csv, uuid1, "a", 10)
    Files.write(csv.resolve(s"$uuid2.csv"),
      "2016-11-30 00:00:00+00:00,1.0\n2016-11-30 00:01:00+00:00,2.0".getBytes)
    val e = intercept[IllegalArgumentException](
      Ingest.transform(spark, "c", csv.toString, dest.toString))
    assert(e.getMessage.contains(s"$uuid2.csv") && e.getMessage.contains("found 0"), e.getMessage)
    assert(!Files.exists(dest))
  }

  test("a UUID-named CSV with two header rows fails the ingest, naming the file") {
    val csv = Files.createTempDirectory("twohdr-csv")
    val dest = Files.createTempDirectory("twohdr-fact").resolve("d")
    writeCsv(csv, uuid1, "a", 10)
    Files.write(csv.resolve(s"$uuid2.csv"), Seq("datetime,a", "2016-11-30 00:00:00+00:00,1.0",
      "datetime,b", "2016-11-30 00:01:00+00:00,2.0").mkString("\n").getBytes)
    val e = intercept[IllegalArgumentException](
      Ingest.transform(spark, "c", csv.toString, dest.toString))
    assert(e.getMessage.contains(s"$uuid2.csv") && e.getMessage.contains("found 2"), e.getMessage)
    assert(!Files.exists(dest))
  }

  test("ingest appends into a store whose existing files hold INT96 times") {
    val csv = Files.createTempDirectory("int96-csv")
    val dest = Files.createTempDirectory("int96-fact").resolve("d")
    // Spark's default parquet timestamp type is INT96; a store written
    // before ingest stored µs times looks like this
    val old = spark.newSession()
    old.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val early = java.time.Instant.parse("2016-11-29T00:00:00Z")
    val oldRows = for (u <- Seq(uuid1, uuid2); i <- 0 until 5)
      yield (java.sql.Timestamp.from(early.plusSeconds(60L * i)), i.toDouble, "old", "urn:c/old", "c", u)
    old.createDataFrame(oldRows).toDF("time", "value", "label", "uri", "collection", "uuid")
      .write.partitionBy("collection", "uuid").parquet(dest.toString)
    assert(parquetFiles(dest).forall(f => timeFooter(f)._1.getPrimitiveTypeName == PrimitiveTypeName.INT96))
    writeCsv(csv, uuid1, "a", 20)
    Ingest.transform(spark, "c", csv.toString, dest.toString)
    val got = spark.read.parquet(dest.toString).select("uuid", "time").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant))
    val base = java.time.Instant.parse("2016-11-30T00:00:00Z")
    val expected = oldRows.map(r => (r._6, r._1.toInstant)) ++
      (0 until 20).map(i => (uuid1, base.plusSeconds(60L * i)))
    assert(got.sorted.toSeq == expected.sorted)
  }

  test("the caller's session conf is unchanged, and its runtime time zone parses the CSV") {
    val csv = Files.createTempDirectory("tz-csv")
    val dest = Files.createTempDirectory("tz-fact").resolve("d").toString
    Files.write(csv.resolve(s"$uuid1.csv"),
      "datetime,a\n2016-11-30 00:00:00,1.0\n2016-11-30 00:01:00,2.0".getBytes)
    val tz = "spark.sql.session.timeZone"
    val before = spark.conf.get(tz)
    spark.conf.set(tz, "America/Los_Angeles")
    try {
      val conf = spark.conf.getAll
      Ingest.transform(spark, "c", csv.toString, dest)
      assert(spark.conf.getAll == conf)
    } finally spark.conf.set(tz, before)
    val got = spark.read.parquet(dest).select("time").collect().map(_.getTimestamp(0).toInstant).sorted
    assert(got.toSeq == Seq("2016-11-30T08:00:00Z", "2016-11-30T08:01:00Z").map(java.time.Instant.parse))
  }
}
