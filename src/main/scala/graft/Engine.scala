package graft

import graft.plans.BoundParams
import graft.sources.Turtle
import graft.sparql.{BgpPlanner, LocalBgp, Sparql}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The query client — Spark-native equivalent of the reference `Client`
  * (reference: mortar-parquet-client/client.py:14-109).
  *
  * Holds the two worlds the reference joins:
  *   - `quads`: the building-metadata graph store (one named graph per site);
  *   - `fact`: the hive-partitioned time-series table
  *     (layout `collection=<c>/uuid=<u>/...parquet`).
  *
  * The flagship call `dataSparql` runs the two-level query: SPARQL over the
  * graphs → set of stream UUIDs → pushed-down Parquet scan
  * (`uuid IN (...) AND time BETWEEN ...`) — reference: client.py:65-72.
  *
  * Scale design. The graph is building metadata, small next to the fact
  * table, so the first level runs on the driver whenever it can: on first
  * use the engine collects the quads into a driver-resident index
  * (per-predicate forward and reverse adjacency for the union graph and
  * each named graph, [[graft.sparql.LocalBgp]]) — but only when the graph
  * is under [[graft.plans.DriverSide]]'s one cutoff (200,000 quads), the
  * same one that keeps closures and connected components on the driver,
  * because the index holds the whole graph in driver memory. A count of
  * the cached quads decides before any row is shipped, so a graph over
  * the cutoff pays one count. Conjunctive queries (a SELECT whose WHERE
  * is only triple patterns and property paths) are then answered from the
  * index in-process, like the reference's oxigraph store, and no Spark job
  * runs between the query and the scan. Every other construct, a graph
  * over the cutoff, or an evaluation whose intermediate solutions pass
  * `DriverSide.OutputLimit` plans through [[BgpPlanner]] as a Catalyst
  * plan over the cached quads. The real Mortar graphs (45 sites with the
  * Brick ontology merged into every named graph) exceed the cutoff and
  * take that Spark path.
  *
  * The UUID set is then inlined as an IN-list literal — a deliberate
  * choice (matching the reference) because it enables STATIC partition
  * pruning: the scan never lists, opens or reads a single file of a
  * non-matching stream, which is what makes the pattern survive a 100 TB
  * store. Only when the id set grows beyond `Engine.InListLimit` (100,000
  * ids) do we fall back to a broadcast left-semi join (dynamic partition pruning handles
  * the rest). The fact table is never collected.
  *
  * The time window reaches the scan's generated code as bound parameters
  * ([[graft.plans.BoundParams]], installed in the session by every
  * engine): Spark would otherwise inline `start` and `end` into the Java
  * source of the scan's codegen stage, so each new window would compile a
  * new class. With them bound, all calls of one plan shape share one
  * compiled class, while the Parquet pushdown still receives the literal
  * values and skips row groups and pages as before. What stays inlined:
  * `dataSparql`'s `limit`, the uuid IN-list (a partition filter, which
  * never reaches generated code) and any literal outside a comparison.
  */
final class Engine(
    val spark: SparkSession,
    val quads: DataFrame,
    val fact: DataFrame) {

  BoundParams.install(spark)

  /** Union-of-graphs triples, deduped once and cached: every BGP atom of
    * every un-scoped planned query re-reads this relation. */
  private lazy val unionTriples: DataFrame =
    quads.select("s", "p", "o").distinct().cache()

  /** The graph on the driver, built on first use; None when the graph is
    * over the cutoff and every query plans through BgpPlanner. */
  private lazy val graphIndex: Option[LocalBgp.Index] = LocalBgp.Index.build(quads)

  /** Run a SPARQL-subset query. With `sites`, each site's named graph
    * `urn:{site}#` is queried separately and results are concatenated with a
    * `site` column (reference: client.py:40-63); without, the default-union
    * graph is queried (reference: setup-graphs.py:14).
    *
    * Every result column is a string — the reference stringifies every RDF
    * term (client.py:43,53). */
  def sparql(query: String, sites: Seq[String] = Nil): DataFrame = {
    val q = Sparql.parse(query)
    resolveLocally(q, sites) match {
      case Some((cols, rows)) =>
        spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq)).asJava,
          StructType(cols.map(StructField(_, StringType))))
      case None => plan(q, sites)
    }
  }

  private def plan(q: Sparql.Query, sites: Seq[String]): DataFrame =
    if (sites.isEmpty) {
      // FROM / FROM NAMED build their own default graph from the quads
      if (q.fromGraphs.nonEmpty || q.fromNamed.nonEmpty) BgpPlanner.evaluate(quads, q)
      // quads threaded alongside the cached union relation so the GRAPH
      // keyword can re-scope mid-query
      else BgpPlanner.evaluateTriples(unionTriples, q, Some(quads))
    } else sites.map { site =>
      BgpPlanner.evaluate(quads, q, Some(s"urn:$site#"))
        .withColumn("site", lit(site))
    }.reduce(_.unionByName(_))

  /** Columns and rows of `q` from the driver-resident index, shaped as
    * [[plan]]'s result; None when the query, the graph or the evaluation
    * is outside what the index answers. */
  private def resolveLocally(q: Sparql.Query,
      sites: Seq[String]): Option[(Seq[String], Seq[Array[String]])] =
    // a projected ?site would be overwritten by the planner's site column
    if (!LocalBgp.supports(q) || (sites.nonEmpty && q.selected.contains("site"))) None
    else graphIndex.flatMap { index =>
      if (sites.isEmpty) LocalBgp.evaluate(index.union, q).map((q.selected, _))
      else {
        val perSite = sites.map(site =>
          LocalBgp.evaluate(index.graph(s"urn:$site#"), q).map(_.map(_ :+ site)))
        if (perSite.exists(_.isEmpty)) None
        else Some((q.selected :+ "site", perSite.flatMap(_.get)))
      }
    }

  /** Time-series data for an explicit set of stream ids (the reference's
    * TODO'd "id -> data" method, client.py:13). */
  def data(
      uuids: Seq[String],
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd): DataFrame = {
    if (uuids.isEmpty) return fact.limit(0)
    val timePred = col("time") >= to_timestamp(lit(start)) &&
      col("time") <= to_timestamp(lit(end))
    if (uuids.lengthCompare(Engine.InListLimit) <= 0)
      fact.filter(col("uuid").isin(uuids: _*) && timePred)
    else {
      import spark.implicits._
      val ids = uuids.toDF("uuid")
      fact.filter(timePred).join(broadcast(ids), Seq("uuid"), "left_semi")
    }
  }

  /** The flagship: SPARQL → uuid set → pruned scan. Mirrors
    * `Client.data_sparql` (client.py:95-109) including its quirk of sweeping
    * EVERY result column into the id set (client.py:69 — non-UUID strings
    * match no partition, so this is harmless and faithful). Our `limit` is
    * exact, unlike the reference's batch-granular overshoot (client.py:104;
    * conscious delta, SURVEY.md §7.4). */
  def dataSparql(
      query: String,
      sites: Seq[String] = Nil,
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd,
      limit: Long = -1L): DataFrame = {
    val q = Sparql.parse(query)
    val ids = resolveLocally(q, sites) match {
      case Some((cols, rows)) =>
        val binding = cols.indices.filterNot(cols(_) == "site")
        rows.iterator.flatMap(r => binding.map(r(_))).distinct.toSeq
      case None =>
        val res = plan(q, sites)
        val bindingCols = res.columns.filterNot(_ == "site")
        res
          .select(explode(array(bindingCols.map(c => col(c).cast("string")): _*)).as("id"))
          .distinct()
          .collect()
          .map(_.getString(0))
          .toSeq
    }
    val df = data(ids, start, end)
    if (limit >= 0) df.limit(math.min(limit, Int.MaxValue.toLong).toInt) else df
  }

  /** Stream query results into CSV files under `path`, header-free append —
    * reference: `data_sparql_to_csv` (client.py:74-80). Returns THIS call's
    * row count (the reference counts per call, client.py:78-80 — counting
    * by re-reading the directory would include pre-existing rows when the
    * path already holds prior output). */
  def dataSparqlToCsv(
      query: String,
      path: String,
      sites: Seq[String] = Nil,
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd): Long = {
    val df = dataSparql(query, sites, start, end).persist()
    try {
      val n = df.count()
      df.write.mode("append").option("header", "false").csv(path)
      n
    } finally df.unpersist()
  }

  /** Incremental batch delivery — parity with the reference's `to_batches`
    * generator (client.py:65-72), which yields Arrow record batches one at
    * a time instead of materializing the result. Partitions are fetched to
    * the driver ONE AT A TIME (`toLocalIterator`), so driver memory is
    * bounded by a single partition regardless of total result size; the
    * cluster-side plan is identical to `dataSparql`. */
  def dataSparqlBatches(
      query: String,
      sites: Seq[String] = Nil,
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd,
      batchRows: Int = 10000): Iterator[Seq[Row]] = {
    dataSparql(query, sites, start, end)
      .toLocalIterator().asScala.grouped(batchRows)
  }

  /** Parquet sink for query results — the analogue of the reference's
    * DuckDB staging sink (client.py:82-93), which stages batches as parquet;
    * any engine (DuckDB included) can scan the output directly. */
  def dataSparqlToParquet(
      query: String,
      path: String,
      sites: Seq[String] = Nil,
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd): Unit =
    dataSparql(query, sites, start, end).write.mode("append").parquet(path)

  /** DuckDB sink parity (reference: data_sparql_to_duckdb, client.py:82-93):
    * the reference stages every batch as parquet and issues per-batch
    * `INSERT INTO` over a live connection, so after N calls the table holds
    * all N results. We stage parquet the same way (mode=append) and emit
    * idempotent DDL alongside it (`<path>/load.sql`): `CREATE OR REPLACE
    * ... AS parquet_scan(dir)` rebuilds the table from ALL staged batches —
    * re-running load.sql after further appends reflects them (a plain
    * `CREATE IF NOT EXISTS` would silently no-op and lose later batches). */
  def dataSparqlToDuckDb(
      query: String,
      path: String,
      table: String,
      sites: Seq[String] = Nil,
      start: String = Engine.DefaultStart,
      end: String = Engine.DefaultEnd): Unit = {
    dataSparqlToParquet(query, path + "/data", sites, start, end)
    val ddl =
      s"CREATE OR REPLACE TABLE $table AS SELECT * FROM parquet_scan('$path/data/*.parquet');\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "load.sql"), ddl.getBytes)
  }
}

object Engine {
  /** Sentinel defaults for the unbounded time range (reference: client.py:67-68). */
  val DefaultStart = "2000-01-01T00:00:00Z"
  val DefaultEnd = "2100-01-01T00:00:00Z"

  /** Ids up to which [[Engine.data]] filters with an IN-list literal. */
  private val InListLimit = 100000

  /** Build an engine from a directory of `.ttl` site graphs and the root of
    * the partitioned fact table (reference: Client.__init__, client.py:15-31).
    * The quads table is cached: the metadata graph is small relative to the
    * fact table and every query replans over it (the reference keeps it in
    * an on-disk store for the same reason).
    *
    * `ontology`: path to an ontology `.ttl` merged into every named graph
    * (reference: setup-graphs.py:22 — without it, site-scoped
    * `subClassOf*` queries can't see the class hierarchy). */
  def apply(spark: SparkSession, ttlDir: String, factRoot: String,
      ontology: Option[String] = None): Engine = {
    val quads = Turtle.loadGraphs(spark, ttlDir, ontology).cache()
    val fact = spark.read.parquet(factRoot)
    new Engine(spark, quads, fact)
  }

  /** Point the session's Hadoop S3A client at a custom endpoint before
    * reading an `s3a://` fact root — parity with the reference's
    * `endpoint_override`/region S3FileSystem setup (client.py:26). */
  def configureS3(
      spark: SparkSession,
      endpoint: Option[String] = None,
      region: Option[String] = None,
      pathStyleAccess: Boolean = true): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    endpoint.foreach(conf.set("fs.s3a.endpoint", _))
    region.foreach(conf.set("fs.s3a.endpoint.region", _))
    conf.set("fs.s3a.path.style.access", pathStyleAccess.toString)
  }
}
