package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Flagship-layout benchmark: the reference's actual end-to-end workload
  * (reference: mortar-parquet-client/client.py:95-109) at bench scale.
  *
  * Setup (once, timed as `flagship_ingest`): the events table is written
  * into the reference's partitioned store layout
  * `collection=<c>/uuid=<u>/...parquet` (reference: transform.py:39), and
  * site metadata graphs + a class-hierarchy ontology are emitted as `.ttl`
  * files (reference: setup-graphs.py).
  *
  * Timed flow (`flagship_sparql_scan`): Turtle → SPARQL
  * (`rdf:type/rdfs:subClassOf*` star over the merged ontology) → uuid set →
  * pruned scan with a time-range conjunct. The uuid IN-list lands on the
  * `uuid` PARTITION column, so Spark statically prunes to the matching
  * stream directories without listing the rest — the property that makes
  * this pattern survive a 100 TB store (see PLANS.md for the excerpt).
  */
object Flagship {

  def uuidOf(uid: Long): String = f"00000000-0000-0000-0000-$uid%012d"

  /** Sensors with uid % 5 == 0 are typed as Zone_Air_Temperature_Sensor —
    * the SPARQL star selects exactly these (20% of streams). */
  def isTemp(uid: Long): Boolean = uid % 5 == 0

  val Query: String =
    """PREFIX brick: <https://brickschema.org/schema/Brick#>
      |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
      |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
      |SELECT ?id WHERE {
      |  ?p rdf:type/rdfs:subClassOf* brick:Temperature_Sensor .
      |  ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
      |}""".stripMargin

  private val Ontology: String =
    """@prefix brick: <https://brickschema.org/schema/Brick#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |brick:Zone_Air_Temperature_Sensor rdfs:subClassOf brick:Temperature_Sensor .
      |brick:Temperature_Sensor rdfs:subClassOf brick:Sensor .
      |brick:Generic_Status_Sensor rdfs:subClassOf brick:Status_Sensor .
      |brick:Status_Sensor rdfs:subClassOf brick:Sensor .
      |brick:Sensor rdfs:subClassOf brick:Point .
      |""".stripMargin

  /** Read the driver's events table (ts normalized by [[Tables.events]])
    * shaped as the reference's fact columns. */
  private def factSource(spark: SparkSession, sfDir: String) = {
    val e = Tables.events(spark, sfDir)
    e.select(col("ts").as("time"), col("value"),
      col("event_type").as("label"),
      concat(lit("urn:bench/"), col("event_type")).as("uri"),
      lit("bench").as("collection"),
      format_string("00000000-0000-0000-0000-%012d", col("user_id")).as("uuid"))
  }

  /** Write the partitioned fact layout: one shuffle keyed by the partition
    * columns so each stream lands in few time-sorted files (tight footer
    * stats), not a small-file explosion.
    *
    * Validation is the 100 TB-shaped kind: the row count comes from the
    * SOURCE (one narrow count before the write; the write itself is
    * all-or-nothing — a partial job throws), and readability of the
    * written layout is proven by a statically-PRUNED readback of one
    * stream directory, not a full-store scan — re-counting the whole
    * store after every ingest is O(store) and impossible at scale.
    * `fullValidate = true` restores the exhaustive footer-reading count
    * (used by FlagshipSpec). */
  def ingest(spark: SparkSession, sfDir: String, factRoot: String,
      fullValidate: Boolean = false): Long = {
    val fact = factSource(spark, sfDir)
    val n = fact.count()
    // A dynamic-partition write into one-dir-per-stream is FILE-CREATION
    // bound, not CPU bound: each task opens/closes one parquet writer per
    // stream it holds, serially. Oversubscribing the write stage keeps
    // the layout byte-identical (every stream still hashes to exactly one
    // task → one time-sorted file) while parallelizing the per-file
    // latency — measured at sf0.1/local[32]: 1500 streams, 12.5 s at 32
    // write tasks → 5.0 s at 128 (guide §2.6 idle-capacity; §6 small
    // files). Scale-adaptive: four tasks per core, floored by the
    // session's shuffle partitions, so a tuned production setting is
    // never reduced.
    val writeTasks = math.max(
      spark.sessionState.conf.numShufflePartitions,
      4 * spark.sparkContext.defaultParallelism)
    fact.repartition(writeTasks, col("collection"), col("uuid"))
      .sortWithinPartitions("uuid", "time")
      .write.mode("overwrite").partitionBy("collection", "uuid")
      .parquet(factRoot)
    if (fullValidate) {
      val full = spark.read.parquet(factRoot).count()
      require(full == n, s"ingest wrote $full rows, source had $n")
      full
    } else {
      spotCheck(spark, factRoot)
      n
    }
  }

  /** Ingest's cheap readability check: one stream must read back
    * non-empty. It reads the stream DIRECTORY directly:
    * `read.parquet(factRoot)` triggers partition discovery — a
    * driver-side listing of ALL ~|streams| partition dirs (~3 s at 1500
    * dirs, O(store) at scale) — before any pruning applies; the
    * single-dir read lists one directory. */
  private[graft] def spotCheck(spark: SparkSession, factRoot: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$factRoot/collection=bench/uuid=${uuidOf(5)}")
    require(dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir),
      s"ingest spot-check: stream directory $dir is missing")
    val probe = spark.read.parquet(dir.toString).limit(1).count()
    require(probe > 0, "ingest spot-check: pruned stream readback was empty")
  }

  /** Emit 3 site graphs (streams striped by uid % 3) + the ontology. */
  def writeGraphs(spark: SparkSession, sfDir: String, ttlDir: String): String = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(ttlDir))
    val uids = factSource(spark, sfDir).select("uuid").distinct()
      .collect().map(_.getString(0)).sorted // small: one row per stream
    (0 until 3).foreach { site =>
      val sb = new StringBuilder
      sb ++= "@prefix brick: <https://brickschema.org/schema/Brick#> .\n"
      sb ++= s"@prefix ns: <urn:site$site#> .\n"
      uids.zipWithIndex.filter(_._2 % 3 == site).foreach { case (u, i) =>
        val cls = if (isTemp(i.toLong)) "Zone_Air_Temperature_Sensor"
                  else "Generic_Status_Sensor"
        sb ++= s"""ns:sen$i a brick:$cls ;\n  brick:timeseries [ brick:hasTimeseriesId "$u" ] .\n"""
      }
      Files.write(Paths.get(ttlDir, s"site$site.ttl"),
        sb.toString.getBytes("UTF-8"))
    }
    val ont = Paths.get(ttlDir, "_ontology", "brick.ttl")
    Files.createDirectories(ont.getParent)
    Files.write(ont, Ontology.getBytes("UTF-8"))
    ont.toString
  }

  /** The two bench entries; setup state is shared lazily so the ingest
    * entry (run first) feeds the query entry. */
  def benchEntries(
      spark: SparkSession, sfDir: String): Seq[(String, SparkSession => Long)] = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_flagship_${java.util.UUID.randomUUID()}"
    val factRoot = s"$root/store"
    val ttlDir = s"$root/graphs"
    lazy val engine: Engine = {
      val ont = writeGraphs(spark, sfDir, ttlDir)
      Engine(spark, ttlDir, factRoot, ontology = Some(ont))
    }
    Seq(
      "flagship_ingest" -> ((s: SparkSession) => ingest(s, sfDir, factRoot)),
      "flagship_sparql_scan" -> ((s: SparkSession) =>
        engine.dataSparql(Query,
          start = "2024-01-05T00:00:00Z", end = "2024-01-20T00:00:00Z").count()))
  }
}
