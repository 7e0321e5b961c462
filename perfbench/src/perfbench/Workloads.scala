package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import graft.Engine
import graft.operators.{AnnIndex, DedupIndex, Maintenance, PipelineRoots, Similarity}
import graft.sources.{Ingest, StatsIndex}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Latency samples and correctness results of one run. */
final class Recorder {
  val point = mutable.ArrayBuffer[Double]()
  val bulk = mutable.ArrayBuffer[Double]()
  /** Items the bulk operations delivered, and the time they took. */
  var items = 0.0
  var itemsMs = 0.0
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  /** Count one checked answer; `problem` is None when it is right. */
  def check(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 5) failures += s"$what: $p"
    }
  }

  /** Take over another recorder's checks, not its samples. */
  def absorb(o: Recorder): Unit = {
    attempted += o.attempted
    failed += o.failed
    failures ++= o.failures.take(5 - failures.size)
  }

  /** Run `f`; an exception counts as one failed operation. */
  def guard(what: String)(f: => Unit): Unit =
    try f
    catch { case NonFatal(e) =>
      check(what, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
}

/** A workload: inputs made once, one set-up followed by its first, cold
  * operation, then a closed loop of `step`s. */
trait Workload {
  /** Make every input from the seed (not timed). */
  def generate(): Unit
  /** The set-up calls (timed with [[cold]]). */
  def setup(): Unit
  /** The first operation after set-up. */
  def cold(rec: Recorder): Unit
  /** One operation of the timed phase. */
  def step(rec: Recorder): Unit
  /** Untimed steps after the cold operation, until the JIT has compiled the
    * steady-state paths; their answers are still checked. */
  def warmupSteps: Int
  /** Timed steps a run takes even past the deadline, so that every run's
    * medians are taken over the same steps however fast the host is. */
  def minTimedSteps: Int
  /** Bytes of input the program was given, and bytes it stored for them. */
  def inputBytes: Long
  def storedBytes: Long
}

/** Calls shared by the workloads, each wrapped in its layer's span. */
final class Calls(spark: SparkSession, tracer: Tracer) extends AdaptiveSparkPlanHelper {

  /** Load the CSVs into a fresh store. */
  def ingest(csvDir: Path, store: Path, rows: Long): Unit = {
    tracer.layer("ingest")(Ingest.transform(spark, "bench", csvDir.toString, store.toString))
    tracer.count("ingest", "rows")(rows.toDouble)
    tracer.count("ingest", "files_written")(Fs.parquetFiles(store).toDouble)
  }

  def stats(store: Path, stats: Path): Unit = {
    tracer.layer("stats")(StatsIndex.build(spark, store.toString, stats.toString))
    tracer.count("stats", "files_scanned")(spark.read.parquet(stats.toString).count().toDouble)
    tracer.count("stats", "files_in_store")(Fs.parquetFiles(store).toDouble)
  }

  /** `Engine.apply`, then fill the cached graph (the quads the first query
    * would otherwise load lazily). */
  def open(ttlDir: Path, store: Path, ontology: Path): Engine = {
    val e = tracer.layer("engine_open")(
      Engine(spark, ttlDir.toString, store.toString, Some(ontology.toString)))
    tracer.count("engine_open", "files_listed")(e.fact.inputFiles.length.toDouble)
    val quads = tracer.layer("turtle")(e.quads.count())
    tracer.count("turtle", "quads")(quads.toDouble)
    e
  }

  /** Run `q` through `dataSparql` and deliver its rows to the client, as
    * the paper's client hands a query's readings to the analyst; returns
    * the checksum of the rows and the latency in ms. A lookup collects its
    * few rows; a scan streams its rows one partition at a time, the way
    * `Engine.dataSparqlBatches` delivers a large result in bounded driver
    * memory. */
  def query(engine: Engine, q: Gen.Query): (Gen.Check, Double) = {
    val t0 = System.nanoTime()
    val (df, consumed, got) = tracer.op(q.kind) {
      val df = tracer.layer("sparql")(engine.dataSparql(q.sparql, q.sites, q.start, q.end))
      val d = df.select(unix_seconds(col("time")), col("value"))
      val got = tracer.layer("scan") {
        val rows = if (q.kind == "scan") d.toLocalIterator().asScala else d.collect().iterator
        rows.foldLeft(Gen.EmptyCheck) { (c, r) =>
          val t = r.getLong(0)
          c + Gen.Check(1L, math.round(r.getDouble(1) * 4), t, t, t)
        }
      }
      (df, d, got)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.count("sparql", "ids")(idsIn(df).toDouble)
    tracer.count("scan", "files_planned")(scanMetric(consumed, "numFiles", _ => true))
    tracer.count("scan", "rows_read")(scanMetric(consumed, "numOutputRows", _ => true))
    tracer.count("scan", "rows_returned")(got.rows.toDouble)
    (got, ms)
  }

  /** Stream ids the scan was planned with: the IN-list on `uuid`, or the
    * rows of a local id relation joined to the fact table. */
  def idsIn(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case i: In if i.list.nonEmpty => i.list.size.toLong
        case s: InSet => s.hset.size.toLong
      }).sum + (p match {
        case l: LocalRelation if l.output.exists(_.name == "uuid") => l.data.size.toLong
        case _ => 0L
      })
    }.sum

  /** Sum of a file-scan metric over the executed plan of `ds`, for scans
    * whose root path satisfies `path`. */
  def scanMetric(ds: Dataset[_], metric: String, path: String => Boolean): Double = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    scans(ds.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(r => path(r.toString)))
      .flatMap(_.metrics.get(metric)).map(_.value.toDouble).sum
  }

  def checkQuery(q: Gen.Query, got: Gen.Check): Option[String] =
    if (got == q.expect) None
    else Some(s"${q.kind} over ${q.streams} streams ${q.start}..${q.end}: got $got, expected ${q.expect}")
}

object Fs {
  def parquetFiles(root: Path): Long =
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }

  def bytes(root: Path): Long =
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}

/** Analyst traffic: lookups and scans through `dataSparql` over a store
  * built the paper's way. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, seed: Long, work: Path)
    extends Workload {
  import QueryWorkload._
  private val calls = new Calls(spark, tracer)
  private val rng = new SplittableRandom(seed)
  private val dataSpan = RowsPerStream.toLong * IntervalS
  private val inputs = work.resolve("inputs")
  private val csvDir = inputs.resolve("csv")
  private val ttlDir = inputs.resolve("ttl")
  private val ontology = inputs.resolve("brick.ttl")
  private val store = work.resolve("store")
  private var sites: IndexedSeq[Gen.Site] = _
  private var coldQuery: Gen.Query = _
  private var mix: SplittableRandom = _
  private var steps = 0
  private var csvBytes = 0L
  private var engine: Engine = _

  def warmupSteps: Int = WarmupSteps
  def minTimedSteps: Int = MinTimedSteps

  def generate(): Unit = {
    sites = (0 until Sites).map(i =>
      Gen.site(rng.split(), s"site$i", Ahus, VavsPerAhu, RowsPerStream, IntervalS))
    sites.foreach { s => csvBytes += Gen.writeCsvs(s, csvDir); Gen.writeTtl(s, ttlDir) }
    java.nio.file.Files.write(ontology, Gen.OntologyTtl.getBytes("UTF-8"))
    coldQuery = Gen.scan(rng.split(), sites, dataSpan)
    mix = rng.split()
  }

  def setup(): Unit = {
    calls.ingest(csvDir, store, sites.map(_.streams.size.toLong * RowsPerStream).sum)
    calls.stats(store, work.resolve("stats"))
    engine = calls.open(ttlDir, store, ontology)
  }

  def cold(rec: Recorder): Unit = rec.guard("cold scan") {
    rec.check("cold scan", calls.checkQuery(coldQuery, calls.query(engine, coldQuery)._1))
  }

  /** Lookups and scans in turn, each drawn fresh from the seeded stream. */
  def step(rec: Recorder): Unit = {
    val q = if (steps % 2 == 0) Gen.lookup(mix, sites, dataSpan) else Gen.scan(mix, sites, dataSpan)
    steps += 1
    rec.guard(q.kind) {
      val (got, ms) = calls.query(engine, q)
      val problem = calls.checkQuery(q, got)
      rec.check(q.kind, problem)
      if (problem.isEmpty) {
        if (q.kind == "lookup") rec.point += ms
        else { rec.bulk += ms; rec.items += got.rows; rec.itemsMs += ms }
      }
    }
  }

  def inputBytes: Long = csvBytes
  def storedBytes: Long = Fs.bytes(store)
}

object QueryWorkload {
  /** Two sites, each one AHU feeding six VAV boxes: 64 stream directories.
    * The store grows in rows, not directories: 90 days of 5-minute readings
    * per stream make a scan deliver about 1.24 M rows, enough for the scan
    * layer to outweigh SPARQL in a scan's latency, while the cold set-up
    * stays near 25 s. */
  val Sites = 2
  val Ahus = 1
  val VavsPerAhu = 6
  val RowsPerStream = 25920
  val IntervalS = 300
  /** Untimed queries: the JIT is still compiling the driver-side planning
    * code through the first few. */
  val WarmupSteps = 8
  /** At least one lookup and one scan are timed. */
  val MinTimedSteps = 2
}

/** The LLM-data operators run as a day-2 loop in one session: admit a
  * crawl batch against the indexes, append, maintain, grow and serve the
  * ANN index. */
final class CurationWorkload(spark: SparkSession, tracer: Tracer, seed: Long, work: Path)
    extends Workload {
  import CurationWorkload._
  import spark.implicits._
  private val rng = new SplittableRandom(seed)
  private val calls = new Calls(spark, tracer)
  private val inputs = work.resolve("inputs")
  private var cur: Gen.Curation = _
  private var first: Gen.Batch = _
  private var firstUsed = false
  private var textBytes = 0L
  private var vecCount = 0L

  def warmupSteps: Int = WarmupSteps
  def minTimedSteps: Int = MinTimedSteps

  private def p(name: String): String = work.resolve(name).toString
  private def docsDf(ds: Seq[Gen.Doc]): DataFrame = ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  private def vecsDf(vs: Seq[Gen.Vec]): DataFrame = vs.map(v => (v.id, v.v)).toDF("vec_id", "embedding")

  def generate(): Unit = {
    cur = Gen.curation(rng.split(), CorpusDocs, Vocab, Dim, Clusters, BatchDocs, ExactShare,
      NearShare, QueryBatches, QueriesPerBatch)
    docsDf(cur.corpus).write.parquet(inputs.resolve("corpus").toString)
    vecsDf(cur.vectors).write.parquet(inputs.resolve("vectors").toString)
    textBytes = cur.corpus.map(_.text.length.toLong).sum
    vecCount = cur.vectors.size
    first = cur.nextBatch()
  }

  def setup(): Unit = {
    val corpus = spark.read.parquet(inputs.resolve("corpus").toString)
    val emb = spark.read.parquet(inputs.resolve("vectors").toString)
    tracer.layer("dedup") {
      DedupIndex.writeExactIndex(corpus, "text", "doc_id", p("exact"))
      DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", p("minhash"))
      corpus.write.parquet(p("store"))
    }
    tracer.layer("ann") {
      val cents = emb.filter(pmod(col("vec_id"), lit(Similarity.autoCentroidMod(emb))) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      AnnIndex.writeIvfPqIndex(emb, cents, Similarity.pqCodebook(emb, PqM), PqM, Dim, p("ann"),
        twoLevel = true)
    }
  }

  private def exactAdmit(b: Gen.Batch, rec: Recorder): Map[Long, String] = {
    val got = tracer.layer("dedup")(
      DedupIndex.admitAgainstIndex(docsDf(b.docs), "text", "doc_id", p("exact"))
        .select("doc_id", "status", "keep_id").collect())
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val wrong = b.exactKeep.filter { case (id, e) => !got.get(id).contains(e) }
    rec.check("exact admit", if (wrong.isEmpty && got.size == b.docs.size) None
      else Some(s"${wrong.size} of ${b.docs.size} statuses wrong, e.g. " +
        wrong.take(2).map { case (id, e) => s"$id: got ${got.get(id)}, expected $e" }.mkString("; ")))
    got.map { case (id, (s, _)) => id -> s }
  }

  def cold(rec: Recorder): Unit = rec.guard("cold exact admit")(exactAdmit(first, rec))

  /** One crawl batch: admission, append and tick as one timed operation,
    * then the ANN append and the batch's query batches, each query batch
    * timed alone. A sample is kept only when every check inside it passed;
    * the batch's docs count as delivered over the whole batch's time. */
  def step(rec: Recorder): Unit = {
    val tb = System.nanoTime()
    val b = if (!firstUsed) { firstUsed = true; first } else cur.nextBatch()
    textBytes += b.docs.map(_.text.length.toLong).sum
    vecCount += b.vecs.size
    val failedBefore = rec.failed
    rec.guard("curation batch") {
      val t0 = System.nanoTime()
      tracer.op("admit") {
        val exact = exactAdmit(b, rec)
        val near = tracer.layer("dedup")(
          DedupIndex.admitNearDupAgainstIndex(docsDf(b.docs), "text", "doc_id",
            p("minhash"), p("store")).select("doc_id", "status").collect())
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val found = b.dupIds.count(id => near.get(id).contains("dup_corpus"))
        val recall = found.toDouble / math.max(1, b.dupIds.size)
        val falseDup = b.docs.count(d => !b.dupIds(d.id) && !near.get(d.id).contains("admitted"))
        rec.check("near-dup admit",
          if (recall >= NearDupRecallFloor && falseDup == 0) None
          else Some(f"recall $recall%.3f, $falseDup novel docs not admitted"))
        val admitted = b.docs.filter(d => exact.get(d.id).contains("admitted") &&
          near.get(d.id).contains("admitted"))
        tracer.layer("dedup") {
          val adm = docsDf(admitted)
          DedupIndex.appendToIndex(adm, "text", "doc_id", p("exact"), "exact")
          DedupIndex.appendToIndex(adm, "text", "doc_id", p("minhash"), "minhash")
          adm.write.mode("append").parquet(p("store"))
        }
        tracer.count("dedup", "admitted")(admitted.size.toDouble)
        tracer.count("dedup", "dup_corpus")(near.values.count(_ == "dup_corpus").toDouble)
        val tick = tracer.layer("maint")(
          Maintenance.pipelineTick(spark,
            PipelineRoots(exactIndex = Some(p("exact")), minhashIndex = Some(p("minhash")),
              docStore = Some(p("store"))),
            policy = Maintenance.TickPolicy(maxStoreFiles = MaxStoreFiles))
            .select("action", "performed").collect())
        tracer.count("maint", "actions_performed")(tick.count(_.getBoolean(1)).toDouble)
        val bad = tick.map(_.getString(0)).filter(_.endsWith("_failed"))
        rec.check("pipeline tick", if (bad.isEmpty) None else Some(bad.mkString(",")))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (rec.failed == failedBefore) rec.bulk += ms
    }
    rec.guard("ann append")(tracer.layer("ann")(
      AnnIndex.appendToIvfPqIndex(vecsDf(b.vecs), p("ann"), PqM, Dim, twoLevel = true)))
    b.queries.foreach { qs => rec.guard("ann query") {
      val t0 = System.nanoTime()
      val (ds, got) = tracer.op("ann_query") {
        tracer.layer("ann") {
          val ds = AnnIndex.queryIvfPqIndex(vecsDf(qs), p("ann"), PqM, Dim, K, NProbe,
            twoLevel = true).select("qid", "nid")
          (ds, ds.collect())
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.count("ann", "lists_probed")(
        calls.scanMetric(ds, "numPartitions", _.endsWith("/codes")))
      val byQ = got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = qs.map { q =>
        val truth = Gen.topK(cur.knownVectors, q, K)
        truth.count(byQ.getOrElse(q.id, Set.empty[Long])).toDouble / K
      }.sum / qs.size
      System.err.println(f"[perfbench] ann recall@$K $recall%.3f")
      rec.check("ann query", if (recall >= AnnRecallFloor) None
        else Some(f"recall@$K $recall%.3f < $AnnRecallFloor"))
      if (recall >= AnnRecallFloor) rec.point += ms
    } }
    if (rec.failed == failedBefore) {
      rec.items += b.docs.size
      rec.itemsMs += (System.nanoTime() - tb) / 1e6
    }
  }

  def inputBytes: Long = textBytes + vecCount * Dim * 4L
  def storedBytes: Long = Seq("exact", "minhash", "store", "ann").map(n => Fs.bytes(work.resolve(n))).sum
}

object CurationWorkload {
  /** A 1,000-doc corpus of 40–60-word texts over a 4,000-word vocabulary,
    * with 32-d embeddings drawn around 24 cluster centres. */
  val CorpusDocs = 1000
  val Vocab = 4000
  val Dim = 32
  val Clusters = 24
  /** Docs per crawl batch, and the shares of exact re-fetches and edited
    * copies in it; the rest is novel. The shares are assumed: no crawl
    * trace is at hand to take them from. */
  val BatchDocs = 200
  val ExactShare = 0.15
  val NearShare = 0.15
  /** Query batches served per crawl batch, of this many queries each. */
  val QueryBatches = 1
  val QueriesPerBatch = 16
  val K = 10
  val NProbe = 4
  val PqM = 8
  /** Store files the maintenance tick lets accumulate before compacting:
    * none, so every tick compacts the exact and minhash indexes and the doc
    * store, and every batch does the same work. With a budget of 8 the tick
    * compacted on every other batch, batch times alternated by a fifth, and
    * a run's median depended on how many batches fell in its window. */
  val MaxStoreFiles = 0L
  /** Near-dup admission must flag this share of the re-fetches and edited
    * copies: two replaced words keep word-3-gram Jaccard above 0.7, so the
    * LSH bands should find nearly all of them. */
  val NearDupRecallFloor = 0.9
  /** IVF-PQ with 8 sub-quantizers over 32-d vectors and 4 probes is a
    * coarse index; the floor catches a broken index, not a weak one. */
  val AnnRecallFloor = 0.3
  /** Untimed batches. Batches keep getting faster for about four batches
    * (the JIT), and each takes 7–9 s, so the warm-up cannot wait that out.
    * Instead every run times at least the second to the fourth batch after
    * the cold one, so a slow host does not report the median of two
    * earlier, slower batches where a fast one reports that of three. */
  val WarmupSteps = 1
  val MinTimedSteps = 3
}
