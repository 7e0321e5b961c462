package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator and its ground truth.
  *
  * Everything the program under test receives is made here from one seed:
  * Brick-style site graphs, the class ontology, one CSV per stream, a text
  * corpus with embeddings, curation batches and the query streams. The
  * answers each operation must return are computed here too, in plain
  * Scala, so no check depends on the engine it checks.
  *
  * Values are quarter-integers and times whole seconds, so sums of them are
  * exact in a double and checksums compare with `==`. */
object Gen {

  val Brick = "https://brickschema.org/schema/Brick#"

  /** class → superclass, written out as the ontology file. Every class
    * reaches `Point`, so the scans' `Point` class star matches every stream. */
  val Parent: Map[String, String] = Map(
    "Zone_Air_Temperature_Sensor" -> "Air_Temperature_Sensor",
    "Discharge_Air_Temperature_Sensor" -> "Air_Temperature_Sensor",
    "Air_Temperature_Sensor" -> "Temperature_Sensor",
    "Temperature_Sensor" -> "Sensor",
    "Supply_Air_Flow_Sensor" -> "Air_Flow_Sensor",
    "Air_Flow_Sensor" -> "Flow_Sensor",
    "Flow_Sensor" -> "Sensor",
    "Sensor" -> "Point",
    "Zone_Air_Temperature_Setpoint" -> "Air_Temperature_Setpoint",
    "Air_Temperature_Setpoint" -> "Temperature_Setpoint",
    "Temperature_Setpoint" -> "Setpoint",
    "Setpoint" -> "Point",
    "Damper_Position_Command" -> "Position_Command",
    "Position_Command" -> "Command",
    "Command" -> "Point",
    "Occupancy_Status" -> "Status",
    "Fan_Status" -> "Status",
    "Status" -> "Point")

  val OntologyTtl: String = {
    val sb = new StringBuilder
    sb ++= s"@prefix brick: <$Brick> .\n"
    sb ++= "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
    Parent.toSeq.sorted.foreach { case (c, p) =>
      sb ++= s"brick:$c rdfs:subClassOf brick:$p .\n"
    }
    sb.toString
  }

  val VavPoints: IndexedSeq[(String, String)] = IndexedSeq(
    "zat" -> "Zone_Air_Temperature_Sensor",
    "zsp" -> "Zone_Air_Temperature_Setpoint",
    "saf" -> "Supply_Air_Flow_Sensor",
    "dmp" -> "Damper_Position_Command",
    "occ" -> "Occupancy_Status")
  val AhuPoints: IndexedSeq[(String, String)] = IndexedSeq(
    "dat" -> "Discharge_Air_Temperature_Sensor",
    "fan" -> "Fan_Status")

  /** Readings start here (2024-01-01T00:00:00Z). */
  val BaseEpoch: Long = 1704067200L

  private val CsvTime = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val IsoTime = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  def csvTime(t: Long): String = LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC).format(CsvTime)
  def isoTime(t: Long): String = LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC).format(IsoTime)

  def uuid(rng: SplittableRandom): String =
    new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  // ------------------------------------------------------------------
  // Mortar side: sites, streams, queries
  // ------------------------------------------------------------------

  /** Row count, value sum (in quarters), time sum and time range (epoch
    * seconds) of a set of readings: the checksum every query is checked by. */
  final case class Check(rows: Long, quarterSum: Long, secSum: Long, minT: Long, maxT: Long) {
    def +(o: Check): Check = Check(rows + o.rows, quarterSum + o.quarterSum,
      secSum + o.secSum, math.min(minT, o.minT), math.max(maxT, o.maxT))
  }
  val EmptyCheck: Check = Check(0L, 0L, 0L, Long.MaxValue, Long.MinValue)

  final class Stream(val uuid: String, val site: String, val equip: String,
      val tag: String, val cls: String, val t0: Long, val dt: Int,
      val quarters: Array[Int]) {
    def time(i: Int): Long = t0 + i.toLong * dt
    def label: String = s"$equip/$tag"

    /** Checksum of the readings with `lo <= time <= hi`. */
    def window(lo: Long, hi: Long): Check = {
      var rows, qs, ss = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      var i = 0
      while (i < quarters.length) {
        val t = time(i)
        if (t >= lo && t <= hi) {
          rows += 1; qs += quarters(i); ss += t
          if (t < mn) mn = t
          if (t > mx) mx = t
        }
        i += 1
      }
      Check(rows, qs, ss, mn, mx)
    }

    def csv: String = {
      val sb = new StringBuilder(quarters.length * 28)
      sb ++= "datetime," ++= label
      var i = 0
      while (i < quarters.length) {
        val q = quarters(i)
        sb += '\n' ++= csvTime(time(i)) += ',' ++= (q / 4).toString += '.' ++=
          Gen.QuarterFrac(q % 4)
        i += 1
      }
      sb += '\n'
      sb.toString
    }
  }
  private val QuarterFrac = Array("0", "25", "5", "75")

  final class Site(val name: String, val ahus: Int, val vavsPerAhu: Int,
      val streams: IndexedSeq[Stream]) {
    def iri(local: String): String = s"<urn:$name#$local>"

    def ttl: String = {
      val sb = new StringBuilder
      sb ++= s"@prefix brick: <$Brick> .\n@prefix ns: <urn:$name#> .\n"
      for (a <- 0 until ahus) {
        val vavs = (0 until vavsPerAhu).map(v => s"ns:vav_${a}_$v").mkString(" , ")
        sb ++= s"ns:ahu_$a a brick:AHU ;\n  brick:feeds $vavs .\n"
        for (v <- 0 until vavsPerAhu) sb ++= s"ns:vav_${a}_$v a brick:VAV .\n"
      }
      streams.foreach { s =>
        sb ++= s"ns:${s.equip} brick:hasPoint ns:${s.equip}_${s.tag} .\n"
        sb ++= s"ns:${s.equip}_${s.tag} a brick:${s.cls} ;\n" +
          s"""  brick:timeseries [ brick:hasTimeseriesId "${s.uuid}" ] .""" + "\n"
      }
      sb.toString
    }
  }

  /** One site: `ahus` air handlers, each feeding `vavsPerAhu` boxes; every
    * box carries the five VAV points and every AHU the two AHU points. Each
    * stream has `rows` readings every `dt` seconds from a random offset
    * inside the first interval; values are a bounded random walk. */
  def site(rng: SplittableRandom, name: String, ahus: Int, vavsPerAhu: Int,
      rows: Int, dt: Int): Site = {
    val out = IndexedSeq.newBuilder[Stream]
    def stream(equip: String, tag: String, cls: String): Stream = {
      val q = new Array[Int](rows)
      var v = 40 + rng.nextInt(3000)
      var i = 0
      while (i < rows) {
        v = math.max(0, math.min(3999, v + rng.nextInt(-12, 13)))
        q(i) = v; i += 1
      }
      new Stream(uuid(rng), name, equip, tag, cls, BaseEpoch + rng.nextInt(dt), dt, q)
    }
    for (a <- 0 until ahus) {
      AhuPoints.foreach { case (t, c) => out += stream(s"ahu_$a", t, c) }
      for (v <- 0 until vavsPerAhu)
        VavPoints.foreach { case (t, c) => out += stream(s"vav_${a}_$v", t, c) }
    }
    new Site(name, ahus, vavsPerAhu, out.result())
  }

  /** Write `<uuid>.csv` per stream into `dir`; returns the bytes written. */
  def writeCsvs(site: Site, dir: Path): Long = {
    Files.createDirectories(dir)
    site.streams.iterator.map { s =>
      val b = s.csv.getBytes(UTF_8)
      Files.write(dir.resolve(s"${s.uuid}.csv"), b)
      b.length.toLong
    }.sum
  }

  def writeTtl(site: Site, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${site.name}.ttl"), site.ttl.getBytes(UTF_8))
  }

  /** One query of the analyst mix, with its expected checksum. */
  final case class Query(kind: String, sparql: String, sites: Seq[String],
      lo: Long, hi: Long, expect: Check, streams: Int) {
    def start: String = isoTime(lo)
    def end: String = isoTime(hi)
  }

  private val Prefixes =
    s"""PREFIX brick: <$Brick>
       |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
       |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
       |""".stripMargin

  def expect(streams: Iterable[Stream], lo: Long, hi: Long): Check =
    streams.foldLeft(EmptyCheck)((c, s) => c + s.window(lo, hi))

  /** Lookup: the zone temperature sensors behind one AHU, joined through
    * `feeds` and `hasPoint` in that site's graph, over 12 hours (at most
    * half the data span). */
  def lookup(rng: SplittableRandom, sites: IndexedSeq[Site], span: Long): Query = {
    val s = sites(rng.nextInt(sites.size))
    val a = rng.nextInt(s.ahus)
    val len = math.min(12 * 3600L, span / 2)
    val lo = BaseEpoch + rng.nextLong(span - len)
    val q = Prefixes +
      s"""SELECT ?id WHERE {
         |  ${s.iri(s"ahu_$a")} brick:feeds ?v .
         |  ?v brick:hasPoint ?p .
         |  ?p rdf:type brick:Zone_Air_Temperature_Sensor .
         |  ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
         |}""".stripMargin
    val hit = s.streams.filter(x =>
      x.equip.startsWith(s"vav_${a}_") && x.cls == "Zone_Air_Temperature_Sensor")
    Query("lookup", q, Seq(s.name), lo, lo + len, expect(hit, lo, lo + len), hit.size)
  }

  /** Every point of one class tree (`rdf:type/rdfs:subClassOf*`). */
  def classStar(cls: String): String = Prefixes +
    s"""SELECT ?id WHERE {
       |  ?p rdf:type/rdfs:subClassOf* brick:$cls .
       |  ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
       |}""".stripMargin

  /** Scan: every point of every site, by the class star over `brick:Point`
    * on the union graph, over three quarters of the data span. The window
    * length is fixed, so every scan delivers nearly the same number of rows
    * and only the window's position varies with the seed. */
  def scan(rng: SplittableRandom, sites: IndexedSeq[Site], span: Long): Query = {
    val len = span * 3 / 4
    val lo = BaseEpoch + rng.nextLong(span - len + 1)
    val hit = sites.flatMap(_.streams)
    Query("scan", classStar("Point"), Nil, lo, lo + len, expect(hit, lo, lo + len), hit.size)
  }

  /** `k` distinct elements of `xs`, order of selection. */
  def rngSample[A](rng: SplittableRandom, xs: IndexedSeq[A], k: Int): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    val n = math.min(k, a.length)
    for (i <- 0 until n) {
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // ------------------------------------------------------------------
  // Curation side: corpus, embeddings, batches
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** One curation batch and what admission must decide for it.
    * `exactKeep`: doc id → expected (status, keep_id) of exact admission.
    * `dupIds`: docs a near-dup admission should flag `dup_corpus` (exact
    * re-fetches and edited copies); every other doc must be admitted. */
  final case class Batch(docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec],
      exactKeep: Map[Long, (String, Long)], dupIds: Set[Long],
      queries: IndexedSeq[IndexedSeq[Vec]])

  final class Curation(val dim: Int, val vocab: IndexedSeq[String],
      val corpus: IndexedSeq[Doc], val vectors: IndexedSeq[Vec],
      centers: IndexedSeq[Array[Double]], rng: SplittableRandom,
      batchDocs: Int, exactShare: Double, nearShare: Double,
      queryBatches: Int, queriesPerBatch: Int) {

    /** Docs an exact or near-dup re-fetch may copy: the corpus plus every
      * novel doc of earlier batches (which the loop admits and appends). */
    private val pool = mutable.ArrayBuffer[Doc]() ++= corpus
    private var nextId = corpus.size.toLong
    private var nextQid = 1000000000L

    def nextBatch(): Batch = {
      val nExact = math.round(batchDocs * exactShare).toInt
      val nNear = math.round(batchDocs * nearShare).toInt
      val sources = rngSample(rng, pool.indices, nExact + nNear).map(pool)
      val docs = IndexedSeq.newBuilder[Doc]
      val keep = Map.newBuilder[Long, (String, Long)]
      val dups = Set.newBuilder[Long]
      val novel = mutable.ArrayBuffer[Doc]()
      def id(): Long = { val i = nextId; nextId += 1; i }
      sources.zipWithIndex.foreach { case (src, i) =>
        val d =
          if (i < nExact) Doc(id(), refetch(src.text))
          else Doc(id(), edit(src.text))
        docs += d; dups += d.id
        keep += d.id -> (if (i < nExact) ("dup_corpus", src.id) else ("admitted", d.id))
      }
      for (_ <- 0 until batchDocs - nExact - nNear) {
        val d = Doc(id(), text())
        docs += d; novel += d; keep += d.id -> ("admitted", d.id)
      }
      val ds = docs.result()
      val vs = ds.map(d => Vec(d.id, vector()))
      val qs = (0 until queryBatches).map(_ => (0 until queriesPerBatch).map { _ =>
        val q = Vec(nextQid, near(knownVectors(rng.nextInt(knownVectors.size)).v))
        nextQid += 1; q
      })
      knownVectors ++= vs
      pool ++= novel
      Batch(ds, vs, keep.result(), dups.result(), qs)
    }

    /** Every vector the ANN index holds once the batches so far are appended. */
    val knownVectors: mutable.ArrayBuffer[Vec] = mutable.ArrayBuffer[Vec]() ++= vectors

    def text(): String = Gen.text(rng, vocab)

    /** Same normalized text: different case and spacing only. */
    def refetch(t: String): String = {
      val w = t.split(' ')
      w(0) = w(0).toUpperCase
      "  " + w.mkString(if (rng.nextBoolean()) "  " else " ") + " "
    }

    /** Two words replaced: word-3-gram Jaccard stays above 0.7 at 40+ words. */
    def edit(t: String): String = {
      val w = t.split(' ')
      for (i <- rngSample(rng, w.indices, 2)) {
        var r = w(i)
        while (r == w(i)) r = vocab(rng.nextInt(vocab.size))
        w(i) = r
      }
      w.mkString(" ")
    }

    def vector(): Array[Float] = Gen.clustered(rng, centers, dim)
    def near(v: Array[Float]): Array[Float] = Gen.perturb(rng, v, 0.02)
  }

  def word(rng: SplittableRandom): String = {
    val n = rng.nextInt(3, 10)
    val sb = new StringBuilder
    for (_ <- 0 until n) sb += ('a' + rng.nextInt(26)).toChar
    sb.toString
  }

  def text(rng: SplittableRandom, vocab: IndexedSeq[String]): String =
    (0 until rng.nextInt(40, 61)).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")

  def unit(a: Array[Double]): Array[Float] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    a.map(x => (x / n).toFloat)
  }

  def clustered(rng: SplittableRandom, centers: IndexedSeq[Array[Double]], dim: Int): Array[Float] = {
    val c = centers(rng.nextInt(centers.size))
    unit(Array.tabulate(dim)(i => c(i) + 0.35 * gauss(rng)))
  }

  def perturb(rng: SplittableRandom, v: Array[Float], sd: Double): Array[Float] =
    unit(v.map(x => x + sd * gauss(rng)))

  def gauss(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's gaussian is not
    // available on SplittableRandom)
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  def curation(rng: SplittableRandom, corpusDocs: Int, vocabSize: Int, dim: Int,
      clusters: Int, batchDocs: Int, exactShare: Double, nearShare: Double,
      queryBatches: Int, queriesPerBatch: Int): Curation = {
    val vocab = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < vocabSize) seen += word(rng)
      seen.toIndexedSeq
    }
    val texts = mutable.LinkedHashSet[String]()
    while (texts.size < corpusDocs) texts += text(rng, vocab)
    val corpus = texts.toIndexedSeq.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }
    val centers = (0 until clusters).map(_ => Array.fill(dim)(gauss(rng)))
    val vectors = corpus.map(d => Vec(d.id, clustered(rng, centers, dim)))
    new Curation(dim, vocab, corpus, vectors, centers, rng, batchDocs,
      exactShare, nearShare, queryBatches, queriesPerBatch)
  }

  /** Cosine top-k of `q` over `corpus`, ties to the smaller id: the answer
    * the approximate index is scored against. */
  def topK(corpus: Iterable[Vec], q: Vec, k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    corpus.iterator.filter(_.id != q.id).map(v => (v.id, dot(q.v, v.v)))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }
}
