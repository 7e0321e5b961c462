package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

/** The generator is a pure function of the seed: the same seed writes
  * byte-identical inputs and ground truth, a different seed different ones.
  * Needs no Spark session.
  *
  *   python3 perfbench/run.py --selftest
  */
object GenDeterminismTest {

  /** Every kind of generated input, small: site CSVs and graphs, the
    * ontology, a query stream with expected checksums, a corpus with
    * embeddings, curation batches with expected statuses and ANN truth. */
  def dump(seed: Long, dir: Path): Unit = {
    val rng = new SplittableRandom(seed)
    val sites = (0 until 2).map(i => Gen.site(rng.split(), s"site$i", 2, 3, 48, 300))
    sites.foreach { s => Gen.writeCsvs(s, dir.resolve("csv")); Gen.writeTtl(s, dir.resolve("ttl")) }
    Files.write(dir.resolve("brick.ttl"), Gen.OntologyTtl.getBytes(UTF_8))
    val mix = rng.split()
    val queries = (0 until 20).map { i =>
      if (i % 2 == 0) Gen.lookup(mix, sites, 48L * 300) else Gen.scan(mix, sites, 48L * 300)
    }
    Files.write(dir.resolve("queries.txt"), queries.mkString("\n").getBytes(UTF_8))

    val cur = Gen.curation(rng.split(), 200, 500, 16, 4, 20, 0.2, 0.2, 2, 4)
    val sb = new StringBuilder
    cur.corpus.foreach(d => sb ++= s"${d.id}\t${d.text}\n")
    cur.vectors.foreach(v => sb ++= s"${v.id}\t${v.v.mkString(",")}\n")
    for (_ <- 0 until 3) {
      val b = cur.nextBatch()
      b.docs.foreach(d => sb ++= s"${d.id}\t${d.text}\t${b.exactKeep(d.id)}\t${b.dupIds(d.id)}\n")
      b.vecs.foreach(v => sb ++= s"${v.id}\t${v.v.mkString(",")}\n")
      b.queries.flatten.foreach(q =>
        sb ++= s"${q.id}\t${q.v.mkString(",")}\t${Gen.topK(cur.knownVectors, q, 5).mkString(",")}\n")
    }
    Files.write(dir.resolve("curation.txt"), sb.toString.getBytes(UTF_8))
  }

  def fingerprint(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try s.sorted().filter(Files.isRegularFile(_)).forEach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    def at(name: String, seed: Long): String = {
      val d = root.resolve(name)
      dump(seed, d)
      fingerprint(d)
    }
    val a = at("a", 7L)
    val b = at("b", 7L)
    val c = at("c", 8L)
    require(a == b, s"seed 7 wrote different inputs on two runs: $a vs $b")
    require(a != c, s"seeds 7 and 8 wrote identical inputs: $a")
    println(s"ok: seed 7 -> $a twice; seed 8 -> $c")
  }
}
