package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns rows on sf0.001 and every
  * declared query has matching column sets between Spark and oracle keys. */
class EntrySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("entry flagship returns rows (driver smoke gate)") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys == queries keys (every query is DuckDB-oracled)") {
    // EVERY query carries a DuckDB oracle as of round 9 — queries whose
    // computation has no SQL form pin their deterministic result as a
    // literal VALUES oracle instead (q126: merge table from an
    // independent non-Spark Sennrich implementation). A new query without
    // an oracle is a regression: it must not silently downgrade to
    // rows-only.
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"unoracled: ${(SparkEntry.queries.keySet --
        SparkEntry.oracleSql.keySet).toSeq.sorted}" +
        s"; orphaned: ${(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
  }

  test("every query runs at sf0.001 and is deterministic across two runs") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, "/root/testdata/sf0.001")
      val b = fn(spark, "/root/testdata/sf0.001")
      val ca = a.count(); val cb = b.count()
      assert(ca == cb, s"$name row count unstable: $ca vs $cb")
    }
  }

  test("fixture memo: one build per (name, dir); a failed build is not " +
      "memoized") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    var builds = 0
    def fx(name: String, dir: String) =
      SparkEntry.fixture(s"memo${tag}_$name", dir) { root =>
        builds += 1
        new java.io.File(root).mkdirs()
      }
    val a = fx("a", "/sf/one")
    assert(new java.io.File(a).getName.startsWith(s"graft_memo${tag}_a_"))
    assert(new java.io.File(a).isDirectory)
    assert(fx("a", "/sf/one") == a)
    assert(builds == 1)
    val otherName = fx("b", "/sf/one")
    val otherDir = fx("a", "/sf/two")
    assert(Set(a, otherName, otherDir).size == 3)
    assert(builds == 3)
    var attempts = 0
    def flaky() = SparkEntry.fixture(s"memo${tag}_flaky", "/sf/one") { _ =>
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
    }
    intercept[IllegalStateException](flaky())
    val root = flaky()
    assert(attempts == 2)
    assert(flaky() == root)
    assert(attempts == 2)
  }
}
