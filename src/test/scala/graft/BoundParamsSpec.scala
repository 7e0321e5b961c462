package graft

import graft.operators._
import graft.plans.BoundParams
import graft.sources.StatsIndex
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Literal}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.time.{Instant, LocalDate, LocalDateTime}

/** Comparison values bound as parameters of generated code: the same rows
  * as inlined literals under whole-stage codegen and under interpretation,
  * one compiled class per plan shape, and a strategy that touches only the
  * filters over file scans of the sessions that install it. */
class BoundParamsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = TempDirs.register(
    s"${System.getProperty("java.io.tmpdir")}/graft_boundspec_${tag}_${java.util.UUID.randomUUID()}")

  private def installed(s: SparkSession): Int =
    s.experimental.extraStrategies.count(_ eq BoundParams.Strategy)

  private def filters(df: DataFrame): Seq[FilterExec] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }

  private def bound(df: DataFrame): Boolean =
    filters(df).exists(_.condition.exists(_.isInstanceOf[BoundParams.Param]))

  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("comparisons on timestamp_ntz, date, int, double, float, boolean, short and " +
      "byte columns return the same rows bound as inlined, compiled and interpreted") {
    val path = tmp("types")
    val s0 = spark; import s0.implicits._
    val ntz0 = LocalDateTime.parse("2021-03-04T05:06:07")
    val d0 = LocalDate.parse("2021-03-04")
    val xs = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.5, Double.PositiveInfinity,
      Double.NegativeInfinity)
    ((0 until 14).map { i =>
      (i.toLong, Option(ntz0.plusSeconds(i - 7L)), Option(d0.plusDays(i - 7L)),
        Option(i - 7), Option(xs(i % xs.size)), Option(xs(i % xs.size).toFloat),
        Option(i % 2 == 0), Option((i - 7).toShort), Option((i - 7).toByte))
    } :+ ((99L, None, None, None, None, None, None, None, None)))
      .toDF("id", "ntz", "d", "i", "x", "f", "b", "sh", "by")
      .coalesce(1).write.parquet(path)

    val ops: Seq[(String, (Column, Column) => Column)] = Seq(
      "=" -> (_ === _), "<=>" -> (_ <=> _), "<" -> (_ < _), "<=" -> (_ <= _),
      ">" -> (_ > _), ">=" -> (_ >= _))
    val values: Seq[(String, Any)] =
      Seq(ntz0, ntz0.plusSeconds(3), ntz0.minusSeconds(20)).map("ntz" -> _) ++
      Seq(d0, d0.plusDays(2), d0.minusDays(30)).map("d" -> _) ++
      Seq(0, 3, -7, 100).map("i" -> _) ++
      Seq(Double.NaN, -0.0, 0.0, 1.5, Double.PositiveInfinity,
        Double.NegativeInfinity).map("x" -> _) ++
      Seq(Float.NaN, -0.0f, 1.5f).map("f" -> _) ++ Seq(true, false).map("b" -> _) ++
      Seq(2.toShort).map("sh" -> _) ++ Seq(-3.toByte).map("by" -> _)
    val plain = spark.newSession()
    val withParams = spark.newSession()
    BoundParams.install(withParams)
    assert(installed(plain) == 0 && installed(withParams) == 1)

    for ((wholeStage, factoryMode) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      Seq(plain, withParams).foreach { s =>
        s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      }
      // the rows, whether the filter over the scan reads bound parameters,
      // and whether the optimizer left a literal operand to bind (it
      // reduces `b = true` to `b`)
      def ids(s: SparkSession, pred: Column): (Seq[Long], Boolean, Boolean) = {
        val df = s.read.parquet(path).filter(pred).select("id")
        val literalOperand = filters(df).exists(_.condition.exists {
          case c: BinaryComparison => c.children.exists(_.isInstanceOf[Literal])
          case _ => false
        })
        (df.collect().map(_.getLong(0)).toSeq.sorted, bound(df), literalOperand)
      }
      for ((c, v) <- values; (name, op) <- ops) {
        val pred = op(col(c), lit(v))
        val (want, plainBound, bindable) = ids(plain, pred)
        val (got, rewritten, _) = ids(withParams, pred)
        val what = s"$c $name $v (wholeStage=$wholeStage, factoryMode=$factoryMode)"
        assert(!plainBound && rewritten == bindable && (bindable || c == "b"),
          s"$what: bound=$rewritten, literal operand=$bindable")
        assert(got == want, s"$what: $got with bound parameters, $want inlined")
      }
      // a literal on the left, and a comparison under OR/NOT
      val pred = lit(0) < col("i") || !(col("x") >= lit(1.5))
      val (want, _, _) = ids(plain, pred)
      assert(ids(withParams, pred) == ((want, true, false)))
    }
  }

  test("a filter over a non-file relation is left untouched") {
    val s = spark.newSession()
    BoundParams.install(s)
    val df = s.range(20).toDF().filter(col("id") > 5 && col("id") <= lit(9L))
    assert(filters(df).nonEmpty && !bound(df))
    assert(df.count() == 4)
  }

  test("building many engines from several threads installs exactly one strategy") {
    val s = spark.newSession()
    val quads = s.range(1).toDF()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 6).map { _ =>
      val t = new Thread(() => {
        start.await()
        (0 until 20).foreach(_ => new Engine(s, quads, quads))
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(installed(s) == 1, s.experimental.extraStrategies.mkString(", "))
  }

  test("prunedScan calls that differ only in their window compile nothing new, " +
      "and return the rows stamped exactly at either bound") {
    val s = spark; import s.implicits._
    val root = tmp("store"); val statsPath = tmp("stats")
    val base = Instant.parse("2019-04-05T06:00:00Z")
    (0 until 240).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(60L * i)), i.toDouble, "c", s"s${i % 3}")
    }.toDF("time", "value", "collection", "uuid")
      .write.partitionBy("collection", "uuid").parquet(root)
    val stats = StatsIndex.build(s, root, statsPath)
    def scan(from: Int, to: Int): DataFrame = StatsIndex.prunedScan(s, stats, root,
      Seq("s0", "s1"), base.plusSeconds(60L * from).toString, base.plusSeconds(60L * to).toString)
    assert(scan(0, 239).collect().length == 160)
    var rows: Array[org.apache.spark.sql.Row] = null
    val compiles = compilesDuring { rows = scan(31, 118).collect() }
    assert(compiles == 0, s"$compiles classes compiled for a new window")
    val values = rows.map(_.getAs[Double]("value").toInt).toSet
    assert(values == (31 to 118).filter(_ % 3 != 2).toSet)
    assert(bound(scan(31, 118)))
  }

  test("the curation operators leave the strategy uninstalled") {
    val s = spark.newSession(); import s.implicits._
    val corpus = (0 until 40).map(i => (i.toLong, s"doc $i about topic ${i % 7} and more words"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "doc 3 about topic 3 and more words"), (101L, "something new"))
      .toDF("doc_id", "text")
    val exact = tmp("exact"); val minhash = tmp("minhash"); val store = tmp("docs")
    DedupIndex.writeExactIndex(corpus, "text", "doc_id", exact)
    DedupIndex.writeMinHashIndex(corpus, "text", "doc_id", minhash)
    corpus.write.parquet(store)
    DedupIndex.admitAgainstIndex(batch, "text", "doc_id", exact).collect()
    DedupIndex.admitNearDupAgainstIndex(batch, "text", "doc_id", minhash, store).collect()
    DedupIndex.appendToIndex(batch, "text", "doc_id", exact, "exact")
    DedupIndex.appendToIndex(batch, "text", "doc_id", minhash, "minhash")
    batch.write.mode("append").parquet(store)
    Maintenance.pipelineTick(s, PipelineRoots(exactIndex = Some(exact),
      minhashIndex = Some(minhash), docStore = Some(store)),
      policy = Maintenance.TickPolicy(maxStoreFiles = 0L)).collect()
    val vecs = (0 until 24).map { i =>
      val a = 2 * math.Pi * i / 24.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat, 0.5f, i % 2 * 1f))
    }.toDF("vec_id", "embedding")
    val ann = tmp("ann")
    AnnIndex.writeIvfPqIndex(vecs.filter(col("vec_id") < 20),
      vecs.filter(pmod(col("vec_id"), lit(6)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      Similarity.pqCodebook(vecs, m = 2, seedMod = 4), m = 2, dim = 4, ann)
    AnnIndex.appendToIvfPqIndex(vecs.filter(col("vec_id") >= 20), ann, m = 2, dim = 4)
    AnnIndex.queryIvfPqIndex(vecs.limit(2), ann, m = 2, dim = 4, k = 2).collect()
    assert(installed(s) == 0)
  }
}
