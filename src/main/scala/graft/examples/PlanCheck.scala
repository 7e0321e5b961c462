package graft.examples

import org.apache.spark.sql.SparkSession

/** Plan/perf inspection harness: times selected SparkEntry queries (twice,
  * to separate warmup), prints their first 50 rows and, with
  * PLAN_EXPLAIN=1, their formatted physical plans. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else Seq("q18_dedup_exact", "q14_closure", "q23_embed_ivf")
    val explain = sys.env.get("PLAN_EXPLAIN").contains("1")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"no such query: $n"))
      (1 to 2).foreach { round =>
        val t0 = System.nanoTime()
        val cnt = fn(spark, sfDir).count()
        println(f"[plancheck] $n round=$round rows=$cnt time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val df = fn(spark, sfDir)
      df.show(50, truncate = false)
      if (explain) df.explain("formatted")
    }
    spark.stop()
  }
}
