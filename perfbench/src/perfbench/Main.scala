package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark client: drives the engine's public API as a user program
  * would, one client in one process, closed loop.
  *
  *   --workload query|curation --seed N --seconds S --trace 0|1
  *   --work <scratch dir> [--spans <file>]
  *
  * Prints a human summary, then one JSON line: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, workload, seed, seconds, trace, cores, work, a.get("spans").map(Paths.get(_)))
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: Path, spans: Option[Path]): Unit = {
    val tracer = new Tracer(spark.sparkContext, trace)
    val wl: Workload = workload match {
      case "query" => new QueryWorkload(spark, tracer, seed, work)
      case "curation" => new CurationWorkload(spark, tracer, seed, work)
    }
    val rec = new Recorder
    val tg = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - tg) / 1e9
    System.err.println(f"[perfbench] generated inputs in $genS%.1f s")

    // one set-up per run, in a fresh JVM, so it and its first operation run
    // cold: no JIT-compiled code and no Spark codegen cache yet
    val t0 = System.nanoTime()
    wl.setup()
    wl.cold(rec)
    val setupS = (System.nanoTime() - t0) / 1e9

    val warm = new Recorder
    (0 until wl.warmupSteps).foreach(_ => wl.step(warm))
    rec.absorb(warm)

    val timedFromMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var steps = 0
    while (System.nanoTime() < deadline || steps < wl.minTimedSteps) { wl.step(rec); steps += 1 }
    val timedS = (System.currentTimeMillis() - timedFromMs) / 1e3

    val point = rec.point.toSeq
    val bulk = rec.bulk.toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("point_p50_ms", Stats.median(point), "ms"),
      ("bulk_p50_ms", Stats.median(bulk), "ms"),
      ("bulk_items_per_s", rec.items / (rec.itemsMs / 1e3), "1/s"),
      ("store_bytes_per_input_byte", wl.storedBytes.toDouble / wl.inputBytes, "ratio"))

    println(f"[perfbench] workload=$workload seed=$seed cores=$cores " +
      f"generate=$genS%.2fs setup=$setupS%.2fs " +
      f"timed=$timedS%.1fs steps=$steps")
    println(f"[perfbench] point n=${point.size} p50=${Stats.median(point)}%.1fms " +
      f"tail=${Stats.tail(point)}%.1fms | bulk n=${bulk.size} p50=${Stats.median(bulk)}%.1fms " +
      f"tail=${Stats.tail(bulk)}%.1fms | items=${rec.items}%.0f")
    println(s"[perfbench] point ms: ${point.map(x => f"$x%.0f").mkString(" ")}")
    println(s"[perfbench] bulk ms: ${bulk.map(x => f"$x%.0f").mkString(" ")}")
    println(s"[perfbench] checked=${rec.attempted} failed=${rec.failed}" +
      rec.failures.map("\n[perfbench]   " + _).mkString)

    val metrics =
      if (!trace) e2e
      else {
        val joined = tracer.finish(spans)
        val raw = tracer.counts
        raw.get("scan").foreach { s =>
          s("rows_read_per_row_returned") =
            s.getOrElse("rows_read", 0.0) / math.max(1.0, s.getOrElse("rows_returned", 0.0))
        }
        val layers = Tracer.layerMetrics(joined, raw.map { case (k, v) => k -> v.toMap }.toMap)
        val timedOps = joined.filter { case (s, _) =>
          s.parent < 0 && s.name.startsWith("op:") && s.startMs >= timedFromMs }
        val children = joined.groupBy(_._1.parent)
        def layerWall(id: Int): Double = children.getOrElse(id, Nil).map { case (c, _) =>
          if (Tracer.Layers.contains(c.name)) c.wallMs else layerWall(c.id)
        }.sum
        val opWall = timedOps.map(_._1.wallMs).sum
        val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        val all = layers ++ Seq(
          ("traced.point_p50_ms", Stats.median(point), "ms"),
          ("traced.bulk_p50_ms", Stats.median(bulk), "ms"),
          ("traced.layer_share", timedOps.map(o => layerWall(o._1.id)).sum / math.max(1e-9, opWall), "ratio"),
          ("session.storage_mem_mb", storageMb, "MB"))
        printLayers(all)
        all
      }

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}""")
  }

  private def printLayers(all: Seq[(String, Double, String)]): Unit = {
    val byLayer = all.groupBy(_._1.takeWhile(_ != '.'))
    val cols = Seq("calls", "busy_ms", "p50_ms", "jobs", "tasks", "executor_ms", "gc_ms",
      "driver_gap_ms", "shuffle_bytes", "input_bytes", "storage_delta_mb", "failed")
    println("[perfbench] layer        " + cols.map(c => f"$c%14s").mkString)
    Tracer.Layers.foreach { l =>
      val m = byLayer.getOrElse(l, Nil).map(x => x._1.stripPrefix(l + ".") -> x._2).toMap
      println(f"[perfbench] $l%-12s " + cols.map(c => f"${m.getOrElse(c, 0.0)}%14.1f").mkString +
        "  " + Tracer.Extras.getOrElse(l, Nil).map { case (k, _) => f"$k=${m.getOrElse(k, 0.0)}%.2f" }
          .mkString(" "))
    }
    all.filter(x => x._1.startsWith("traced.") || x._1.startsWith("session."))
      .foreach { case (n, v, u) => println(f"[perfbench] $n = $v%.3f $u") }
  }
}
