package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call: an operation (`op:<kind>`, the root of its layer calls)
  * or a call into one layer. Times are wall clock, so Spark job intervals
  * can be intersected with them. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
    val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var failed = false
  var storageDeltaMb = 0.0
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span through the `perfbench.span` local
  * property the benchmark thread sets while the span is open. */
final class SparkWork {
  var jobs = 0
  var tasks = 0L
  var executorMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Attributes jobs, stages and task metrics to the span that was open on the
  * submitting thread when the job started. Events arrive on the listener bus
  * thread; readers call [[Tracer.finish]], which drains the bus first. */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  val work = mutable.HashMap[Int, SparkWork]()

  private def of(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).foreach { s =>
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = s)
        of(s).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      of(s).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = of(s)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.executorMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** Span recorder. With `enabled = false` every method only runs its body,
  * so the untraced run makes exactly the same calls with nothing around
  * them. Spans stay in memory until [[finish]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var opSeq = 0L
  private val listener = new SpanListener
  /** layer → extra count name → value */
  val counts: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]] =
    mutable.LinkedHashMap()
  if (enabled) sc.addSparkListener(listener)

  private def storageMb(): Double =
    sc.getRDDStorageInfo.iterator.map(_.memSize).sum / 1048576.0

  private def open[A](name: String, op: Long, withStorage: Boolean)(f: => A): A = {
    val before = if (withStorage) storageMb() else 0.0
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try f
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      if (withStorage) s.storageDeltaMb = storageMb() - before
      System.err.println(f"[perfbench] span ${s.name} ${s.wallMs}%.1f ms")
    }
  }

  /** One operation of the workload: the root its layer spans hang from. */
  def op[A](kind: String)(f: => A): A =
    if (!enabled) f
    else { opSeq += 1; open(s"op:$kind", opSeq, withStorage = false)(f) }

  /** One call into `layer`. */
  def layer[A](layer: String)(f: => A): A =
    if (!enabled) f
    else open(layer, stack.headOption.map(_.op).getOrElse(0L), withStorage = true)(f)

  /** Add `v` to the extra count `key` of `layer`; `v` is computed only when
    * tracing, outside every span. */
  def count(layer: String, key: String)(v: => Double): Unit =
    if (enabled) {
      val m = counts.getOrElseUpdate(layer, mutable.LinkedHashMap())
      m(key) = m.getOrElse(key, 0.0) + v
    }

  /** Drain the listener bus, join Spark work onto spans, write the spans as
    * JSON lines to `out` and return them with their work. */
  def finish(out: Option[Path]): Seq[(Span, SparkWork)] = {
    if (!enabled) return Nil
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    val joined = listener.synchronized {
      spans.toSeq.map(s => s -> listener.work.getOrElse(s.id, new SparkWork))
    }
    out.foreach { p =>
      Files.createDirectories(p.getParent)
      val sb = new StringBuilder
      joined.foreach { case (s, w) =>
        sb ++= f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
          f""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ms":${s.wallMs}%.3f,""" +
          f""""failed":${s.failed},"jobs":${w.jobs},"tasks":${w.tasks},""" +
          f""""executor_ms":${w.executorMs},"gc_ms":${w.gcMs},""" +
          f""""shuffle_bytes":${w.shuffleBytes},"input_bytes":${w.inputBytes},""" +
          f""""storage_delta_mb":${s.storageDeltaMb}%.4f}""" + "\n"
      }
      Files.write(p, sb.toString.getBytes(UTF_8))
    }
    joined
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Layers in report order; each is a module of the program. */
  val Layers: Seq[String] =
    Seq("ingest", "stats", "turtle", "engine_open", "sparql", "scan", "dedup", "maint", "ann")

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered
  }

  /** Per-layer metrics: the common twelve for every layer, then the extra
    * counts. Self time is a span's wall minus the wall of its child spans;
    * driver gap is its wall minus the union of its own Spark jobs. */
  def layerMetrics(joined: Seq[(Span, SparkWork)],
      counts: collection.Map[String, collection.Map[String, Double]]): Seq[(String, Double, String)] = {
    val childWall = joined.groupBy(_._1.parent).map { case (p, cs) => p -> cs.map(_._1.wallMs).sum }
    Layers.flatMap { l =>
      val ss = joined.filter(_._1.name == l)
      val self = ss.map { case (s, _) => s.wallMs - childWall.getOrElse(s.id, 0.0) }
      val gap = ss.map { case (s, w) =>
        math.max(0.0, s.wallMs - unionMs(w.jobIntervals.toSeq, s.startMs, s.endMs))
      }
      def sumL(f: SparkWork => Long): Double = ss.map(x => f(x._2).toDouble).sum
      Seq(
        (s"$l.calls", ss.size.toDouble, "count"),
        (s"$l.busy_ms", self.sum, "ms"),
        (s"$l.p50_ms", Stats.median(ss.map(_._1.wallMs)), "ms"),
        (s"$l.jobs", sumL(_.jobs.toLong), "count"),
        (s"$l.tasks", sumL(_.tasks), "count"),
        (s"$l.executor_ms", sumL(_.executorMs), "ms"),
        (s"$l.gc_ms", sumL(_.gcMs), "ms"),
        (s"$l.driver_gap_ms", gap.sum, "ms"),
        (s"$l.shuffle_bytes", sumL(_.shuffleBytes), "bytes"),
        (s"$l.input_bytes", sumL(_.inputBytes), "bytes"),
        (s"$l.storage_delta_mb", ss.map(_._1.storageDeltaMb).sum, "MB"),
        (s"$l.failed", ss.count(_._1.failed).toDouble, "count")) ++
        Extras.getOrElse(l, Nil).map { case (k, u) =>
          (s"$l.$k", counts.get(l).flatMap(_.get(k)).getOrElse(0.0), u)
        }
    }
  }

  /** Extra counts per layer, with units. `scan.rows_read_per_row_returned`
    * is derived from the two raw scan counts. */
  val Extras: Map[String, Seq[(String, String)]] = Map(
    "ingest" -> Seq("rows" -> "count", "files_written" -> "count"),
    "stats" -> Seq("files_scanned" -> "count", "files_in_store" -> "count"),
    "turtle" -> Seq("quads" -> "count"),
    "engine_open" -> Seq("files_listed" -> "count"),
    "sparql" -> Seq("ids" -> "count"),
    "scan" -> Seq("files_planned" -> "count", "rows_read_per_row_returned" -> "ratio"),
    "dedup" -> Seq("admitted" -> "count", "dup_corpus" -> "count"),
    "maint" -> Seq("actions_performed" -> "count"),
    "ann" -> Seq("lists_probed" -> "count"))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample. NaN when there are fewer than eleven. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 11) Double.NaN else xs.sorted.apply(xs.size - 11)
}
