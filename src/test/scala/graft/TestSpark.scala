package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      // the status store retains per-execution plan graphs/metrics even
      // with the UI off (defaults: 1000 executions); the fuzz suites run
      // ~1000 queries per JVM, so stock retention holds ~the whole run's
      // plans on heap — keep only a handful
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val Tag = "graft.test.jobs"

  /** `body`'s result, the Spark jobs submitted while it ran and the bytes
    * each of their tasks returned to the driver. */
  def sparkWorkDuring[T](body: => T): (T, Int, Seq[Long]) = {
    val (out, jobs, shipped) = sparkJobsDuring(body)
    (out, jobs.size, shipped)
  }

  /** `body`'s result, the name of each Spark job submitted while it ran
    * (its result stage's call site, `collect at X.scala:12`) and the
    * bytes each of their tasks returned to the driver. Listener events
    * arrive asynchronously, in order: a tagged sentinel job seen by the
    * listener means every earlier job start and task end has been seen
    * too. */
  def sparkJobsDuring[T](body: => T): (T, Seq[String], Seq[Long]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val shipped = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).getOrElse(""),
          e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shipped.add(m.resultSize))
    }
    def sentinelSeen = jobs.asScala.exists(_._1 == "sentinel")
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(Tag, "sentinel")
      try spark.range(1).count() finally sc.setLocalProperty(Tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
      if (!sentinelSeen)
        throw new AssertionError("listener never saw the sentinel job")
      // the sentinel's own one-row count adds a few bytes at most
      (out, jobs.asScala.toSeq.filter(_._1 != "sentinel").map(_._2), shipped.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** Test-fixture term encoding (round 13): specs build quads from raw
  * strings; literal OBJECTS must carry the store's term encoding exactly
  * as a Turtle load of the same data would produce — the shape-normalized
  * rule: non-shorthand strings QUOTE (`"alpha"`), shorthand-shaped text
  * ("5", "2.5", "true") keeps the historic bare numeric/boolean
  * normalization. IRIs (the fixtures' urn:/http(s): namespaces), blank
  * nodes, and pre-encoded values pass through. */
object TestTerms {
  def enc(o: String): String =
    if (o.startsWith("urn:") || o.startsWith("http://") ||
        o.startsWith("https://") || o.startsWith("_:") ||
        o.startsWith("\"")) o
    else RdfTerms.encodeTyped(o, RdfTerms.shapeDatatype(o))

  def t(q: Model.Quad): Model.Quad = q.copy(o = enc(q.o))
}
