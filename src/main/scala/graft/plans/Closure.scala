package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive closure of an edge relation — the engine for SPARQL
  * zero-or-more property paths (`rdfs:subClassOf*`), which the reference
  * delegates to oxigraph (reference: mortar-parquet-client/client.py:121,
  * 134,136).
  *
  * Two execution strategies, chosen by [[DriverSide]]:
  *
  *   - Small relation (ontology hierarchies — Brick is ≤ a few 10⁴ edges):
  *     collect to the driver, run an exact BFS closure in Scala, return a
  *     (broadcastable) DataFrame. A count and a collect, no iterative
  *     shuffles.
  *   - Large relation: distributed semi-naive fixpoint — each iteration
  *     joins the frontier with the edge set, unions, distincts, and
  *     `localCheckpoint`s to sever the growing lineage. AQE handles the
  *     shrinking frontier. Iterations = graph diameter (Brick ≤ ~10).
  *
  * Both return the REFLEXIVE-transitive closure when `includeIdentity` nodes
  * are supplied: SPARQL `p*` includes the zero-length path, so every term in
  * the queried position matches itself (SURVEY.md §7.4 pitfall #2).
  */
object Closure {

  /** Closure of `edges` (columns `src`, `dst`). Output columns `src`,`dst`,
    * distinct. Does NOT include zero-length pairs — see `withIdentity`.
    * The BFS on the driver runs when [[DriverSide]] collects the edges and
    * the closure stays within its output cap; else the fixpoint. */
  def transitive(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = pairsOf(edges)
    DriverSide.collect(pairs).flatMap(driverSide(spark, _))
      .getOrElse(distributed(pairs.toDF("src", "dst"), maxIter))
  }

  /** [[transitive]] through the distributed fixpoint whatever the size. */
  private[graft] def transitiveDistributed(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    import edges.sparkSession.implicits._
    distributed(pairsOf(edges).toDF("src", "dst"), maxIter)
  }

  /** The distinct (src, dst) pairs of `edges` — read against the edge
    * when `reverse` — as one RDD. It sheds the upstream plan's
    * constraints, which Spark 4.1 carries into checkpoints and then fails
    * to map in the fixpoint's unions ("key not found: src#…"). */
  private def pairsOf(edges: DataFrame, reverse: Boolean = false): RDD[(String, String)] = {
    import edges.sparkSession.implicits._
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    edges.select(col(from).cast("string"), col(to).cast("string"))
      .distinct().as[(String, String)].rdd
  }

  private def adjacency(edges: Array[(String, String)]): Map[String, Seq[String]] =
    edges.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).toSeq) }

  /** Nodes reachable from `start` in one or more steps of `next` — `start`
    * itself only when a cycle leads back to it. The one driver-side BFS
    * behind both closure strategies here and the in-memory SPARQL
    * evaluator ([[graft.sparql.LocalBgp]]). */
  def reachable(start: String,
      next: String => Iterable[String]): scala.collection.mutable.Set[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val queue = scala.collection.mutable.Queue[String]()
    def visit(n: String): Unit = if (seen.add(n)) queue += n
    next(start).foreach(visit)
    while (queue.nonEmpty) next(queue.dequeue()).foreach(visit)
    seen
  }

  /** Exact BFS closure on the driver; None if the closure grows past
    * [[DriverSide.OutputLimit]] (caller falls back to the distributed
    * fixpoint). */
  private def driverSide(spark: SparkSession,
      edges: Array[(String, String)]): Option[DataFrame] = {
    import spark.implicits._
    val rowLimit = DriverSide.outputLimit
    val adj = adjacency(edges)
    val next = (n: String) => adj.getOrElse(n, Nil)
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (start <- adj.keys) {
      val seen = reachable(start, next)
      if (out.length + seen.size > rowLimit) return None
      seen.foreach(d => out += ((start, d)))
    }
    Some(out.toSeq.toDF("src", "dst"))
  }

  private def distributed(e: DataFrame, maxIter: Int): DataFrame = {
    // Semi-naive: each round extends only the FRESH frontier. `seen` is
    // maintained as ONE checkpointed DataFrame (not a re-unioned list of
    // frontiers) so every round's plan has the IDENTICAL shape —
    // LogicalRDD ⋈ LogicalRDD → distinct → anti-join LogicalRDD — and
    // whole-stage codegen compiles each shape once for the whole fixpoint
    // instead of once per round (the growing union defeated the codegen
    // cache and made round N's planning cost O(N)).
    //
    // Partitioning is pre-aligned with the joins so the per-round shuffles
    // touch only the (shrinking) frontier side:
    //   - `ej` is hash-partitioned by `src`, the probe key of the extend
    //     join — localCheckpoint preserves outputPartitioning, so only the
    //     frontier side exchanges each round;
    //   - `seen` is re-checkpointed per round partitioned by (src,dst),
    //     matching both the anti-join keys and distinct()'s output
    //     partitioning, so the anti-join runs exchange-free.
    // Re-materializing `seen` each round costs one narrow write of the
    // closure-so-far; lineage stays one LogicalRDD deep regardless of
    // iteration count.
    // Rounds DOUBLE the covered path length (new paths = seen ∘ seen, the
    // "smart" TC recursion) rather than extending by one edge: a
    // single-edge extension silently TRUNCATES any graph with diameter >
    // maxIter (an 80-node chain at maxIter=50 returned exactly the
    // pairs of path length ≤ 51 — caught by RobustnessSpec), while
    // doubling covers diameter 2^maxIter and still converges in 2-3
    // rounds for the shallow hierarchies this engine actually queries.
    // Completeness without joining the WHOLE closure with itself each
    // round: compose only the FRESH pairs with seen. A shortest path of
    // length n ∈ (2^k, 2^(k+1)] splits at its 2^k-th node into a prefix
    // that is itself shortest of length exactly 2^k (else the whole path
    // would be shorter) — i.e. a member of round k's fresh set — and a
    // suffix of length ≤ 2^k already in seen. So fresh ∘ seen finds every
    // next-round pair while the left join side keeps shrinking.
    // seen is kept hash-partitioned by `src`: that is the build key of the
    // compose join (reused as-is every round, no exchange on the big side)
    // and a PREFIX of the anti-join keys (src,dst), so it satisfies that
    // join's clustering requirement too — rows with equal (src,dst) are
    // co-located by src alone.
    var seen = e.repartition(col("src")).localCheckpoint()
    var fresh = seen
    var iter = 0
    var growing = true
    while (growing && iter < maxIter) {
      iter += 1
      val step = fresh.as("f")
        .join(seen.as("s"), col("f.dst") === col("s.src"))
        .select(col("f.src").as("src"), col("s.dst").as("dst"))
        .distinct()
      val next = step.join(seen, Seq("src", "dst"), "left_anti").localCheckpoint()
      if (next.isEmpty) growing = false
      else {
        seen = seen.union(next).repartition(col("src")).localCheckpoint()
        fresh = next
      }
    }
    // Unconverged exit would mean a silently partial closure — impossible
    // in practice (2^maxIter path length), so fail loudly if it happens.
    if (growing) throw new IllegalStateException(
      s"transitive closure not converged after $maxIter doubling rounds")
    seen
  }

  /** Nodes reachable from `start` via 1+ edges (forward), or that reach
    * `start` (reverse). Frontier BFS — on the driver when [[DriverSide]]
    * collects the edges, a distributed loop otherwise. Used by the SPARQL
    * planner to evaluate `p*` atoms with a constant endpoint without
    * materializing the full pairwise closure. */
  def reachableFrom(
      edges: DataFrame, start: String, reverse: Boolean = false,
      maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = pairsOf(edges, reverse)
    DriverSide.collect(pairs) match {
      case Some(small) =>
        val adj = adjacency(small)
        reachable(start, adj.getOrElse(_, Nil)).toSeq.toDF("node")
      case None => frontierLoop(pairs.toDF("src", "dst"), start, maxIter)
    }
  }

  /** [[reachableFrom]] through the distributed loop whatever the size. */
  private[graft] def reachableDistributed(
      edges: DataFrame, start: String, reverse: Boolean = false,
      maxIter: Int = 50): DataFrame = {
    import edges.sparkSession.implicits._
    frontierLoop(pairsOf(edges, reverse).toDF("src", "dst"), start, maxIter)
  }

  private def frontierLoop(e: DataFrame, start: String, maxIter: Int): DataFrame = {
    // every round re-joins the edge set: materialize it once
    val ec = e.localCheckpoint()
    // seed with start's direct successors (NOT start itself — start only
    // belongs in the result if a cycle brings it back)
    var seen = ec.filter(col("src") === start).select(col("dst").as("node"))
      .distinct().localCheckpoint()
    var frontier = seen
    var iter = 0
    var growing = !frontier.isEmpty
    while (growing && iter < maxIter) {
      iter += 1
      val next = frontier.join(ec, frontier("node") === ec("src"))
        .select(ec("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti").localCheckpoint()
      if (next.isEmpty) growing = false
      else { seen = seen.union(next).localCheckpoint(); frontier = next }
    }
    // one edge per round here (vertex-level BFS): a diameter > maxIter
    // graph would silently return a partial reachable set — fail loudly
    // instead (raise maxIter deliberately for pathological chains)
    if (growing) throw new IllegalStateException(
      s"reachableFrom not converged after $maxIter rounds — " +
        "graph diameter exceeds maxIter")
    seen
  }

  /** Reflexive closure: union zero-length pairs for every node in `nodes`
    * (single column). */
  def withIdentity(closure: DataFrame, nodes: DataFrame): DataFrame = {
    val id = nodes.select(col(nodes.columns.head).cast("string").as("src"))
      .distinct()
      .withColumn("dst", col("src"))
    closure.select("src", "dst").union(id).distinct()
  }
}
