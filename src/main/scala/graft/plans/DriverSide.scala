package graft.plans

import org.apache.spark.rdd.RDD

import scala.util.DynamicVariable

/** When a relation is small enough to work on in the driver's memory.
  *
  * Graph metadata, ontology hierarchies and verified near-duplicate pair
  * sets are usually tiny next to the data they describe, and a
  * multi-round Spark fixpoint over them pays per-round job dispatch
  * whatever their size. The callers here — [[Closure.transitive]],
  * [[Closure.reachableFrom]], [[graft.sparql.LocalBgp.Index.build]] and
  * [[graft.operators.Dedup.connectedComponents]] — collect such a
  * relation once and answer in-process, and keep their distributed plans
  * for anything larger. [[graft.operators.AnnIndex.queryIvfPqIndex]]
  * does the same for a small IVF-PQ index: it counts the quantizer's and
  * the probed lists' rows from their parquet footers, and ships and
  * scores them on the driver when they fit.
  * [[graft.operators.DedupIndex.admitAgainstIndex]] and
  * [[graft.operators.DedupIndex.admitNearDupAgainstIndex]] count the
  * crawl batch, the index, the doc store and their tombstones the same
  * way, then read only the index rows the batch's keys select and decide
  * admission in-process. This object owns that one decision.
  */
object DriverSide {

  /** Rows of an input relation up to which it is collected to the
    * driver: 200,000 quads or edges is tens of MB of strings. */
  val InputLimit = 200000L

  /** Rows a driver-side evaluation may produce before it is abandoned
    * for the distributed plan. The input count alone is the wrong
    * variable: a 200,000-edge chain has an O(V²) closure that would
    * exhaust the driver although its edges are few. */
  val OutputLimit = 2000000L

  private final case class Limits(input: Long, output: Long)

  private val limits = new DynamicVariable(Limits(InputLimit, OutputLimit))

  /** Run `body` with other limits on this thread, so a test can push a
    * small relation over them. */
  private[graft] def withLimits[T](input: Long, output: Long = OutputLimit)(body: => T): T =
    limits.withValue(Limits(input, output))(body)

  private[graft] def inputLimit: Long = limits.value.input

  private[graft] def outputLimit: Long = limits.value.output

  /** The rows of `rel` on the driver when they and the `alongside` rows
    * the caller holds with them number at most [[InputLimit]], else None.
    * A count decides before any row is shipped, so a relation over the
    * cutoff costs one count; the caller then hands the same RDD to its
    * distributed plan. When `rel` ends in an exchange, that next job
    * reads its shuffle output instead of re-running the stages before
    * it, and nothing is pinned. */
  private[graft] def collect[T](rel: RDD[T], alongside: Long = 0L): Option[Array[T]] =
    if (fits(rel.count() + alongside)) Some(rel.collect()) else None

  /** Whether `rows` input rows, counted without shipping them, may be
    * collected to the driver. */
  private[graft] def fits(rows: Long): Boolean = rows <= inputLimit

  /** Whether a driver-side evaluation may produce (or visit) `rows`. */
  private[graft] def fitsOutput(rows: Long): Boolean = rows <= outputLimit
}
