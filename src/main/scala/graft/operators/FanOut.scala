package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input fan-out for compute-dense derivations
  * (guide §2.5 "input skew: one huge unsplittable file … repartition
  * immediately after the read", applied to the bytes-vs-compute
  * mismatch).
  *
  * Spark sizes scan partitions by BYTES (`maxPartitionBytes`, floored by
  * `openCostInBytes`), but gram explodes, vector-distance kernels, media
  * decoders and hash signatures multiply WORK per input row by 10²–10⁴.
  * A small input file — anything under `openCostInBytes`, like a daily
  * embedding batch or a bench-scale corpus — scans as ONE partition, and
  * the whole dense derivation runs on one core while the rest of the
  * cluster idles.
  *
  * [[fanOutSmall]] spreads the input round-robin when its
  * optimizer-estimated size is small enough that the scan cannot have
  * split it meaningfully; big inputs pass through untouched, so at
  * production scale this is the identity and no plan changes. The
  * estimate is the same plan-stats signal [[DedupIndex.probeHint]]
  * already keys broadcasts on (no Spark job). Round-robin repartition is
  * deterministic under retries (`spark.sql.execution.sortBeforeRepartition`,
  * on by default) and every consumer below it is order-insensitive
  * (aggregates/joins), so results are byte-identical.
  *
  * The fan-out is sized by the work, not by the core count: always
  * repartitioning to `defaultParallelism` made a kilobyte-sized relation
  * (an 8-row query batch, a second-round aggregate output) pay a 32-task
  * exchange per call site at 32 cores, and stacked call sites multiplied
  * that (driver bench q164 0.18×, q176 0.26× at 32 cores vs healthy at
  * 8). So:
  *
  *   1. The TARGET partition count is `estBytes / BytesPerTask`, capped
  *      at `defaultParallelism`. A tiny relation gets few (or no) extra
  *      partitions at ANY core count, so the fan-out does not anti-scale
  *      with cores.
  *   2. A relation whose estimated target is ≤ 2 passes through
  *      untouched — an exchange that buys ≤ 2-way parallelism never
  *      repays its stage latency.
  *
  * Call-site rule: fan out only where the dense work sits BETWEEN the
  * scan and the first shuffle (kernel-in-scan signatures, broadcast
  * cross-join argmax/argmin, stride-1 gram explodes). Derivations whose
  * dense phase runs AFTER a keyed shuffle (per-doc windows, keyed
  * aggregates over cheap map work) must NOT call this — the shuffle
  * already spreads the work and the extra exchange is pure overhead
  * (measured: the anchored-span family regressed 3–5× at 32 cores from
  * exactly that).
  */
private[graft] object FanOut {
  /** Bytes below which an input is considered "scan could not have
    * spread this": `openCostInBytes` (4 MB) × a fixed small factor.
    * Deliberately NOT scaled by core count: `cores × 4 MB` made MORE
    * relations qualify on BIGGER clusters — each then paying a
    * `defaultParallelism`-task shuffle of tiny data. 128 MB ≈ one
    * `maxPartitionBytes` split: above it the scan itself splits the
    * input and the fan-out is moot. */
  private val thresholdBytes: Long = 128L << 20

  /** Estimated input bytes that buy one task of fan-out. 64 KiB of
    * input × the 10²–10⁴ kernel work multiplier ≈ tens of MB of work
    * per task — small enough to spread real corpora wide, large enough
    * that an 8-row probe batch never forces an exchange. */
  private val BytesPerTask: Long = 64L << 10

  /** Run independent Spark ACTIONS (writes, materializations) from
    * parallel driver threads (guide §2.6 "overlap independent jobs"):
    * Spark's scheduler happily runs several jobs at once; sequential
    * driver code is the only reason small independent writes serialize.
    *
    * Waits for EVERY unit to finish (unbounded: a 600 s cap was a
    * scale-dependent hard failure — a corpus-sized overlapped write
    * legitimately exceeds 10 minutes at production scale, and the
    * sequential code it replaced had no such bound), then rethrows the FIRST failure in argument order. Awaiting
    * all before rethrowing means a caller that catches and retries can
    * never race a still-running sibling write into the same path. */
  private[graft] def inParallel(units: (() => Unit)*): Unit = {
    if (units.sizeIs <= 1) { units.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(units.size)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val fs = units.map(u => Future(u()))
      val outcomes = fs.map(f =>
        scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }

  private[graft] def fanOutSmall(df: DataFrame): DataFrame = {
    // streaming frames have no optimizedPlan (batch-only assertion) and
    // their micro-batch planner re-plans per batch anyway — pass through
    if (df.isStreaming) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= BigInt(thresholdBytes)) return df
    val target = (est / BigInt(BytesPerTask)).min(BigInt(cores)).toInt
    if (target <= 2) df else df.repartition(target)
  }
}
