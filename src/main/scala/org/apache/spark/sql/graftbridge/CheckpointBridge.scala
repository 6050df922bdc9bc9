package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Statistics-bearing local checkpoints (optimization round r20).
  *
  * `Dataset.localCheckpoint(true)` replaces the frame's plan with a
  * `LogicalRDD` whose statistics are REWRITTEN ESTIMATES of the plan
  * that produced it (`LogicalRDD.fromDataset` → rewriteStats). Through
  * explode/join/aggregate chains those estimates can be wrong by
  * orders of magnitude in BOTH directions, and two optimizer decisions
  * misfire on the engine's bounded model-state frames (trained
  * centroids/codebooks, shingle sets, candidate edges):
  *
  *  - `InjectRuntimeFilter` sees a "huge" application side and plants
  *    a default-sized (1,000,000-item / 8,388,608-bit = 1 MiB) bloom
  *    filter on joins between kilobyte-sized frames; the evaluated
  *    filter rides the scalar-subquery literal INSIDE every downstream
  *    stage's task binary — the r19 verdict's "Broadcasting large task
  *    binary with size 1.0–4.4 MiB" warnings were exactly two such
  *    filters per stage (b4_pq_verified / b4_ivfpq_verified), paid per
  *    task at deserialization;
  *  - broadcast/shuffled-hash selection reads the same guesses, so a
  *    kilobyte frame may stay on a shuffle join and a large one may be
  *    collected to the driver.
  *
  * After materialization the guessing is unnecessary: the row count is
  * KNOWN (the eager checkpoint's materialization job returns it), so
  * this helper materializes via `rdd.count()` — the same single job
  * `localCheckpoint(true)` runs internally, result kept instead of
  * discarded — and rebuilds the `LogicalRDD` with
  * `Statistics(sizeInBytes = rowCount × schema row width,
  * rowCount = Some(rowCount))`. The size unit (schema default widths,
  * as in Spark's own `EstimationUtils.getSizePerRow`) is deliberately
  * the unit every optimizer threshold was tuned against — NOT the
  * block manager's deserialized byte count, which overstates the frame
  * 2–5× against thresholds meant for estimates. Decisions then size
  * themselves correctly at EVERY scale: a kilobyte model-state frame
  * stops attracting megabyte bloom filters and broadcasts when it
  * should, while a genuinely large checkpointed frame (100 TB runs)
  * reports its real cardinality and keeps shuffle-side plans.
  */
object CheckpointBridge {

  /** Eager local checkpoint whose resulting plan carries exact
    * `rowCount` statistics (and the size estimate derived from it). */
  def localCheckpointWithStats(df: DataFrame): DataFrame = {
    // lazy mark; the count below IS the materialization job (same job
    // count as an eager checkpoint, row count kept instead of thrown)
    val cp = df.localCheckpoint(false)
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val n = lr.rdd.count()
        val rowWidth = 8L + lr.output.map(_.dataType.defaultSize.toLong).sum
        val stats = Statistics(
          sizeInBytes = (BigInt(n) * BigInt(rowWidth)).max(BigInt(1)),
          rowCount = Some(BigInt(n)))
        val spark = df.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        // the constraints the stock checkpoint carries (e.g. inferred
        // non-nullability) ride along unchanged; `constraints` is the
        // node's origin set minus subquery-bearing predicates, and
        // filtering it again is the identity
        PlanBridge.ofRows(spark,
          new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            spark, Some(stats), Some(lr.constraints)))
      case _ => cp
    }
  }
}
