package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the statistics-bearing local checkpoint (r20 optimization):
  * QueryRegistry.ckpt must return the same rows as a stock eager
  * localCheckpoint while the resulting plan carries EXACT rowCount
  * statistics — the fix for the r19 verdict's 1–4.4 MiB task binaries
  * (default-sized runtime bloom filters injected over estimate-less
  * checkpointed frames; CheckpointBridge docs). */
class CheckpointStatsSpec extends AnyFunSuite with SparkFixture {

  private def frame() = {
    import spark.implicits._
    (1 to 1000).map(i => (i.toLong, s"row$i", i * 1.5)).toDF("id", "s", "v")
  }

  test("ckpt preserves rows and schema exactly") {
    val df = frame()
    val cp = QueryRegistry.ckpt(df)
    assert(cp.schema === df.schema)
    assert(cp.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("ckpt attaches exact rowCount and a width-derived size") {
    val cp = QueryRegistry.ckpt(frame())
    val stats = cp.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(1000)),
      s"expected exact rowCount, got ${stats.rowCount}")
    // size unit = Spark estimation widths (8 + Σ defaultSize), not the
    // block manager's deserialized bytes
    val width = 8L + cp.schema.fields.map(_.dataType.defaultSize.toLong).sum
    assert(stats.sizeInBytes === BigInt(1000) * BigInt(width))
  }

  test("ckpt keeps the checkpointed plan's constraints") {
    import org.apache.spark.sql.execution.LogicalRDD
    def constraintsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.collectFirst {
        case lr: LogicalRDD => lr.constraints.map(_.sql).toSet
      }.get
    val df = frame().filter(col("v") > 10.0)
    val stock = constraintsOf(df.localCheckpoint(true))
    assert(stock.contains("(v IS NOT NULL)"), stock)
    assert(constraintsOf(QueryRegistry.ckpt(df)) === stock)
  }

  test("empty frame checkpoints with zero rowCount, nonzero size floor") {
    val cp = QueryRegistry.ckpt(frame().filter(col("id") < 0))
    val stats = cp.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(0)))
    assert(stats.sizeInBytes === BigInt(1))
  }
}
