package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming sketch maintenance — HLL registers kept up to date by a
  * STREAMING aggregation: the per-row register derivation is the
  * exact batch kernel ([[graft.operators.Sketches.hllRegisterRows]]),
  * run under a streaming groupBy-MAX in complete mode, so the stream's
  * register state equals the batch sketch of everything ingested BY
  * CONSTRUCTION (max is order-independent and mergeable — the same
  * property that makes the sketch shard-mergeable in q268 makes it
  * stream-maintainable here). This is how a 100 TB pipeline keeps
  * live cardinality dashboards: the stream maintains registers, the
  * estimate is derived on read, and nightly batch recomputation
  * reconciles bit-for-bit (deterministic PRF — no HLL++ nondeterminism
  * across engines or arrival orders).
  *
  * Scale shape: streaming state is |groups|·m rows regardless of
  * event volume — the mergeable-sketch exchange as streaming state;
  * complete-mode output is that bounded frame. */
object StreamSketch {

  /** Drive `<dir>/events.parquet` through the streaming register
    * aggregation; returns the final (event_type, register, max_rho)
    * state. Deterministic, so the q233 arithmetic over the same rows
    * is a full-strength oracle. */
  def hllPerType(spark: SparkSession, dir: String, m: Int = 64): DataFrame = {
    val stream = graft.Tables.eventsRawStream(spark, dir)
    val regs = graft.operators.Sketches
      .hllRegisterRows(stream, "event_type", "user_id", m)
      .groupBy(col("grp"), col("register"))
      .agg(max(col("rho")).cast("long").as("max_rho"))
    StreamRun.toMemory(spark, regs, "graft_stream_hll", "complete")
      .select(col("grp").as("event_type"), col("register"),
        col("max_rho"))
  }
}
