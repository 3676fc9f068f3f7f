package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via flatMapGroupsWithState: per-user running
  * event counts. The keyed-state twin of the batch sessionization — the
  * API surface a 100 TB streaming pipeline uses for arbitrary per-key
  * state (dedup windows, rate counters, session assembly).
  */
object StatefulCounts {

  /** Drive the stateful query synchronously over `<dir>/events.parquet`;
    * returns the final (user_id, n_events) counts. */
  def runningUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = graft.Tables.eventsRawStream(spark, dir)
      .select(col("user_id").cast("long"))
      .as[Long]

    val counted = stream
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          Iterator((uid, total))
      }
      .toDF("user_id", "n_events")

    // update-mode memory sink appends one row per key per trigger; the
    // final state is the max running count per user
    StreamRun.toMemory(spark, counted, "graft_stateful_counts", "update")
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"))
  }
}
