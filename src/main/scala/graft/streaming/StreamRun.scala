package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared synchronous micro-batch driver for the fixture-scale
  * streaming queries: run to a memory sink, drain, return the sink
  * table. Two session confs are scoped to the query's START (the conf
  * is cloned into the query's own session then, so surrounding batch
  * plans never see them):
  *
  *  - `spark.sql.shuffle.partitions` = [[StatePartitions]];
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    [[LocalCheckpointFileManager]]: the memory sink's checkpoint is a
  *    local temp dir, and the stock manager forks a `chmod`/`readlink`
  *    process per checkpoint file without `libhadoop`.
  *
  * Each key is restored exactly: set back if it was set, unset if it
  * was not, also when `start()` throws. */
object StreamRun {

  /** Stateful operators allocate state stores PER shuffle partition (a
    * stream-stream join keeps 4 per partition), and every micro-batch
    * commits each store. At the session default of 32 partitions that
    * per-store cost dominated the q292 join (round-10 plan audit;
    * 6.5 → 2.9 s at 8). Results are partition-count independent (only
    * placement moves); a real deployment sizes this to state volume. */
  val StatePartitions = 8

  private val scoped = Seq(
    "spark.sql.shuffle.partitions" -> StatePartitions.toString,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName)

  def toMemory(spark: SparkSession, df: DataFrame, name: String,
               mode: String): DataFrame = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val set = spark.conf.getAll // explicitly set keys only
    val prev = scoped.map { case (k, _) => k -> set.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try df.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
