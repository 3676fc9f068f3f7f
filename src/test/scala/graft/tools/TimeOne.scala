package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Solo timing of one or more registered queries at a given SF dir, with
  * the Spark job/stage/task counts each one ran.
  * Usage: Test/runMain graft.TimeOne <sfDir> <query...> [-explain]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("-explain")
    val names = args.drop(1).filterNot(_ == "-explain")
    SparkEntry.requireRegistered(names)
    val spark = GraftSession(32)
    val jobs = new AtomicLong(0); val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    for (n <- names) {
      if (explain)
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      // Bench starts its timer BEFORE query construction — eager
      // localCheckpoints inside the builders do real cluster work, so
      // timing only the final write undercounts (q321's SA build lives
      // entirely in construction). Mirror Bench exactly.
      val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously: the counts can trail the
      // query's last stage by a few events
      println(f"TIMEONE $n%s sec=$sec%.3f jobs=${jobs.get - j0}%d " +
        f"stages=${stages.get - s0}%d tasks=${tasks.get - k0}%d")
    }
    spark.stop()
  }
}
