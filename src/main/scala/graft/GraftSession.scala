package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession construction point. Bench, Verify, PlanDump, the
  * test suites and the tools all run under this config, so timings, plan
  * dumps and answers are taken under the same Catalyst rules. */
object GraftSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // InferFiltersFromGenerate turns every explode into a redundant
      // size(...)>0 filter that predicate pushdown then inlines BELOW
      // the token-binding projections, re-evaluating the per-row
      // shingle/span lambdas per element — measured 25× on the posting
      // builders (8.5 s → 0.34 s at sf0.1). The filter only skips rows
      // explode would drop anyway; excluding the rule is semantics-free.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Scan-parallelism floor: maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes/minPartitionNum)), so this floor
      // only raises split counts once totalBytes/cpus exceeds
      // openCostInBytes (4 MB) — ≥128 MB inputs at 32 cpus, exactly the
      // scale where scan parallelism matters. At sf0.1 it splits only
      // lineitem (11 MB, 3 splits vs 1); an A/B of floor=32 vs floor=1
      // on the nine scan-heavy board queries (best-of-3) measured every
      // delta inside ±0.3 s noise. Derived from the worker count, not a
      // tuned constant.
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
