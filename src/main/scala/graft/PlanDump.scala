package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Optimization-round plan capture: writes `.explain("formatted")` for
  * the named queries to <outDir>/<query>_<tag>.txt — the judge-facing
  * before/after plan evidence (guide §7.2). Usage:
  *   sbt "runMain graft.PlanDump <outDir> <tag> q362_...,q370_..."
  * Plans are captured over SPARK_GRAFT_SF_DIR. NOTE (advisor fix):
  * capture is lazy only for operators without eager internals —
  * queries/ops whose construction localCheckpoints (the chain family,
  * the near-dup kernels, op_delta_d2) EXECUTE those stages at capture
  * time, and the dumped plan reads from the materialized checkpoints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    // operator-level plans (full lineage, no checkpoint truncation) —
    // the chain queries assemble driver-side rows or read checkpoints,
    // so their operator internals are only visible here
    import org.apache.spark.sql.functions._
    def docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"))
    def quant = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("id"),
        operators.Similarity.quantize16(col("embedding")).as("q"))
    val ops: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "op_neardup" -> (() =>
        operators.MinHashLSH.nearDuplicatesPortable(docs, "doc_id", "text")),
      "op_sigstore" -> (() =>
        operators.MinHashLSH.portableSignatureStore(docs, "doc_id", "text")),
      "op_assign" -> (() => operators.IvfIndex.assignPortable(quant,
        operators.IvfIndex.trainPortable(spark, quant, 8, 2))),
      // the chain's assignment shape: centroids checkpointed, argmin
      // inlined (compare against op_assign_before — the window form)
      "op_assign_inlined" -> (() =>
        operators.IvfIndex.assignPortableInlined(quant,
          operators.IvfIndex.trainPortable(spark, quant, 8, 2)
            .localCheckpoint())),
      "op_contam" -> (() => operators.Dedup.benchmarkNgramContamination(
        docs, "doc_id", "text", col("doc_id") % 10 === 0, n = 8)),
      "op_piecevocab" -> (() =>
        operators.UnigramSegment.pieceVocab(docs, "text")),
      // round-17 evidence: the delta day's exact-vs-store + exact-dedup
      // stage (d2) with full lineage, mirroring pipelineDeltaDay's
      // text-hash-artifact probe in THIS tree (the store side is a
      // built, checkpointed store, as in the chain). The before-file
      // twin was generated from the baseline commit with the same
      // mirror over ITS probe (the direct corpus-text semi join).
      "op_delta_d2" -> (() => {
        val pd = docs.localCheckpoint()
        val store = SparkEntry.buildPipelineStore(spark, sfDir,
          pd.filter(col("doc_id") % 7 =!= 3), pd)
        val d1 = SparkEntry.pipelineGate(pd.filter(col("doc_id") % 7 === 3))
        val d1Th = d1.select(xxhash64(col("text")).as("th")).distinct()
        val hitTh = store.textHash.join(d1Th, Seq("th"), "semi")
        val storeTexts = store.docs
          .join(hitTh, xxhash64(col("text")) === col("th"), "semi")
          .select("text")
        val exactVsStore = d1.join(storeTexts, Seq("text"), "semi")
          .select("doc_id")
        d1.join(operators.Dedup.exact(d1, col("text"), col("doc_id"))
            .select(col("keeper_id").as("doc_id")), Seq("doc_id"), "semi")
          .join(exactVsStore, Seq("doc_id"), "left_anti")
      }))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df =
          if (ops.contains(name)) ops(name)()
          else SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[plandump] wrote $name ($tag)")
      } catch { case NonFatal(e) =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
