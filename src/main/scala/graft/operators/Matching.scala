package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's matching pipelines (SURVEY.md §2.9, ipynb cells 12/15),
  * de-correlated into real Spark plans.
  *
  * Inputs are LONG-form emotion tables: (episode_id, emotion, score) and
  * (strain_id, emotion, score), plus name dimensions.
  *
  * Scale story: the match pool depends only on the left entity's emo1
  * and the two-stage argmax only on its (emo1, emo2) pair, so the work
  * is keyed by emotion, never by left entity. With E emotions (6 here)
  * the right side is ranked once per emotion, O(E·|right|) rows, and
  * the left side meets at most E² = 36 precomputed answers through a
  * broadcast join — no |left| × |right| pool is ever built.
  */
object Matching {

  /** Ascending struct-sort key fields equal to `score DESC NULLS LAST`
    * under Spark's ordering (NaN greatest, so first): lets `min` /
    * `sort_array` over a struct rank by score descending. */
  private def descKey(score: Column): Seq[Column] =
    Seq(score.isNull, !isnan(score), -score)

  /** Per-entity top-2 emotions → one row per entity:
    * (id, emo1, emo2, score1, score2). Tie-break: score desc, emotion asc.
    * Rebuild of the per-row dict sort (ipynb cell 12 lines 146-155): one
    * aggregation sorts each entity's (few) emotions. An entity with a
    * single emotion gets null emo2/score2. */
  def top2Emotions(long: DataFrame, idCol: String): DataFrame = {
    val ranked = long.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        descKey(col("score")) :+ col("emotion") :+ col("score"): _*)))
        .as("ranked"))
    // try_element_at: past-the-end is null, not an error, under ANSI
    def nth(n: Int) = try_element_at(col("ranked"), lit(n))
    ranked.select(col(idCol),
      nth(1).getField("emotion").as("emo1"),
      nth(2).getField("emotion").as("emo2"),
      nth(1).getField("score").as("score1"),
      nth(2).getField("score").as("score2"))
  }

  /** Cell-15 reverse matching, de-correlated (J6): for each LEFT entity
    * (its top-2 emotions already computed), pick the RIGHT entity by the
    * two-stage nested-limit rule: restrict to the top-`poolSize` right
    * entities by the left's emo1 score (s1 desc, id asc), then argmax by
    * emo2 score (s2 desc, id asc) among the pool members scored on emo2.
    *
    * The pool is computed once per emo1 (the oracle's `pool` CTE), the
    * argmax once per (emo1, emo2) pair; the ≤ E² answers are broadcast
    * to the left side. Output: the left columns plus (rightId, s1, s2).
    *
    * Unlike cell 12 there is no delete: right entities may repeat.
    */
  def rankMatch(leftTop2: DataFrame, rightLong: DataFrame, rightId: String,
                poolSize: Int): DataFrame = {
    val w1 = Window.partitionBy(col("emo1"))
      .orderBy(col("s1").desc, col(rightId).asc)
    val pools = rightLong
      .select(col("emotion").as("emo1"), col(rightId), col("score").as("s1"))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= poolSize)
    val s2 = rightLong
      .select(col("emotion").as("emo2"), col(rightId), col("score").as("s2"))
    val best = pools.join(s2, Seq(rightId))
      .groupBy(col("emo1"), col("emo2"))
      .agg(min(struct(descKey(col("s2")) ++
        Seq(col(rightId), col("s1"), col("s2")): _*)).as("b"))
      .select(col("emo1"), col("emo2"), col(s"b.$rightId"),
        col("b.s1"), col("b.s2"))
    leftTop2.join(broadcast(best), Seq("emo1", "emo2"))
  }

  /** Cell-12 greedy matching-without-replacement (SURVEY.md §2.9):
    * episodes IN ID ORDER each claim their best strain under the K1
    * two-stage rule; a claimed strain is deleted from the pool (the
    * reference's `DELETE FROM strain_review_table` inside the loop).
    * Iteration i depends on 1..i-1 — inherently sequential.
    *
    * Scale design: `epTop2` is collected once (count, order and
    * emotions). ONE distributed job then ranks, per (emo1, emo2) pair
    * the episodes need, the strains scored on BOTH emotions by emo1
    * score and keeps the top (poolSize + #episodes): at most
    * #episodes-1 strains are consumed before any step, so the surviving
    * top-poolSize pool is always inside that list. At most E² lists
    * reach the driver, whatever the strain cardinality; the
    * O(episodes·pool) fold then runs there in microseconds.
    */
  def greedyMatch(spark: SparkSession,
                  epTop2: DataFrame, strainLong: DataFrame,
                  poolSize: Int): DataFrame = {
    import spark.implicits._

    val episodes = epTop2.select($"episode_id", $"emo1", $"emo2")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val pairs = episodes.collect {
      case (_, e1, e2) if e1 != null && e2 != null => (e1, e2)
    }.distinct
    val fetch = poolSize + episodes.length

    // per needed pair: (strain, s1, s2) by emo1 score desc, strain asc
    val candidates: Map[(String, String), Array[(Long, Double, Double)]] =
      if (pairs.isEmpty) Map.empty
      else {
        val s1 = strainLong.select($"emotion".as("emo1"), $"strain_id",
          $"score".as("s1"))
        val s2 = strainLong.select($"emotion".as("emo2"), $"strain_id",
          $"score".as("s2"))
        val w1 = Window.partitionBy($"emo1", $"emo2")
          .orderBy($"s1".desc, $"strain_id".asc)
        s1.join(s2, Seq("strain_id"))
          .filter(pairs.map { case (e1, e2) =>
            $"emo1" === e1 && $"emo2" === e2 }.reduce(_ || _))
          .withColumn("r1", row_number().over(w1))
          .filter($"r1" <= fetch)
          .select($"emo1", $"emo2", $"r1", $"strain_id", $"s1", $"s2")
          .as[(String, String, Int, Long, Double, Double)]
          .collect()
          .groupBy(c => (c._1, c._2))
          .map { case (k, cs) => k -> cs.sortBy(_._3).map(c => (c._4, c._5, c._6)) }
      }

    val taken = scala.collection.mutable.Set[Long]()
    val picks = episodes.flatMap { case (ep, e1, e2) =>
      val pool = candidates.getOrElse((e1, e2), Array.empty)
        .iterator.filterNot(c => taken(c._1))
        .take(poolSize)                       // surviving two-stage pool
        .toVector
      if (pool.isEmpty) None
      else {
        val best = pool.minBy(c => (-c._3, c._1)) // emo2 desc, strain asc
        taken += best._1
        Some((ep, best._1, best._2, best._3))
      }
    }
    spark.createDataFrame(picks.toSeq)
      .toDF("episode_id", "strain_id", "score1", "score2")
  }
}
