package graft

import graft.domain.Emotions
import graft.operators.Matching

/** Greedy matcher invariants (SURVEY.md §2.9 / §5) and rank-match
  * semantics, plus equivalence of the operators with local replays of
  * the q08 / q09 oracle semantics on random, sparse, tie-heavy score
  * tables. */
class MatchingSpec extends SparkSpec {
  import spark.implicits._
  import MatchingSpec._

  private def epTop2 = Matching.top2Emotions(
    Emotions.toLong(Emotions.episodesWide(spark, sf), Seq("episode_id"))
      .select("episode_id", "emotion", "score"), "episode_id")

  private def stLong =
    Emotions.toLong(Emotions.strainsWide(spark, sf), Seq("strain_id"))
      .select("strain_id", "emotion", "score")

  private def scoresOf(long: Seq[(Long, String, Double)]): Scores =
    long.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap

  /** A random long score table over ids 1..n: scores `nextInt(8)/8`, so
    * ties are common, and about a fifth of the (id, emotion) rows are
    * dropped; every id keeps at least one emotion. */
  private def randomLong(rnd: scala.util.Random, n: Int): Seq[(Long, String, Double)] =
    (1 to n).flatMap { i =>
      val kept = Emotions.names.filter(_ => rnd.nextInt(5) > 0)
      (if (kept.isEmpty) Seq(Emotions.names(rnd.nextInt(6))) else kept)
        .map(e => (i.toLong, e, rnd.nextInt(8) / 8.0))
    }

  test("greedy assignment is injective (no strain matched twice)") {
    val picks = Matching.greedyMatch(spark, epTop2, stLong, poolSize = 100)
      .select("strain_id").as[Long].collect()
    assert(picks.length == picks.distinct.length)
    assert(picks.length == 41)
  }

  test("greedy pick i is the two-stage argmax among strains unconsumed before i") {
    val picks = Matching.greedyMatch(spark, epTop2, stLong, poolSize = 100)
      .orderBy("episode_id")
      .select("episode_id", "strain_id").as[(Long, Long)].collect()
    val st = scoresOf(stLong.as[(Long, String, Double)].collect().toSeq)
    val top2 = epTop2.select("episode_id", "emo1", "emo2")
      .as[(Long, String, String)].collect().toSeq
    assert(picks.toSeq == replayGreedy(top2, st, 100))
  }

  test("greedy removal is observable: the no-removal argmax repeats, greedy does not") {
    // 41 episodes over at most 36 (emo1, emo2) pairs: the no-removal
    // two-stage argmax (rankMatch semantics) must give two episodes of
    // the same pair the same strain; greedy's delete must not
    val noRemoval = Matching.rankMatch(epTop2, stLong, "strain_id",
      poolSize = 3)
      .select("episode_id", "strain_id").as[(Long, Long)].collect().toMap
    val greedy = Matching.greedyMatch(spark, epTop2, stLong, poolSize = 3)
      .select("episode_id", "strain_id").as[(Long, Long)].collect().toMap
    assert(noRemoval.size == 41 && greedy.size == 41)
    assert(noRemoval.values.toSeq.distinct.size < noRemoval.size,
      "no-removal argmax never repeats a strain")
    assert(greedy.values.toSeq.distinct.size == greedy.size)
    assert(greedy.exists { case (ep, st) => noRemoval(ep) != st })
  }

  test("rankMatch: every left entity gets exactly one partner") {
    val stTop2 = Matching.top2Emotions(stLong, "strain_id")
    val epLong = Emotions.toLong(Emotions.episodesWide(spark, sf),
      Seq("episode_id")).select("episode_id", "emotion", "score")
    val m = Matching.rankMatch(stTop2, epLong, "episode_id", 100)
    assert(m.count() == stTop2.count())
    assert(m.select("strain_id").distinct().count() == stTop2.count())
  }

  test("top2Emotions, rankMatch and greedyMatch equal the oracle replays on random sparse tables") {
    (1 to 6).foreach { trial =>
      val rnd = new scala.util.Random(700L + trial)
      val left = randomLong(rnd, 4 + rnd.nextInt(10))
      val right = randomLong(rnd, 8 + rnd.nextInt(16))
      val leftDf = left.toDF("episode_id", "emotion", "score")
      val rightDf = right.toDF("strain_id", "emotion", "score")
      val top2Df = Matching.top2Emotions(leftDf, "episode_id")

      val top2 = top2Df.select("episode_id", "emo1", "emo2", "score1", "score2")
        .as[(Long, String, Option[String], Double, Option[Double])]
        .collect().sortBy(_._1).toSeq
      assert(top2 == replayTop2(left), s"trial $trial: top2")

      val keys = top2.map(t => (t._1, t._2, t._3.orNull))
      val rs = scoresOf(right)
      val ranked = Matching.rankMatch(top2Df, rightDf, "strain_id",
        poolSize = 3)
        .select("episode_id", "strain_id").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(ranked == replayRankMatch(keys, rs, 3), s"trial $trial: rankMatch")

      val greedy = Matching.greedyMatch(spark, top2Df, rightDf, poolSize = 3)
        .select("episode_id", "strain_id").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(greedy == replayGreedy(keys, rs, 3), s"trial $trial: greedy")
    }
  }

  test("greedy: strains lacking emo2 do not crowd valid picks out of the pool") {
    // five strains outrank strain 6 on happy but carry no sad score; a
    // fetch bound applied before the emo2 join would leave episode 1
    // with no candidate, the q09 oracle picks strain 6
    val strains = ((1 to 5).map(i => (i.toLong, "happy", 1.0 - i / 8.0)) ++
      Seq((6L, "happy", 0.125), (6L, "sad", 0.5)))
      .toDF("strain_id", "emotion", "score")
    val eps = Seq((1L, "happy", 0.75), (1L, "sad", 0.5))
      .toDF("episode_id", "emotion", "score")
    val picks = Matching.greedyMatch(spark,
      Matching.top2Emotions(eps, "episode_id"), strains, poolSize = 1)
      .select("episode_id", "strain_id").as[(Long, Long)].collect().toSeq
    assert(picks == Seq(1L -> 6L))
  }

  test("top2Emotions: a single-emotion entity gets null emo2 under ANSI") {
    val long = Seq((1L, "happy", 0.5), (2L, "sad", 0.25), (2L, "fear", 0.75))
      .toDF("episode_id", "emotion", "score")
    val got = Matching.top2Emotions(long, "episode_id")
      .select("episode_id", "emo1", "emo2", "score2")
      .as[(Long, String, Option[String], Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "happy", None, None), (2L, "fear", Some("sad"), Some(0.25))))
  }

  test("top2Emotions ranks like a score-desc window: NaN first, nulls last") {
    val long = Seq[(Long, String, Option[Double])](
      (1L, "angry", None), (1L, "sad", Some(Double.NaN)), (1L, "fear", Some(0.5)),
      (2L, "angry", None), (2L, "happy", Some(0.0)), (2L, "sad", Some(-0.0)))
      .toDF("episode_id", "emotion", "score")
    val got = Matching.top2Emotions(long, "episode_id")
      .select("episode_id", "emo1", "emo2")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "sad", "fear"), (2L, "happy", "sad")))
  }

  test("rankMatch and greedyMatch give 0 rows for an empty left side") {
    val empty = Matching.top2Emotions(
      Seq.empty[(Long, String, Double)].toDF("episode_id", "emotion", "score"),
      "episode_id")
    assert(Matching.rankMatch(empty, stLong, "strain_id", 3)
      .count() == 0)
    assert(Matching.greedyMatch(spark, empty, stLong, 3).count() == 0)
  }
}

/** Local replays of the oracle semantics (OracleSql q08 / q09). */
object MatchingSpec {
  /** id → (emotion → score); an entity may lack some emotions. */
  type Scores = Map[Long, Map[String, Double]]

  /** Per id, sorted: (id, emo1, emo2, score1, score2) by score desc,
    * emotion asc. */
  def replayTop2(long: Seq[(Long, String, Double)])
      : Seq[(Long, String, Option[String], Double, Option[Double])] =
    long.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rows) =>
      val s = rows.sortBy(r => (-r._3, r._2))
      (id, s(0)._2, s.lift(1).map(_._2), s(0)._3, s.lift(1).map(_._3))
    }

  /** Two-stage pick among `candidates`: the top `pool` by emo1 score
    * (desc, id asc) among those scored on emo1, then the best of those
    * scored on emo2 (desc, id asc). */
  private def twoStage(candidates: Iterable[Long], right: Scores,
                       e1: String, e2: String, pool: Int): Option[Long] = {
    val top = candidates.filter(right(_).contains(e1)).toSeq
      .sortBy(id => (-right(id)(e1), id)).take(pool)
      .filter(right(_).contains(e2))
    if (top.isEmpty) None else Some(top.minBy(id => (-right(id)(e2), id)))
  }

  /** q08: no removal; the pool is cut BEFORE the emo2 join. Input
    * (leftId, emo1, emo2) with emo2 possibly null; output by leftId. */
  def replayRankMatch(left: Seq[(Long, String, String)], right: Scores,
                      pool: Int): Seq[(Long, Long)] =
    left.sortBy(_._1).flatMap { case (id, e1, e2) =>
      Option(e2).flatMap(twoStage(right.keys, right, e1, _, pool)).map(id -> _)
    }

  /** q09: episodes in id order; the pool ranks the unconsumed strains
    * scored on BOTH emotions (the oracle joins s1 and s2 before its
    * LIMIT), and each pick is removed. */
  def replayGreedy(left: Seq[(Long, String, String)], right: Scores,
                   pool: Int): Seq[(Long, Long)] = {
    val taken = scala.collection.mutable.Set[Long]()
    left.sortBy(_._1).flatMap { case (id, e1, e2) =>
      val both = right.keys.filter(s =>
        !taken(s) && e2 != null && right(s).contains(e1) && right(s).contains(e2))
      twoStage(both, right, e1, e2, pool).map { best =>
        taken += best
        id -> best
      }
    }
  }
}
