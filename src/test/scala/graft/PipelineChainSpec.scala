package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation chain shared by the q362 composite, the store build and
  * the retrain, run on the synthetic clean-family corpus, where every
  * stage has something to remove (the sf fixtures hold no byte-identical
  * texts, so q362's exact stage removes 0 there); plus the day split the
  * store-chain queries share. */
class PipelineChainSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = {
    val cs = df.columns.sorted
    df.select(cs.head, cs.tail: _*).collect().map(_.toString).sorted.toSeq
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  /** The clean-family corpus plus one doc that quotes a benchmark doc's
    * opening 8-gram: the fixture keeps its benchmark docs singletons,
    * so without it the contamination stage would remove nothing. */
  private def corpus(seed: Int): (DataFrame, DataFrame) = {
    val (docRows, vecRows) = PipelineFixtures.cleanFamilyCorpus(seed)
    val bench = docRows.filter(_._1 % 10 == 0).head
    val rnd = new scala.util.Random(seed)
    val quoteId = docRows.map(_._1).max + 1
    val quote = (bench._2.split(" ").take(8) ++
      Seq.fill(42)(s"q${rnd.nextInt(1000)}")).mkString(" ")
    val docs = (docRows :+ ((quoteId, quote, "s1")))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    val quant = vecRows.map { case (i, q) => (i, q.toSeq) }
      .toDF("id", "q").localCheckpoint()
    (docs, quant)
  }

  Seq(1601, 1602, 1603, 1604, 1605).foreach { seed =>
    test(s"composite chain, seed $seed: stage sets nest, every stage " +
      "removes docs, the disposition ledger counts the stage-size " +
      "differences, and s5 is the batch-built store's corpus") {
      val (docs, quant) = corpus(seed)
      val st = SparkEntry.pipelineStagesFrom(spark, docs, quant)
      val sets = (docs +: st.chain.stages).map(ids)
      sets.sliding(2).zipWithIndex.foreach { case (Seq(outer, inner), i) =>
        assert(inner.subsetOf(outer), s"stage ${i + 1} is not nested")
      }
      val removed = sets.sliding(2).map { case Seq(a, b) =>
        (a.size - b.size).toLong }.toSeq
      val names = Seq("short", "exact_dup", "near_dup", "semantic_dup",
        "contaminated")
      names.zip(removed).drop(1).foreach { case (n, r) =>
        assert(r > 0L, s"stage $n removes nothing on seed $seed")
      }
      val counts = SparkEntry.stageDepthLedger(docs, st.chain.stages,
          st.packed)
        .groupBy("disposition").count().as[(String, Long)].collect().toMap
      (names.zip(removed) :+ ("kept" -> sets.last.size.toLong))
        .foreach { case (n, r) =>
          assert(counts.getOrElse(n, 0L) === r, s"disposition $n")
        }
      val store = SparkEntry.buildPipelineStoreFrom(spark, docs, docs,
        quant)
      assert(rows(st.chain.s5.select("doc_id", "text", "source")) ===
        rows(store.docs.select("doc_id", "text", "source")))
    }
  }

  test("daySplit partitions the corpus: the store corpus and the day " +
    "frames are pairwise disjoint, each day holds its doc_id % 7 " +
    "residue, and together they are every doc") {
    val (docs, _) = corpus(1601)
    val all = ids(docs)
    Seq(Seq(3), Seq(2, 3), Seq(1, 2, 3)).foreach { days =>
      val (storeDocs, dayDocs) = SparkEntry.daySplit(docs, days)
      val parts = (storeDocs +: dayDocs).map(ids)
      assert(parts.map(_.size).sum === all.size,
        s"days $days: parts overlap or miss docs")
      assert(parts.reduce(_ ++ _) === all, s"days $days: union != docs")
      days.zip(parts.tail).foreach { case (d, p) =>
        assert(p.nonEmpty && p.forall(_ % 7 == d), s"day $d")
      }
      assert(parts.head.forall(id => !days.contains((id % 7).toInt)))
    }
  }
}
