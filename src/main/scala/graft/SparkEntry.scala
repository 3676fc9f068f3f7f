package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain.Emotions
import graft.functions.Strings
import graft.operators._
import graft.sources.JsonSources
import graft.streaming.EventsStream
import scala.collection.immutable.ListMap

/** Driver contract (SURVEY.md §7): every implemented operator from the
  * §2 inventory is registered here as a named query over the testdata
  * tables, with a DuckDB-equivalent oracle SQL where the semantics are
  * SQL-expressible. Column names are aligned between the Spark result
  * and the oracle (the driver sorts columns by name and hash-compares
  * values).
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7 step 0): the reverse matching
    * pipeline (ipynb cell 15), de-correlated into unpivot → per-entity
    * top-2 → two-stage rank-join. Driver smoke-checks rows > 0 on
    * sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    qMatchReverse(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")

  private def strainLong(strainsWide: DataFrame): DataFrame =
    Emotions.toLong(strainsWide, Seq("strain_id", "strain_name"))
      .select("strain_id", "emotion", "score")

  private def episodeLong(episodesWide: DataFrame): DataFrame =
    Emotions.toLong(episodesWide, Seq("episode_id", "episode_name"))
      .select("episode_id", "emotion", "score")

  // ------------------------------------------------------------- the queries

  /** A1/TPC-H-Q1-style wide aggregation with pushdown-able filter.
    * Money math in decimal so Spark and DuckDB agree bit-for-bit. */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec4(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** K1: the reference's two-stage nested-limit top-k (ipynb cell 12
    * line 160) with explicit total-order tie-breaks. */
  private def qTopkNestedLimit(s: SparkSession, dir: String): DataFrame =
    TopK.nestedLimit(
      Emotions.strainsWide(s, dir),
      poolSize = 100,
      first = Seq(col("happy").desc, col("strain_id").asc),
      second = Seq(col("excited").desc, col("strain_id").asc),
      take = 5)
      .select("strain_id", "strain_name", "happy", "excited")

  /** J1/J3: broadcast dimension joins customer ⋈ nation ⋈ region. */
  private def qDimJoinAgg(s: SparkSession, dir: String): DataFrame =
    Joins.broadcastDim(
      Joins.broadcastDim(
        Tables.customer(s, dir),
        Tables.nation(s, dir).withColumnRenamed("n_nationkey", "c_nationkey"),
        Seq("c_nationkey")),
      Tables.region(s, dir).withColumnRenamed("r_regionkey", "n_regionkey"),
      Seq("n_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_acctbal"))
      .orderBy(col("r_name"))

  /** J4 (detection half): parts never referenced by any lineitem. */
  private def qPartsNoLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .join(Tables.lineitem(s, dir),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  /** P3 as semi join: customers having at least one big order. */
  private def qBigOrderCustomers(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** K4: per-group top-n (top-2 parts by retail price per brand). */
  private def qTop2PerBrand(s: SparkSession, dir: String): DataFrame =
    TopK.perGroupTopN(
      Tables.part(s, dir),
      partition = Seq(col("p_brand")),
      order = Seq(col("p_retailprice").desc, col("p_partkey").asc),
      n = 2)
      .select("p_brand", "rn", "p_partkey", "p_name", "p_retailprice")
      .orderBy("p_brand", "rn")

  /** R1: wide→long unpivot of the 6 emotion columns. */
  private def qUnpivotEmotions(s: SparkSession, dir: String): DataFrame =
    Emotions.toLong(Emotions.episodesWide(s, dir),
      Seq("episode_id", "episode_name"))
      .orderBy("episode_id", "emotion")

  /** J6 flagship: reverse matching, de-correlated (see `entry`). */
  private def qMatchReverse(s: SparkSession, dir: String): DataFrame = {
    val strains = Emotions.strainsWide(s, dir)
    val episodes = Emotions.episodesWide(s, dir)
    val stTop2 = Matching.top2Emotions(strainLong(strains), "strain_id")
    val matched = Matching.rankMatch(
      stTop2, episodeLong(episodes), "episode_id", poolSize = 100)
    matched
      .join(strains.select("strain_id", "strain_name"), Seq("strain_id"))
      .join(episodes.select("episode_id", "episode_name"), Seq("episode_id"))
      .select("strain_id", "strain_name", "emo1", "emo2",
        "episode_id", "episode_name")
      .orderBy("strain_id")
  }

  /** §2.9: greedy matching-without-replacement (cell 12). Distributed
    * candidate matrix + driver fold; no SQL oracle (sequential
    * semantics), verified by ScalaTest invariants. */
  private def qGreedyMatch(s: SparkSession, dir: String): DataFrame = {
    val epTop2 = Matching.top2Emotions(
      episodeLong(Emotions.episodesWide(s, dir)), "episode_id")
    Matching.greedyMatch(s, epTop2, strainLong(Emotions.strainsWide(s, dir)),
      poolSize = 100)
      .orderBy("episode_id")
  }

  /** F1-F7: normalization / slug pipeline over episode names. */
  private def qSlugNormalize(s: SparkSession, dir: String): DataFrame = {
    val eps = Emotions.episodesWide(s, dir).select("episode_id", "episode_name")
    val stripped = Strings.conditionalStrip(
      col("episode_name"), col("episode_id"), Seq(19, 25, 32, 35))
    eps.select(
      col("episode_id"),
      col("episode_name"),
      stripped.as("stripped"),
      Strings.slug(lower(stripped)).as("slug"),
      Strings.wordCount(col("episode_name")).as("n_words"),
      Strings.fandomUrl(Strings.slug(stripped)).as("url"),
      Strings.capitalize(col("episode_name")).as("capitalized"))
      .orderBy("episode_id")
  }

  /** J7/R3: bridge-table expansion via explode (the legacy
    * strain_to_positive_table shape). */
  private def qBridgeExplode(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_brand"), explode(split(col("p_type"), " ")).as("type_word"))
      .groupBy(col("type_word"))
      .agg(count(lit(1)).as("n_parts"),
        countDistinct(col("p_brand")).as("n_brands"))
      .orderBy("type_word")

  /** A1: mean emotion vector (long form). Scores are exact binary
    * fractions → exact sums in any partition order. */
  private def qMeanEmotionVector(s: SparkSession, dir: String): DataFrame =
    strainLong(Emotions.strainsWide(s, dir))
      .groupBy(col("emotion"))
      .agg(avg(col("score")).as("avg_score"), count(lit(1)).as("n"))
      .orderBy("emotion")

  /** F9/S1: JSON prop extraction + aggregation over events. */
  private def qEventsEnriched(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "(\\d+)", 1).cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec6(col("value"))).cast("double").as("sum_value"),
        (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Sessionization over the events table (30-min gap). */
  private def qUserSessions(s: SparkSession, dir: String): DataFrame =
    Sessions.userSessionStats(Tables.events(s, dir), gapSeconds = 1800)
      .orderBy("user_id")

  /** Exact dedup by full text (hash-groupBy). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("keeper_id")

  /** Token/char statistics per document. */
  private def qTokenStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Heuristic quality scoring per document. */
  private def qQualityScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Stopword-voting language ID per document. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** n-gram Jaccard near-dup candidates: top-20 most similar pairs.
    * maxShingleFreq caps the posting-list fan-out: shingles shared by
    * more than 50 docs are dropped from candidate generation (the
    * standard stop-shingle skew guard — a hot shingle otherwise joins
    * df² pairs). The oracle mirrors the same pruning predicate. */
  private def qNgramSimPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", n = 3,
        maxShingleFreq = 50)
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(20)

  /** Multimodal binary-column pipeline (decode stubbed; plumbing real).
    * Restricted to pure-ASCII docs so byte-level features are
    * SQL-oracle-able via codepoints. */
  private def qMediaMeta(s: SparkSession, dir: String): DataFrame = {
    val asciiDocs = Tables.documents(s, dir)
      .filter(octet_length(col("text")) === length(col("text")))
    Multimodal.extract(s, Multimodal.withPayload(asciiDocs, "doc_id", "text"))
      .toDF()
      .orderBy("doc_id")
  }

  /** Structured Streaming: daily windowed aggregation over events. */
  private def qStreamDaily(s: SparkSession, dir: String): DataFrame =
    EventsStream.dailyTypeCounts(s, dir)
      .orderBy("day_start", "event_type")

  /** Brute-force cosine top-5 neighbors for every 20th vector. */
  private def qAnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.bruteForceTopKFast(s, queries, corpus, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** Hyperplane-LSH approximate cosine top-5 — round-7 promotion: the
    * PRIMARY is now the portable-arithmetic construction (q175's body:
    * fixed-point vectors, PRF-literal planes, integer dot ranking), so
    * this row is fully DuckDB-oracle-checked instead of rows-only. The
    * engine-native float kernel ([[Similarity.lshTopK]], multi-probe)
    * remains the documented scale path, pinned by its recall and
    * multi-probe-dominance specs in DedupSpec. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshPortableTopK(Tables.embeddings(s, dir), dims = 64,
        nPlanes = 8, k = 5, queryMod = 20)
      .orderBy("query_id", "rank")

  /** MinHash-LSH near-duplicate pairs — round-7 promotion: the PRIMARY
    * is the portable polynomial-hash construction (q132's body), fully
    * oracle-checked. The xxhash64 sparse kernel
    * ([[MinHashLSH.nearDuplicatesSparse]], ~30% faster at sf0.1 and
    * persist-free) remains the scale path, DedupSpec-pinned equal to
    * the dense form. */
  private def qMinhashNearDups(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDuplicatesPortable(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("a", "b")

  /** SimHash Hamming-near pairs — round-7 promotion: the PRIMARY is
    * the portable integer construction (q133's body), fully
    * oracle-checked; the xxhash64 fingerprint kernel stays the scale
    * path under its DedupSpec fixtures. */
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    SimHash.nearPairsPortable(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3)
      .orderBy("a", "b")

  /** Rolling polynomial document fingerprint. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** J4 both halves: keyed upsert (replace-or-append). */
  private def qUpsertSuppliers(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val incoming = sup.filter(col("s_nationkey") < 10)
      .withColumn("s_acctbal",
        (dec2(col("s_acctbal")) * 2).cast("double"))
    Joins.upsert(sup, incoming, Seq("s_suppkey")).orderBy("s_suppkey")
  }

  /** S4: deterministic lexicon emotion scorer over document text. */
  private def qEmotionScores(s: SparkSession, dir: String): DataFrame =
    graft.functions.EmotionScore
      .scoreWide(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** End-to-end text pipeline: score text → split episodes/strains →
    * reverse rank-match. The reference's Scraper + cell-15 flow with
    * real text-derived vectors instead of the remote emotion API. */
  private def qTextMatchPipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.functions.EmotionScore
      .scoreWide(Tables.documents(s, dir), "doc_id", "text")
    val epLong = Emotions.toLong(
      scored.filter(col("doc_id") < 41)
        .withColumnRenamed("doc_id", "episode_id"),
      Seq("episode_id")).select("episode_id", "emotion", "score")
    val stLong = Emotions.toLong(
      scored.filter(col("doc_id") >= 41)
        .withColumnRenamed("doc_id", "strain_id"),
      Seq("strain_id")).select("strain_id", "emotion", "score")
    val stTop2 = Matching.top2Emotions(stLong, "strain_id")
    Matching.rankMatch(stTop2, epLong, "episode_id", poolSize = 100)
      .select("strain_id", "emo1", "emo2", "episode_id")
      .orderBy("strain_id")
  }

  /** S1/R3/J7: JSON-record source → from_json parse → bridge-table
    * explode, over an in-engine payload built from part rows. */
  private def qJsonBridge(s: SparkSession, dir: String): DataFrame = {
    val payloads = graft.sources.JsonSources
      .partAsStrainJson(Tables.part(s, dir))
    payloads
      .select(graft.sources.JsonSources.strainBridge(col("payload")).as("st"))
      .select(col("st.id").as("strain_id"), col("st.race").as("race"),
        explode(col("st.flavors")).as("flavor"))
      .groupBy(col("flavor"))
      .agg(count(lit(1)).as("n_strains"),
        countDistinct(col("race")).as("n_races"),
        min(col("strain_id")).as("min_strain_id"))
      .orderBy("flavor")
  }

  /** Skew-aware salted aggregation: results identical to plain groupBy
    * (decimal-cast sums), execution fans hot keys over many reducers. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    SkewAgg.saltedSumCount(
      Tables.events(s, dir).withColumn("v", dec6(col("value"))),
      key = col("event_type"), value = col("v"),
      saltSource = col("event_id"), salts = 16)
      .select(col("k").as("event_type"),
        col("sum_value").cast("double").as("sum_value"), col("n"))
      .orderBy("event_type")

  /** Embedding-space near-duplicate pairs via banded random-hyperplane
    * LSH: candidates meet only through a shared (band, bucket) key, are
    * deduplicated, then cosine-verified — no cross join, no driver-side
    * collect (the exact all-pairs kernel survives as DedupSpec's ground
    * truth; recall vs it is pinned there). The DuckDB oracle applies
    * the identical banding (the hyperplane constants are emitted as SQL
    * literals), so the hash check is exact. */
  private def qEmbeddingDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(Tables.embeddings(s, dir), dims = 64,
      planesPerBand = 4, nBands = 8, threshold = 0.4)
      .select("a", "b")
      .orderBy("a", "b")

  /** Cell-14 interactive lookup: "which strain matched episode N?" —
    * a point lookup over the greedy-match result plus the formatted
    * wiki URL (F6). N is pinned to the 10th episode for determinism. */
  private def qEpisodeLookup(s: SparkSession, dir: String): DataFrame = {
    val eps = Emotions.episodesWide(s, dir).select("episode_id", "episode_name")
    val strains = Emotions.strainsWide(s, dir).select("strain_id", "strain_name")
    val picks = qGreedyMatch(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("episode_id"))
    picks
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 10)
      .join(eps, Seq("episode_id"))
      .join(strains, Seq("strain_id"))
      .select(col("episode_id"), col("episode_name"),
        col("strain_id"), col("strain_name"),
        Strings.fandomUrl(Strings.slug(
          Strings.conditionalStrip(col("episode_name"), col("episode_id"),
            Seq(19, 25, 32, 35)))).as("url"))
  }

  /** Cell-17 interactive lookup: "which episode matched strains whose
    * name contains X?" — substring guard (P5), the cell-17 slug
    * pipeline with its undefined-`name` bug fixed (strip applied
    * safely), over the reverse-match result. */
  private def qStrainLookup(s: SparkSession, dir: String): DataFrame =
    qMatchReverse(s, dir)
      .filter(col("strain_name").contains("gear"))
      .select(col("strain_id"), col("strain_name"),
        col("episode_id"), col("episode_name"),
        Strings.fandomUrl(Strings.slug(
          Strings.conditionalStrip(col("episode_name"), col("episode_id"),
            Seq(19, 25, 32, 35)))).as("url"))
      .orderBy("strain_id")

  /** Per-label embedding centroids (long-form decimal-exact means). */
  private def qLabelCentroids(s: SparkSession, dir: String): DataFrame =
    VectorMean.centroidsLong(Tables.embeddings(s, dir), "label", "embedding")
      .orderBy("label", "pos")

  /** Built-in session_window over events — same sessions as q14's
    * lag/sum formulation, native windowed-aggregation form. */
  private def qSessionWindows(s: SparkSession, dir: String): DataFrame =
    Sessions.sessionWindows(Tables.events(s, dir), gapSeconds = 1800)
      .orderBy("user_id", "session_start")

  /** Multimodal frame sampling (stubbed decode, real fan-out shape):
    * one row per sampled frame of each ASCII payload. */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    val asciiDocs = Tables.documents(s, dir)
      .filter(octet_length(col("text")) === length(col("text")))
    Multimodal.sampleFrames(s,
      Multimodal.withPayload(asciiDocs, "doc_id", "text"),
      stride = 64, maxFrames = 4)
      .orderBy("doc_id", "frame_idx")
  }

  /** Round-8: REAL image-container decode, oracle-checked. Every doc
    * renders a closed-form pattern raster encoded into genuine BMP
    * (even ids) / PNG (odd ids) bytes in-engine, then the pure-JVM
    * decoder ([[graft.functions.ImageCodec]]) recovers the pixels and
    * publishes all-integer stats; DuckDB replays the same stats from
    * the pattern formula with no image support, so a hash match is a
    * byte-exact proof of both container walks (header arithmetic,
    * zlib inflate, PNG unfiltering) on every row. Map-only. */
  private def qImagePixels(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticImagePayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-9: the broadened real-crawl PNG profiles through the same
    * decode→stats kernel as q214 — payloads rotate BMP / truecolor
    * PNG / PALETTED PNG (PLTE indirection) / 8-bit GRAYSCALE PNG by
    * id mod 4; the oracle replays per-profile closed forms, so a hash
    * match proves byte-exact recovery through the palette lookup and
    * the gray expansion on every row. */
  private def qPngProfiles(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticMixedImagePayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-9: REAL baseline JPEG decode, oracle-checked — DC-only
    * grayscale JPEGs (marker walk, canonical Huffman with ±63 DC
    * swings, dequant, IDCT, level shift) through the same
    * decode→stats kernel as q214; the closed-form flat-block
    * reconstruction (pixel = 2·dc + 128) is what lets DuckDB replay
    * the stats with zero image support. */
  private def qJpegPixels(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticJpegPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-10: PROGRESSIVE (SOF2) JPEG through the driver gate — the
    * q256 block grid re-encoded as a five-scan Annex G script (DC
    * successive approximation + split-band AC scans with EOB runs);
    * the closed form is identical, so a hash match proves the
    * multi-scan coefficient accumulation reconstructs bit-for-bit
    * what the baseline walk would. */
  private def qJpegProgressive(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticProgressiveJpegPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-10: the PIXEL-LEVEL JPEG ENCODER through the driver gate —
    * the engine receives raw rasters (block-constant even values) and
    * runs the full forward path in-engine: level shift, separable
    * forward DCT, quantization, zigzag, canonical-Huffman entropy
    * coding — then decodes its own stream back through the q256
    * kernel. The fixture's round trip is exact by construction
    * (F00 = 8·(v−128), AC → 0, even v), so a hash match pins the
    * encoder arithmetic end to end, not just the decoder. */
  private def qJpegEncode(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticEncodedJpegPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-9: the COLOR JPEG walk through the driver gate — even ids
    * grayscale, odd ids 3-component 4:4:4 with flat Y/Cb/Cr planes;
    * the oracle replays the decoder's fixed-point BT.601 (BIGINT
    * arithmetic >> 16, clamps included), so a hash match pins the
    * interleaved-component decode and the color conversion
    * bit-for-bit. */
  private def qJpegColor(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticMixedJpegPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-9: the 4:2:0 JPEG walk through the driver gate — the
    * dominant real-crawl profile (2×2 Y + subsampled chroma per MCU);
    * the oracle replays the two-grid closed form through the
    * replication upsampling and fixed-point conversion. */
  private def qJpeg420(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticJpeg420Payloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imagePixelStats(s, payloads, side = 4)
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        col("resized_luma_sum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-10: autocorrelation pitch probe over REAL decoded PCM —
    * the time-domain pitch detector every speech front end starts
    * from: per doc, the R-maximizing lag in [2, 31] over the first
    * 64 samples, with R(0) for voicing strength. All-integer; the
    * oracle replays the q215 waveform closed form with a lag
    * self-join. */
  private def qPitchAutocorr(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticAudioPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.pitchAutocorr(s, payloads)
      .select(col("doc_id"), col("best_lag").cast("long").as("best_lag"),
        col("r_best"), col("r0"))
      .orderBy("doc_id")
  }

  /** Round-8: REAL WAV (RIFF PCM) decode, oracle-checked — the audio
    * twin of [[qImagePixels]]: closed-form 16-bit waveforms encoded
    * into genuine WAV bytes in-engine, decoded back distributed, and
    * published as all-integer PCM stats DuckDB replays from the
    * formula (lag for the zero-crossings). Map-only. */
  private def qAudioPcm(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticAudioPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.audioPcmStats(s, payloads)
      .select(col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_samples"), col("dur_ms"), col("sum_abs"), col("max_abs"),
        col("zero_crossings"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Round-8: REAL animated-GIF multi-frame decode, oracle-checked —
    * the video arm: closed-form palette rasters encoded into genuine
    * GIF89a bytes in-engine (variable-width LZW, graphic-control
    * delays), decoded back distributed with one row per frame, and
    * published as all-integer per-frame stats DuckDB replays from
    * the formula. Map-only flatMap fan-out. */
  private def qGifFrames(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticGifPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.gifFrameStats(s, payloads)
      .select(col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("delay_cs").cast("long").as("delay_cs"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Round-8: VAD-style framed PCM energy over the real WAV decode —
    * one row per 16-sample frame at hop 8, exact integer Σs² and the
    * mean-square activity flag; the front-end shape of speech-data
    * silence trimming. Oracle replays from the waveform formula. */
  private def qAudioFrames(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticAudioPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.audioFrameEnergy(s, payloads,
        frameLen = 16, hop = 8, thr = 333000L)
      .select(col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("energy"), col("active"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Round-10: linear PCM resampling to 10 kHz over the real WAV
    * decode — the mixed-rate 8–12 kHz fixture corpus exercises both
    * up- and down-sampling; Σv/Σv² pin every interpolated value and
    * the oracle replays the div/mod interpolation from the waveform
    * closed form. */
  private def qAudioResample(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticAudioPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.audioResampleStats(s, payloads, dstRate = 10000)
      .orderBy("doc_id")
  }

  /** Round-8: ZCR + silence-trim bounds over the real WAV decode —
    * the voiced/fricative discriminator and the trim step's actual
    * consumable (first/last non-silent sample bounds), all-integer,
    * replayed by the oracle from the synthetic waveform formula. */
  private def qAudioZcr(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticAudioPayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.audioSilenceProfile(s, payloads, silenceThr = 100)
      .orderBy("doc_id")
  }

  /** Round-8 flagship: distributed token suffix array by prefix
    * doubling (the Lee et al. ExactSubstr infrastructure) — dense
    * suffix ranks, published on the (doc_id+off) % 17 == 0 sample
    * (the full array is corpus-sized by construction; the sample is
    * a deterministic witness of the whole permutation). */
  private def qSuffixRanks(s: SparkSession, dir: String): DataFrame =
    operators.SuffixArray.tokenSuffixRanks(
        Tables.documents(s, dir), "doc_id", "text")
      .filter((col("doc_id") + col("off")) % 17 === 0)
      .orderBy("doc_id", "off")

  /** Round-8: longest repeated token spans mined from the suffix
    * array — whole-suffix tie groups (exact span) + adjacent-rank
    * LCP (capped fold), top-25 by span. */
  private def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    operators.SuffixArray.repeatedSpans(
        Tables.documents(s, dir), "doc_id", "text",
        minSpan = 2, topK = 25, maxSpan = 64)

  /** Round-9: the Lee et al. 2022 end-to-end — q224's suffix-array
    * span mining feeding span REMOVAL in one pipeline (one tokenized
    * corpus scan shared; the topK-bounded mined span set broadcasts
    * to the removal semi join). */
  private def qMinedSpanRemoval(s: SparkSession, dir: String): DataFrame =
    operators.SuffixArray.minedSpanRemoval(
        Tables.documents(s, dir), "doc_id", "text",
        minSpan = 2, topK = 25, maxSpan = 64)
      .orderBy("doc_id")

  /** Round-8: Fellegi–Sunter record linkage customer↔supplier —
    * nation-blocked candidate pairs, three agreement fields (name
    * tail digits, acctbal thousand- and hundred-bands via pure IEEE
    * floor — no cross-engine casts), integer milli log-odds weights,
    * two-threshold decision; top-100 by (score, ids). */
  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_nationkey").as("nk"),
      substring(col("c_name"), -2, 2).as("name_tail"),
      floor(col("c_acctbal") / 1000.0).as("acct_kband"),
      floor(col("c_acctbal") / 100.0).as("acct_hband"))
    val supp = Tables.supplier(s, dir).select(
      col("s_suppkey"), col("s_nationkey").as("nk"),
      substring(col("s_name"), -2, 2).as("name_tail"),
      floor(col("s_acctbal") / 1000.0).as("acct_kband"),
      floor(col("s_acctbal") / 100.0).as("acct_hband"))
    operators.RecordLinkage.fellegiSunter(
        cust, "c_custkey", supp, "s_suppkey", Seq("nk"),
        Seq(operators.RecordLinkage.Field("name_tail", 2400L, -300L),
          operators.RecordLinkage.Field("acct_kband", 1200L, -600L),
          operators.RecordLinkage.Field("acct_hband", 800L, -100L)),
        upperMilli = 2000L, lowerMilli = 0L)
      .orderBy(col("score_milli").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** Round-9: Fellegi–Sunter EM weight fitting (Winkler 1988) over
    * the q225 blocking setup — 3 bounded EM rounds on the 2^3
    * pattern-count table, published as ppm floors of m/u/λ and the
    * log-free likelihood-ratio weights. Closes the "fitted by EM out
    * of band" gap: q225's milli weights can now be derived in-engine. */
  private def qEmFit(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_nationkey").as("nk"),
      substring(col("c_name"), -2, 2).as("name_tail"),
      floor(col("c_acctbal") / 1000.0).as("acct_kband"),
      floor(col("c_acctbal") / 100.0).as("acct_hband"))
    val supp = Tables.supplier(s, dir).select(
      col("s_suppkey"), col("s_nationkey").as("nk"),
      substring(col("s_name"), -2, 2).as("name_tail"),
      floor(col("s_acctbal") / 1000.0).as("acct_kband"),
      floor(col("s_acctbal") / 100.0).as("acct_hband"))
    operators.RecordLinkage.emFit(cust, "c_custkey", supp, "s_suppkey",
        Seq("nk"), Seq("name_tail", "acct_kband", "acct_hband"),
        iters = 3)
      .orderBy("field")
  }

  /** Round-8: product quantization — per-subspace portable-integer
    * Lloyd codebooks (8 subspaces × 8 dims, k=4, 2 iterations), every
    * vector encoded as 8 codes + its exact integer quantization
    * error. The embedding-compression step a 100 TB vector corpus
    * takes before indexing. */
  private def qPqCodes(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.quantize16(col("embedding")).as("q"))
    val cb = operators.Quantization.pqTrain(qv, subspaces = 8,
      subDim = 8, k = 4, iters = 2)
    operators.Quantization.pqCodes(qv, cb, subspaces = 8, subDim = 8)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  }

  /** Round-8: PQ ADC search — asymmetric distances from real query
    * subvectors to coded centroids, top-5 per query (vec_id % 20
    * probes, the q175/q176 eval-set convention). */
  private def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.quantize16(col("embedding")).as("q"))
    val cb = operators.Quantization.pqTrain(qv, subspaces = 8,
      subDim = 8, k = 4, iters = 2)
    operators.Quantization.pqAdcTopK(
        qv.filter(col("id") % 20 === 0).select(col("id").as("qid"),
          col("q")),
        qv, cb, subspaces = 8, subDim = 8, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Round-9: IVFADC (Jégou et al. 2011 §IV) — the composite
    * billion-scale ANN index: the q176 coarse quantizer bounds WHICH
    * corpus vectors each query scores (nProbe=2 of 4 cells), the q227
    * PQ codebook bounds HOW each candidate is scored (ADC over coded
    * centroids — the original vectors never re-materialize). Same
    * eval-set convention as q227 (vec_id % 20 queries), top-5. */
  private def qIvfAdc(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.quantize16(col("embedding")).as("q"))
    val cb = operators.Quantization.pqTrain(qv, subspaces = 8,
      subDim = 8, k = 4, iters = 2)
    val coarse = operators.IvfIndex.trainPortable(s, qv, k = 4, iters = 2)
    operators.Quantization.ivfAdcTopK(
        qv.filter(col("id") % 20 === 0).select(col("id").as("qid"),
          col("q")),
        qv, coarse, cb, subspaces = 8, subDim = 8, nProbe = 2, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Round-9: ADC shortlist + exact re-rank — the production serving
    * pattern: the compressed index shortlists 15 candidates, only
    * those pay a full-precision distance, rank by exact L2. */
  private def qAdcRerank(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.quantize16(col("embedding")).as("q"))
    val cb = operators.Quantization.pqTrain(qv, subspaces = 8,
      subDim = 8, k = 4, iters = 2)
    val coarse = operators.IvfIndex.trainPortable(s, qv, k = 4, iters = 2)
    operators.Quantization.adcRerankTopK(
        qv.filter(col("id") % 20 === 0).select(col("id").as("qid"),
          col("q")),
        qv, coarse, cb, subspaces = 8, subDim = 8, nProbe = 2,
        shortlist = 15, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Round-9: IVFADC with RESIDUAL encoding — the full Jégou 2011 §IV
    * form: the PQ codebook trains on x − centroid(cell(x)) and each
    * probed cell scores against the query's per-cell residual, so the
    * code budget resolves within-cell displacement (q238 is the
    * raw-vector composition; this is the production index). */
  private def qIvfAdcResidual(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.quantize16(col("embedding")).as("q"))
    val coarse = operators.IvfIndex.trainPortable(s, qv, k = 4, iters = 2)
    operators.Quantization.ivfAdcResidualTopK(
        qv.filter(col("id") % 20 === 0).select(col("id").as("qid"),
          col("q")),
        qv, coarse, subspaces = 8, subDim = 8, pqK = 4, pqIters = 2,
        nProbe = 2, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Round-8: perceptual image dedup over the real decode — dHash
    * (9×8 nearest resize, integer luma, adjacent-gray compare)
    * published as two unsigned 32-bit halves, plus the exact-dedup
    * group size per hash (map-side-combined groupBy, the
    * `Dedup.exact` shape). All integers; DuckDB replays the hash
    * bit-by-bit from the q214 pattern formula. */
  private def qImageDHash(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticImagePayloads(
      Tables.documents(s, dir), "doc_id")
    val hashes = Multimodal.imageDHash(s, payloads)
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"))
    // group size via a window, NOT groupBy + self-join: the join form
    // evaluates the decode+hash subtree twice (.explain showed the
    // MapPartitions pipeline under both the broadcast and aggregate
    // sides), and at scale the decode IS the cost — one pass + one
    // hash-key exchange beats a second full decode.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dhash_hi", "dhash_lo")
    hashes.withColumn("dup_count", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Round-8: sorted-neighborhood dedup — global sort on the squashed
    * text prefix via the range-partition+zipWithIndex ordinal (no
    * single-partition window), in-window pairs via the ordinal band
    * self-join, exact integer token-Jaccard verify. The classic SNM
    * candidate generator, complementing shingle blocking (q19/q91)
    * for near-dups that share a prefix but no rare shingle. */
  private def qSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir),
        "doc_id", "text", window = 5, keyLen = 16,
        minJaccardPpm = 600000L)
      .orderBy("a_id", "b_id")

  /** Round-8: Unicode-script profile — per-doc character counts by
    * script block, dominant letter script with canonical tie-break,
    * integer ppm share. The writing-system-level langid companion
    * (q18 sees words; this sees bytes). Map-only, single aggregate
    * pass over an int-array histogram. */
  private def qScriptProfile(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Round-8: farthest-point k-center coreset (k=8) over quantized
    * embeddings — the deterministic diversity sampler (Gonzalez
    * 2-approx); publishes the selection order and the non-increasing
    * coverage-radius sequence. */
  private def qCoreset(s: SparkSession, dir: String): DataFrame =
    operators.Coreset.farthestPointSample(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"),
          Similarity.quantize16(col("embedding")).as("q")), k = 8)
      .orderBy("rank")

  /** Round-8: JL ±1 projection distance-preservation audit — 64→16
    * dims via the portable PRF sign matrix, exact integer distances
    * on consecutive-id probe pairs, ratio_milli ≈ 1000 when the
    * projection is safe. */
  private def qJlAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.jlDistanceAudit(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"),
          Similarity.quantize16(col("embedding")).as("q")),
        dims = 64, projDims = 16, pairMod = 3)
      .orderBy("a_id")

  /** Round-8: Luhn payment-card PII scan — deterministic card-shaped
    * digit runs appended per doc (the synthetic-payload convention;
    * ~1/10 carry a valid check digit), regex candidates + exact
    * mod-10 fold validation. */
  private def qLuhnScan(s: SparkSession, dir: String): DataFrame = {
    val synth = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" txn "),
        lpad(((col("doc_id") * 86243L) % 100000000000000L)
          .cast("string"), 14, "0"),
        (col("doc_id") % 10).cast("string")).as("text"))
    operators.Privacy.luhnScan(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Round-8: portable HLL register state — the mergeable sketch the
    * built-in HLL++ of q49 keeps private, rebuilt with the PRF hash
    * so every register is oracle-replayable; grouped on the q49
    * domain (distinct parts per returnflag). */
  private def qHllRegisters(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.hllRegisters(Tables.lineitem(s, dir),
        "l_returnflag", "l_partkey", m = 64)
      .select(col("grp").as("l_returnflag"), col("register"),
        col("max_rho"))
      .orderBy("l_returnflag", "register")

  /** Round-9: count-min registers — the frequency twin of q233's HLL
    * state: per-returnflag CM sketch of part keys, the mergeable
    * sum-registers a 100 TB frequency service ships between stages. */
  private def qCmRegisters(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.cmRegisters(Tables.lineitem(s, dir),
        "l_returnflag", "l_partkey", depth = 4, width = 64)
      .select(col("grp").as("l_returnflag"), col("sketch_row"),
        col("bucket"), col("cnt"))
      .orderBy("l_returnflag", "sketch_row", "bucket")

  /** Round-9: seasonal-naive forecast audit (Hyndman–Koehler MASE in
    * ppm) over per-type daily event volumes — the corpus-drift
    * telemetry a continuously-crawled pipeline runs per source. */
  private def qSeasonalMase(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.seasonalNaiveAudit(Tables.events(s, dir),
        "event_type", "ts", period = 7)
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type")

  /** Round-9: two-sided CUSUM drift statistic per event type — Page's
    * cumulative-sum level-shift detector on the daily-count axis,
    * all-integer (prefix sums of x − floor-mean, running extrema). */
  private def qCusumDrift(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.cusumDrift(Tables.events(s, dir),
        "event_type", "ts", hFactor = 4)
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type", "day")

  /** Round-10: exact least-squares changepoint per event type — one
    * binary-segmentation step (the PELT/BinSeg primitive) on the
    * daily-count axis; DECIMAL(38)/HUGEINT score arithmetic, argmax
    * replayed exactly. */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.changepoint(Tables.events(s, dir),
        "event_type", "ts")
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type")

  /** Round-9: Bloom-filter registers — the membership twin of
    * q233/q243: per-priority Bloom bits over customer keys, the
    * union-mergeable state a distributed membership service ships. */
  private def qBloomRegisters(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.bloomRegisters(Tables.orders(s, dir),
        "o_orderpriority", "o_custkey", mBits = 512, depth = 3)
      .select(col("grp").as("o_orderpriority"), col("bit"))
      .orderBy("o_orderpriority", "bit")

  /** Round-9: Bloom semi-join reduction audit — urgent-order keys
    * packed into a 16384-bit filter prune lineitem map-side; the
    * audit frame exposes probe/candidate/match/false-positive counts
    * per returnflag, so the Bloom arithmetic itself is oracle-checked
    * (the runtime-filter pattern, hand-rolled portably). */
  private def qBloomReduce(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.bloomSemiReduceStats(
        Tables.lineitem(s, dir), "l_orderkey", "l_returnflag",
        Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        "o_orderkey", mBits = 16384, depth = 3)
      .select(col("grp").as("l_returnflag"), col("n_probe"),
        col("n_candidates"), col("n_matched"), col("n_false_pos"))
      .orderBy("l_returnflag")

  /** Round-9: k-core decomposition — bounded-round parallel peeling
    * (k = 3, 3 rounds) over the ABOVE-MEAN nation trade graph (the
    * mean filter sparsifies the dense trade clique so peeling has
    * structure to find at every SF); the dense-community prefilter of
    * the graph family. */
  private def qKCore(s: SparkSession, dir: String): DataFrame = {
    val e = tradeEdges(s, dir)
    val tot = e.agg(sum("w").as("tw"), count(lit(1)).as("ne"))
    val strong = e.crossJoin(broadcast(tot))
      .filter(col("w") * col("ne") > col("tw"))
      .select("src", "dst")
    operators.KCore.peel(strong, k = 3, rounds = 3)
      .withColumnRenamed("node", "nationkey")
      .orderBy("nationkey")
  }

  /** Round-9: winnowing fingerprints (MOSS) — per-doc window-min
    * k-gram hash selection, ~2/(w+1) of full posting density with the
    * any-(w+k−1)-token-run coverage guarantee; map-only. */
  private def qWinnowFps(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
        k = 3, w = 4)
      .orderBy("doc_id", "fingerprint")

  /** Round-9: winnowing-overlap near-dup pairs — the MOSS match step
    * over a sparser selection (k=4, w=8): shared-fingerprint counts
    * per pair, ≥ 2 shared selections to surface. */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlapPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 4, w = 8, minShared = 2)
      .orderBy("a_id", "b_id")

  /** Round-9: count-min join-size estimation — the planner-side
    * cardinality primitive: |lineitem ⋈ part(p_size>25)| estimated as
    * the min-over-rows inner product of two CM sketches, published
    * next to the exact count so the one-sidedness is oracle-pinned. */
  private def qCmJoinSize(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.cmJoinSizeEstimate(
      Tables.lineitem(s, dir), "l_partkey",
      Tables.part(s, dir).filter(col("p_size") > 25), "p_partkey",
      depth = 4, width = 64)

  /** Round-9: run-collapsed SCD type-2 intervals — unlike q74's
    * every-change-is-a-version form, this opens an interval ONLY when
    * a tracked attribute actually changes (the Kimball semantics):
    * per-customer order-priority runs with [valid_from, valid_to) and
    * the is_current flag; orderkey tie-break. */
  private def qScd2Runs(s: SparkSession, dir: String): DataFrame =
    operators.Cdc.scd2Intervals(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_orderpriority")),
        "o_custkey", Seq("o_orderdate", "o_orderkey"),
        Seq("o_orderpriority"))
      // q74's open-end sentinel convention (NULL timestamps don't
      // hash-compare across engines)
      .withColumn("valid_to",
        coalesce(col("valid_to"), lit("2100-01-01").cast("date")))
      .orderBy("o_custkey", "valid_from", "o_orderpriority")

  /** Round-9: TextRank keywords — corpus co-occurrence graph (window
    * 2 over ^[a-z]{4,}$ candidates) through the integer-exact
    * PageRank kernel, top-25 by rank. */
  private def qTextRank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textRankKeywords(Tables.documents(s, dir),
      "doc_id", "text", iters = 3, topK = 25)

  /** Round-9: personalized PageRank — teleport mass concentrated on
    * the region-0 nations as the seed set; relevance-to-these-nodes
    * over the trade graph (q102's edges) instead of global
    * centrality. Same integer recurrence; nodes unreachable from the
    * seeds settle at 0. */
  private def qPersonalizedPr(s: SparkSession, dir: String): DataFrame =
    PageRank.personalized(tradeEdges(s, dir),
        Tables.nation(s, dir).filter(col("n_regionkey") === 0)
          .select(col("n_nationkey").as("node")),
        iters = 5)
      .select(col("node").as("nationkey"), col("ppr_scaled"))
      .orderBy("nationkey")

  /** Round-9: greedy max-coverage — 4 documents selected to maximize
    * distinct word-BIGRAM coverage (the (1−1/e) submodular greedy);
    * the lexical-breadth seed-corpus selector. Bigrams because the
    * synthetic corpus has a ~31-word vocabulary — unigram coverage
    * saturates after one pick. */
  private def qMaxCoverage(s: SparkSession, dir: String): DataFrame =
    operators.Curation.greedyMaxCoverage(Tables.documents(s, dir),
        "doc_id", "text", n = 2, k = 4)
      .orderBy("pick_round")

  /** Round-9: ORC source/sink round trip — the q63 CSV pattern over
    * the other columnar container Spark ships natively; completes
    * the format matrix (parquet / CSV / JSONL / ORC / SQLite). */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_rt").toString
    nation.write.mode("overwrite").orc(tmp)
    s.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
      .orc(tmp)
      .orderBy("n_nationkey")
  }

  /** Round-9: XML source/sink round trip — Spark 4's upstreamed XML
    * support through the q63/q257 pattern; completes the container
    * matrix alongside parquet / CSV / JSONL / ORC / SQLite. */
  private def qXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_xml_rt").toString + "/out"
    nation.write.format("xml")
      .option("rootTag", "nations").option("rowTag", "nation").save(tmp)
    s.read.format("xml").option("rowTag", "nation")
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
      .load(tmp)
      .orderBy("n_nationkey")
  }

  /** Round-9: leave-one-out target encoding of order priority against
    * the order-failed flag — the encoding depends only on (category,
    * own target), so the per-row frame collapses to an exact
    * |cats|×2 rollup. */
  private def qLooEncoding(s: SparkSession, dir: String): DataFrame =
    operators.Features.looTargetEncode(
        Tables.orders(s, dir).withColumn("t_f",
          (col("o_orderstatus") === "F").cast("int")),
        "o_orderpriority", "t_f")
      .select(col("o_orderpriority"), col("t_f").cast("long").as("t_f"),
        col("n_cat"), col("loo_ppm"))
      .distinct()
      .orderBy("o_orderpriority", "t_f")

  /** Round-9: hashing-trick vectorization of the corpus into 64
    * signed buckets — the fixed-memory featurizer; portable char-fold
    * token hash so DuckDB replays every bucket and sign. */
  private def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    operators.Features.featureHash(Tables.documents(s, dir),
        "doc_id", "text", dim = 64)
      .orderBy("doc_id", "bucket")

  /** Round-9: per-pair BLEU-2 sufficient statistics — even documents
    * as hypotheses against their odd successors as references
    * (deterministic pairing); clipped n-gram matches and integer ppm
    * precisions. */
  private def qBleuPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val pairs = d.select(expr("doc_id div 2").as("pid"),
        col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 0)
      .select(col("pid"), col("text").as("hyp"))
      .join(d.select(expr("(doc_id - 1) div 2").as("pid"),
          col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 1)
        .select(col("pid"), col("text").as("ref")),
        Seq("pid"))
    operators.Metrics.bleuPairs(pairs, "pid", "hyp", "ref")
      .orderBy("pair_id")
  }

  /** Round-9: HyperBall over the trade graph — per-nation ball-size
    * sketch estimates at radii 0..3 (seed-self HLL registers merged
    * along out-edges per round); the distance-distribution machinery
    * published as exact integer sufficient statistics. */
  private def qHyperBall(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.hyperBall(
        tradeEdges(s, dir).select("src", "dst"), rounds = 3, m = 16)
      .select(col("node").as("nationkey"), col("t"),
        col("n_regs_set"), col("inv_sum"), col("raw_est_milli"))
      .orderBy("nationkey", "t")

  /** Round-9: deterministic PRF random walks over the trade graph —
    * the DeepWalk corpus generator, 4 steps from every nation;
    * reproducible step choice (quadratic PRF over walk id and step)
    * so the oracle replays every hop. */
  private def qRandomWalks(s: SparkSession, dir: String): DataFrame =
    operators.RandomWalks.deterministicWalks(
        tradeEdges(s, dir).select("src", "dst"), len = 4)
      .select(col("walk_id"), col("step"), col("node"))
      .orderBy("walk_id", "step")

  /** Round-9: MMR diverse retrieval — 5 picks against vec 0 as the
    * query, λ = 0.7 in milli units; relevance-aware diversity with
    * all-integer quantized dots, the third pole beside the coreset
    * (pure spread) and SemDeDup (pure redundancy). */
  private def qMmrSelect(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        Similarity.quantize16(col("embedding")).as("q"))
    // the query vector is ONE driver-held row (k-bounded convention)
    val query = qv.filter(col("id") === 0).select("q")
      .head().getSeq[Long](0)
    operators.Coreset.mmrSelect(qv.filter(col("id") =!= 0), query,
        k = 5, lambdaMilli = 700L)
      .orderBy("rank")
  }

  /** Round-9: end-to-end entity resolution — the q225 Fellegi-Sunter
    * scorer's MATCH decisions become edges (customers even-encoded,
    * suppliers odd, so the two key spaces stay disjoint), resolved
    * into connected components with per-cluster membership and
    * min-key representatives: linkage pairs → entities, the pipeline
    * a master-data/dedup system actually ships. */
  private def qErPipeline(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_nationkey").as("nk"),
      substring(col("c_name"), -2, 2).as("name_tail"),
      floor(col("c_acctbal") / 1000.0).as("acct_kband"),
      floor(col("c_acctbal") / 100.0).as("acct_hband"))
    val supp = Tables.supplier(s, dir).select(
      col("s_suppkey"), col("s_nationkey").as("nk"),
      substring(col("s_name"), -2, 2).as("name_tail"),
      floor(col("s_acctbal") / 1000.0).as("acct_kband"),
      floor(col("s_acctbal") / 100.0).as("acct_hband"))
    val edges = operators.RecordLinkage.fellegiSunter(
        cust, "c_custkey", supp, "s_suppkey", Seq("nk"),
        Seq(operators.RecordLinkage.Field("name_tail", 2400L, -300L),
          operators.RecordLinkage.Field("acct_kband", 1200L, -600L),
          operators.RecordLinkage.Field("acct_hband", 800L, -100L)),
        upperMilli = 2000L, lowerMilli = 0L)
      .filter(col("decision") === "match")
      .select((col("a_id") * 2).as("a"), (col("b_id") * 2 + 1).as("b"))
    // round-17: resolveContracted (identical output, spec-pinned) —
    // the match graph's components are cust↔supp stars, so the
    // partition-local union-find + driver bridge fold replaces ~5
    // min-label rounds of one-task scheduler jobs (§1.2); q266 was
    // the last resolve() caller, every other cluster query already
    // rides the contracted path.
    operators.DuplicateClusters.resolveContracted(edges)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_cust"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_supp"),
        min(expr("CASE WHEN doc_id % 2 = 0 THEN doc_id div 2 END"))
          .as("rep_custkey"),
        min(expr("CASE WHEN doc_id % 2 = 1 THEN (doc_id - 1) div 2 END"))
          .as("rep_suppkey"))
      .orderBy("cluster_id")
  }

  /** Round-9: partition-pruned layout — orders written PARTITIONED BY
    * priority, then a single-priority aggregate whose scan reads ONE
    * directory (PartitionFilters, zero data-file touch elsewhere);
    * the pay-the-layout-once pattern that carries selective queries
    * at 100 TB (the q104 bucketing story for filters instead of
    * joins). The layout changes the PLAN, never the answer. */
  private def qPartitionPruning(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_part_prune").toString
    Tables.orders(s, dir)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Round-9: sketch shard→global rollup — per-language HLL registers
    * PLUS the global sketch derived by merging the per-language
    * REGISTERS (max per register), never re-reading the data: the
    * mergeability contract that lets 1000 shards publish sketches and
    * a coordinator fold them. The oracle computes the global row from
    * the raw data directly — their equality IS the merge property,
    * hash-checked. */
  private def qSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val perLang = operators.Sketches.hllRegisters(
      Tables.documents(s, dir), "lang", "doc_id", m = 64)
    val global = perLang.groupBy("register")
      .agg(max("max_rho").as("max_rho"))
      .select(lit("ALL").as("grp"), col("register"), col("max_rho"))
    perLang.unionByName(global)
      .select(col("grp").as("lang"), col("register"), col("max_rho"))
      .orderBy("lang", "register")
  }

  /** Round-10: unigram-LM vocabulary by EM-with-pruning (Kudo 2018 in
    * the hard-E-step integer form) — the q269 seed vocabulary, one
    * Viterbi E-step whose piece usages are weighted by word
    * occurrence counts, an M-step that re-scores usage·len² and
    * prunes the bottom 20 % of multi-char pieces, then the final
    * segmentation against the refined vocabulary. */
  private def qUnigramEm(s: SparkSession, dir: String): DataFrame =
    operators.UnigramSegment.emSegment(Tables.documents(s, dir), "text")
      .select(col("word"), col("best_score"),
        col("n_pieces").cast("long").as("n_pieces"), col("segments"))
      .orderBy("word")

  /** Round-10: isotonic (PAV) calibration — acctbal bands as the
    * score, BUILDING-segment membership as the outcome; the fitted
    * monotone rate curve publishes as exact floor ppm. Corpus work is
    * ONE groupBy to ≤ 22 bins; PAV runs on the driver over that
    * bounded table (the codebook convention). */
  private def qIsotonic(s: SparkSession, dir: String): DataFrame =
    operators.Calibration.isotonicCalibrate(
        Tables.customer(s, dir).withColumn("sband",
          floor(col("c_acctbal") / 500.0).cast("long")),
        "sband", col("c_mktsegment") === "BUILDING")
      .orderBy("bin")

  /** Round-10: parquet compression-codec matrix — the same relation
    * written under zstd/snappy/gzip/lz4 and read back identically;
    * completes the layout family (q63 CSV, q257 ORC, q290 XML, q267
    * partitions, q104 buckets): at 100 TB the codec choice is a
    * scan-cost/storage dial that must NEVER change answers, which is
    * exactly what the shared-oracle hash check pins. */
  private def qCodecMatrix(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_codec").toString
    val n = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
    val codecs = Seq("gzip", "lz4", "snappy", "zstd")
    codecs.foreach(c => n.write.mode("overwrite")
      .option("compression", c).parquet(s"$tmp/$c"))
    codecs.map(c => s.read.parquet(s"$tmp/$c")
        .withColumn("codec", lit(c)))
      .reduce(_.unionByName(_))
      .select(col("codec"), col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      .orderBy("codec", "n_nationkey")
  }

  /** Round-10: distributed PCA top component — ONE gram-matrix
    * aggregation (D² keys), a bounded driver power iteration in
    * BigInt (8 fixed rounds, truncating renormalization), and a
    * map-only projection of every quantized embedding; the oracle
    * replays the identical integer eigen-iteration. */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame =
    operators.Pca.topComponentProjections(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label",
        dims = 64)
      .orderBy("vec_id")

  /** Round-10: trigram-backoff support histogram — per document the
    * count of positions resolving at trigram/bigram/unigram level
    * (corpus count ≥ 2) or unk, plus the integer familiarity score;
    * the Katz-branching signal beside q148's smoothed log-probs. */
  private def qBackoffSupport(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.backoffSupport(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Round-10: interpolated Kneser–Ney bigram scores — the standard
    * LM smoothing (absolute discount + continuation-count backoff) in
    * the engine's composed-floor fixed point: beside q80's raw
    * unigram log-probs, q148's stupid backoff, and q297's support
    * histogram, this is the estimator a production n-gram LM actually
    * ships. Exact integer replay, D = 3/4. */
  private def qKnBigrams(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.knBigrams(Tables.documents(s, dir), "text")

  /** Round-10: Aho–Corasick multi-pattern scan — one automaton pass
    * counts every (overlapping) occurrence of a 10-pattern lexicon
    * over every document: the blocklist/PII-lexicon scanner, O(len +
    * matches) per row instead of K contains-scans. The pattern set
    * deliberately nests (a ⊂ ta ⊂ tab, able/at/an overlap inside
    * table/data/scan) so failure links and merged outputs are load-
    * bearing, not decorative. */
  private def qPatternScan(s: SparkSession, dir: String): DataFrame =
    operators.PatternScan.scanCounts(Tables.documents(s, dir),
        "doc_id", "text",
        Seq("a", "ta", "tab", "able", "scan", "an", "data", "at",
          "row", "order"))
      .orderBy("doc_id", "pattern")

  /** Round-9: unigram-LM subword segmentation — in-corpus piece
    * vocabulary (substring counts, len ≤ 4), then per-word Viterbi
    * for the max-score piece sequence; the global-optimum tokenizer
    * beside BPE's greedy encode (q131). */
  private def qUnigramSegment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = operators.UnigramSegment.pieceVocab(docs, "text")
    operators.UnigramSegment.viterbiSegment(docs, "text", vocab)
      .select(col("word"), col("best_score"),
        col("n_pieces").cast("long").as("n_pieces"), col("segments"))
      .orderBy("word")
  }

  /** Round-10: Burrows–Wheeler run profile — the bzip2-family
    * compressibility probe built on the SAME distributed suffix
    * array as q223/q224: per doc, run counts of the token-level BWT
    * vs the raw order (equal contexts group, repetitive text
    * collapses). Oracle replays the q223 list-sort convention plus
    * the rotation wrap. */
  private def qBwtRuns(s: SparkSession, dir: String): DataFrame =
    operators.SuffixArray.bwtRuns(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Round-10: latent-semantic topic direction — LSA's top singular
    * pair as weighted HITS on the doc-term bipartite graph (the
    * power method on A·Aᵀ), fully distributed because the TERM
    * dimension is corpus-dependent (no bounded gram collapse like
    * q298). Raw-count integer weights, L1 ppm renormalization per
    * half-step; DuckDB replays all four rounds. */
  private def qLsaTopic(s: SparkSession, dir: String): DataFrame =
    operators.Lsa.topicProjections(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Round-10: GREEDY longest-match segmentation (the WordPiece/BERT
    * inference rule) against the same piece vocabulary q269
    * optimizes over — the production-tokenizer counterpart to
    * Viterbi's global optimum; the two disagree exactly where
    * lookahead pays. */
  private def qGreedySegment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = operators.UnigramSegment.pieceVocab(docs, "text")
    operators.UnigramSegment.greedySegment(docs, "text", vocab)
      .select(col("word"),
        col("n_pieces").cast("long").as("n_pieces"), col("segments"))
      .orderBy("word")
  }

  /** Round-9: parquet schema evolution — two batches written with
    * DIFFERENT schemas (v2 adds a column), read back as one dataset
    * via mergeSchema; pre-evolution rows surface NULL for the new
    * column. The append-only data-lake reality: schemas drift across
    * months of batches and the reader must union them losslessly. */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_schema_evo").toString
    val nation = Tables.nation(s, dir)
    nation.filter(col("n_nationkey") < 12)
      .select("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    nation.filter(col("n_nationkey") >= 12)
      .select(col("n_nationkey"), col("n_name"),
        col("n_regionkey")) // the evolved column
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        // q74's sentinel convention: NULLs don't hash-compare across
        // engines, so the absent pre-evolution values publish as -1
        coalesce(col("n_regionkey").cast("long"), lit(-1L))
          .as("n_regionkey"),
        col("batch").cast("long").as("batch"))
      .orderBy("n_nationkey")
  }

  /** Round-9: materialized-view rewrite — a 2-D pre-aggregate MV is
    * built and registered, then the ORIGINAL rollup query (group by
    * one dimension over the BASE table) runs; the optimizer rule
    * redirects it to re-aggregate the MV (sum-of-counts,
    * min-of-mins, max-of-maxes) and the base scan vanishes from the
    * plan (MvRewriteSpec pins that). The answer never changes — the
    * oracle aggregates the base directly. */
  private def qMvRewrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mv").toString
    val base = Tables.orders(s, dir)
    base.groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        min(dec2(col("o_totalprice"))).as("min_total"),
        max(dec2(col("o_totalprice"))).as("max_total"))
      .write.mode("overwrite").parquet(tmp)
    org.apache.spark.sql.graft.MvRewrite.clear()
    org.apache.spark.sql.graft.MvRewrite.register(
      base, dims = Seq("o_orderpriority", "o_orderstatus"),
      mv = s.read.parquet(tmp),
      minCols = Seq(dec2(col("o_totalprice")) -> "min_total"),
      maxCols = Seq(dec2(col("o_totalprice")) -> "max_total"),
      countCol = Some("cnt"))
    // the original query, written against the BASE table
    val out = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min(dec2(col("o_totalprice"))).as("min_total"),
        max(dec2(col("o_totalprice"))).as("max_total"))
      .select(col("o_orderpriority"), col("n_orders"),
        col("min_total").cast("double").as("min_total"),
        col("max_total").cast("double").as("max_total"))
      .orderBy("o_orderpriority")
      // materialize WHILE the registration is live, then disarm: the
      // rule must not stay armed for the rest of the session (a later
      // same-shape aggregate over the same orders path would silently
      // read this temp-dir MV), and results must not depend on
      // registration order
      .localCheckpoint()
    org.apache.spark.sql.graft.MvRewrite.clear()
    out
  }

  /** Round-9: STREAMING HLL register maintenance — the q233 register
    * kernel under a streaming groupBy-max (complete mode); stream
    * state equals the batch sketch by construction (order-free max),
    * so the batch arithmetic is a full-strength oracle. */
  private def qStreamHll(s: SparkSession, dir: String): DataFrame =
    streaming.StreamSketch.hllPerType(s, dir)
      .orderBy("event_type", "register")

  /** Round-9: chi-square term–class association — per (token, lang)
    * the 2×2 presence table and exact-integer χ²·1e6 (DECIMAL(38)
    * arithmetic); the classic supervised feature-selection ranking.
    * Degenerate margins publish the −1 sentinel (q74 convention). */
  private def qChi2Terms(s: SparkSession, dir: String): DataFrame =
    operators.Stats.chi2Terms(Tables.documents(s, dir),
        "doc_id", "text", "lang")
      .select(col("token"), col("cls").as("lang"), col("a"),
        col("n_cls"), col("n_tok"), col("n_docs"),
        coalesce(col("chi2_micro"), lit(-1L)).as("chi2_micro"))
      .orderBy("token", "lang")

  /** Round-9: exact global median without a global sort — bounded
    * histogram bisection over order totals in cents (2–3 full scans,
    * one ≤4096-row driver histogram per round); the "median of
    * 100 TB" answer a single-partition window can't give. */
  private def qExactMedian(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(s, dir)
      .select((dec2(col("o_totalprice")) * 100).cast("long")
        .as("cents"))
    val (n, med) = operators.Stats.exactMedian(vals, "cents")
    import s.implicits._
    Seq((n, med)).toDF("n", "median_cents")
  }

  /** Round-9: sequential co-occurrence pairs — per ordered event-type
    * pair, how many users fired a strictly before b (decided from
    * per-(user, type) extrema alone); the length-2 sequential-pattern
    * support table. */
  private def qSeqPairs(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.seqPairs(Tables.events(s, dir),
        "user_id", "event_type", "ts")
      .orderBy("type_a", "type_b")

  /** Round-9: group-fairness rate audit — per-priority order-failed
    * rates in exact ppm with gaps to the overall rate; the
    * demographic-parity screen beside the privacy gates. */
  private def qFairnessAudit(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.fairnessRates(Tables.orders(s, dir),
        "o_orderpriority", col("o_orderstatus") === "F")
      .select(col("segment"), col("n"), col("n_pos"), col("rate_ppm"),
        col("overall_ppm"), col("gap_ppm"))
      .orderBy("segment")

  /** Round-9: harmonic centrality from HyperBall — Σ 1/d via
    * per-radius ball-size deltas; centrality at graph scale without
    * an SSSP per node. */
  private def qHarmonicCentrality(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.harmonicCentrality(
        tradeEdges(s, dir).select("src", "dst"), rounds = 3, m = 16)
      .select(col("node"), col("harmonic_milli"))
      .orderBy("node")

  /** Round-9: walk-corpus skip-gram PMI — the DeepWalk pipeline end
    * to end: deterministic walks, window-1 pairs, q196's log-free
    * integer PMI; the association table a factorization embedding
    * trains on. */
  private def qWalkPmi(s: SparkSession, dir: String): DataFrame =
    operators.RandomWalks.walkPmi(
        tradeEdges(s, dir).select("src", "dst"), len = 4)
      .orderBy("w1", "w2")

  /** Round-9: dedup-quality audit — the banded portable-MinHash
    * kernel (q132) measured against the EXHAUSTIVE exact-Jaccard
    * ground truth (no frequency cap) at the same ≥ 1/2 threshold:
    * published recall/precision ppm. Post-verified LSH is a subset
    * of the truth, so precision must come out 1e6 — the audit's
    * built-in self-check; recall is the banding loss. */
  private def qDedupRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // round-17 A/B note: swapping this exhaustive arm for the lossless
    // prefix-filtered join at threshold 1/2 (identical pair set,
    // oracle-verified) LOST at sf0.1 — 3.9 s -> 4.9 s: at t = 1/2 the
    // prefix is ~half of every token set, and the prefix kernel's
    // per-doc aggregation + verify joins cost more than this form's
    // single exchange + map-side pair count. The exhaustive bucket
    // count stays.
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.5).select("a", "b")
      .localCheckpoint()
    val lsh = MinHashLSH.nearDuplicatesPortable(docs, "doc_id", "text")
      .select("a", "b")
      .localCheckpoint()
    val both = exact.join(lsh, Seq("a", "b"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        expr("""CAST(CASE WHEN n_exact > 0
          THEN (1000000 * n_both) div n_exact ELSE -1 END AS BIGINT)""")
          .as("recall_ppm"),
        expr("""CAST(CASE WHEN n_lsh > 0
          THEN (1000000 * n_both) div n_lsh ELSE -1 END AS BIGINT)""")
          .as("precision_ppm"))
  }

  /** Round-9: LEFT OUTER watermarked stream-stream join — unmatched
    * errors emit null rows at watermark eviction; the query publishes
    * the RESOLVED region (e_ts ≤ max − 2·delay), where the batch left
    * join under the same cutoff is exact. */
  private def qStreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    streaming.EventsStream.errorPurchaseOuterJoin(s, dir)
      .orderBy("user_id")

  /** Round-10: FULL OUTER watermarked stream-stream join — the
    * last cell of the stream-join matrix (inner q68, left q281);
    * both sides' null-padded eviction rows under the q281
    * resolved-region contract, checked by the batch full join. */
  private def qStreamFullOuterJoin(s: SparkSession, dir: String): DataFrame =
    streaming.EventsStream.errorPurchaseFullOuterJoin(s, dir)
      .orderBy("user_id")

  /** Round-9: lagged cross-correlation sufficient stats between daily
    * event-type series (lags 0..7) — the lead/lag telemetry screen;
    * Pearson r at each lag is one division from the published exact
    * sums. */
  private def qLaggedXcorr(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.laggedCrossStats(Tables.events(s, dir),
        "event_type", "ts", maxLag = 7)
      .orderBy("type_a", "type_b", "lag")

  /** Round-9: portable-HLL accuracy audit — per returnflag the exact
    * distinct part count beside the register-derived estimate and its
    * signed ppm error; the estimator-trust gate closing the sketch
    * family (state q233, mergeability q268, accuracy here). */
  private def qHllAccuracy(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.hllAccuracy(Tables.lineitem(s, dir),
        "l_returnflag", "l_partkey", m = 16)
      .select(col("grp").as("l_returnflag"), col("exact_distinct"),
        col("n_regs_set"), col("inv_sum"), col("raw_est_milli"),
        col("est"), col("err_ppm"))
      .orderBy("l_returnflag")

  /** Round-9: cumulative distinct users per event type over days —
    * growth curves from first-appearance counts, no running distinct
    * set. */
  private def qCumulativeDistinct(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.cumulativeDistinct(Tables.events(s, dir),
        "event_type", "user_id", "ts")
      .orderBy("grp", "day")

  /** Round-9: multi-probe LSH (q175's kernel + Hamming-1 bucket
    * probes) — the recall lever that doesn't grow the index;
    * supersets the single-probe candidates by construction. */
  private def qLshMultiProbe(s: SparkSession, dir: String): DataFrame =
    Similarity.lshMultiProbeTopK(Tables.embeddings(s, dir), dims = 64,
        nPlanes = 8, k = 5, queryMod = 20)
      .orderBy("query_id", "rank")

  /** Round-9: exact two-sample KS drift — per priority, early orders
    * (before 1995) vs late, over total-price cents; the
    * integer-exact distribution-shift test beside PSI. */
  private def qKsDrift(s: SparkSession, dir: String): DataFrame =
    operators.Stats.ksDrift(
        Tables.orders(s, dir).withColumn("cents",
          (dec2(col("o_totalprice")) * 100).cast("long")),
        "o_orderpriority", "cents", year(col("o_orderdate")) < 1995)
      .select(col("grp").as("o_orderpriority"), col("n_a"), col("n_b"),
        col("ks_num"), col("ks_milli"))
      .orderBy("o_orderpriority")

  /** Round-10: exact Mann–Whitney U beside the q287 KS test — same
    * inputs (order totals in cents, pre/post-1995 split per
    * priority), doubled-U integers with the 2·n_a·n_b identity and
    * the AUC effect size in ppm. */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    operators.Stats.mannWhitneyU(
        Tables.orders(s, dir).withColumn("cents",
          (dec2(col("o_totalprice")) * 100).cast("long")),
        "o_orderpriority", "cents", year(col("o_orderdate")) < 1995)
      .select(col("grp").as("o_orderpriority"), col("n_a"), col("n_b"),
        col("u2_a"), col("u2_b"), col("auc_ppm"))
      .orderBy("o_orderpriority")

  /** Round-9: Theil-Sen robust trend per event type — the median
    * pairwise slope of the daily count series (29% breakdown),
    * published as the exact rational + milli floor. */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    operators.Stats.theilSen(daily, "event_type", "day", "x")
      .select(col("grp").as("event_type"), col("n_pairs"),
        col("slope_num"), col("slope_den"), col("slope_milli"))
      .orderBy("event_type")
  }

  /** Round-9: seasonal-residual anomaly flags — weekday-profile
    * residuals thresholded at 3×MAD, all-integer (floor means, lower
    * medians); the composed detector behind ops alerting. */
  private def qSeasonalAnomalies(s: SparkSession, dir: String): DataFrame =
    operators.Temporal.seasonalAnomalies(Tables.events(s, dir),
        "event_type", "ts", k = 3)
      .orderBy("grp", "day")

  /** Round-9: bounded Bellman-Ford shortest paths over the trade
    * graph — inverse-volume integer costs (heavily-traded routes are
    * cheap), region-0 nations as the multi-source set, 4 relaxation
    * rounds; the oracle unrolls the rounds as CTEs. */
  private def qSssp(s: SparkSession, dir: String): DataFrame =
    operators.ShortestPaths.sssp(
        tradeEdges(s, dir)
          .select(col("src"), col("dst"),
            expr("1 + (1000000 div w)").as("cost")),
        Tables.nation(s, dir).filter(col("n_regionkey") === 0)
          .select(col("n_nationkey").as("node")),
        iters = 4)
      .select(col("node").as("nationkey"), col("dist"))
      .orderBy("nationkey")

  /** Round-8: confusable-skeleton spoof fold (UTS #39 core) —
    * homoglyphs folded to Latin, per-doc confusable count, the
    * spliced-script suspicion flag. */
  private def qConfusables(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.confusableSkeleton(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Round-8: length-sorted batching padding audit — per-batch exact
    * integer padding waste under the sorted loader (batch 32). */
  private def qPaddingAudit(s: SparkSession, dir: String): DataFrame =
    operators.Curation.paddingAudit(Tables.documents(s, dir),
        "doc_id", "text", batchSize = 32)
      .orderBy("batch")

  /** Round-8: corpus data card — one-pass exact-integer release
    * report (sizes, breadth, dup mass, token stats) as a long
    * (metric, value) frame. */
  private def qCorpusReport(s: SparkSession, dir: String): DataFrame =
    operators.Curation.corpusReport(Tables.documents(s, dir),
        "doc_id", "text", "lang", "source")
      .orderBy("metric")

  /** Round-8: HITS hubs & authorities over the directed trade graph —
    * 2 integer-ppm power iterations, sum-normalized; the good-pointer
    * vs good-target split PageRank can't express. */
  private def qHits(s: SparkSession, dir: String): DataFrame =
    PageRank.hits(tradeEdges(s, dir).select("src", "dst"), iters = 2)
      .select(col("node").as("nationkey"), col("authority_ppm"),
        col("hub_ppm"))
      .orderBy("nationkey")

  /** Round-8: Hilbert-curve cells — the q101 rollup on the Hilbert
    * index instead of Z-order (adjacent cells are always spatially
    * adjacent; no quadrant-seam jumps), completing the layout
    * family. */
  private def qHilbertCells(s: SparkSession, dir: String): DataFrame = {
    val cust = pmod(col("o_custkey"), lit(256L))
    val price = ZOrder.quantize(col("o_totalprice"), 0.0, 640000.0, 8)
    val h = ZOrder.hilbertIndex(cust, price, 8)
    Tables.orders(s, dir)
      .select(cust.as("ck"), price.as("pb"), h.as("hval"))
      .groupBy(shiftright(col("hval"), 6).as("h_cell"))
      .agg(count(lit(1)).as("n_orders"),
        min("ck").as("min_ck"), max("ck").as("max_ck"),
        min("pb").as("min_pb"), max("pb").as("max_pb"))
      .orderBy("h_cell")
  }

  /** Round-8: near-duplicate image pairs — banded dHash Hamming
    * blocking over DISTINCT hashes (exact groups collapse first;
    * their sizes multiply analytically in n_a·n_b), exact
    * bit_count(xor) verify. */
  private def qImageNearDup(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.syntheticImagePayloads(
      Tables.documents(s, dir), "doc_id")
    Multimodal.imageNearDupPairs(Multimodal.imageDHash(s, payloads))
      .orderBy("rep_a", "rep_b")
  }

  /** As-of join: for each error event, the same user's most recent
    * purchase at-or-before it. */
  private def qAsofPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    // right side unique per (user, ts): keep the max event_id
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_event_id"))
    AsOfJoin.asOf(errors, purchases, key = "user_id", ts = "ts",
      payloadCols = Seq("purchase_event_id"))
      .select(col("event_id"), col("user_id"),
        col("asof_purchase_event_id").as("purchase_event_id"))
      .orderBy("event_id")
  }

  /** Same as-of lookup as q38 but through the NATIVE whole-operator
    * path: custom LogicalPlan + SparkStrategy + sort-merge SparkPlan
    * (tier (c) of the custom-operator ladder). Shares q38's oracle —
    * the two forms must agree bit-for-bit. */
  private def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_event_id"))
    org.apache.spark.sql.graft.AsOfJoinNative
      .asOf(errors, purchases, key = "user_id", ts = "ts",
        payloadCols = Seq("purchase_event_id"))
      .select(col("event_id"), col("user_id"),
        col("asof_purchase_event_id").as("purchase_event_id"))
      .orderBy("event_id")
  }

  /** Gopher repetition gate inputs: top word/bigram/trigram occurrence
    * fractions per document. */
  private def qRepetitionSignals(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Data-mixture downsampling: every source scaled toward an 800-token
    * budget by a deterministic keyed-hash coin. */
  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureSample(
      Tables.documents(s, dir)
        .withColumn("n_words", size(split(lower(col("text")), " "))),
      "doc_id", "source", "n_words", budget = 800L)
      .select(col("doc_id"), col("source"), col("n_words"), col("keep_rate"))
      .orderBy("doc_id")

  /** Sliding context-window chunking (window 32 tokens, stride 16). */
  private def qChunkWindows(s: SparkSession, dir: String): DataFrame =
    Curation.chunkWindows(Tables.documents(s, dir), "doc_id", "text",
      w = 32, s = 16)
      .orderBy("doc_id", "chunk_id")

  /** SCD-2 temporal versioning of the purchase change stream: validity
    * intervals per user with deterministic same-instant tie-break. */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    Temporal.scd2Intervals(
      Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value"),
      keyCol = "user_id", tsCol = "ts", seqCol = "event_id")
      .select(col("event_id"), col("user_id"), col("valid_from"),
        col("valid_to"), col("version"), col("is_current"))
      .orderBy("user_id", "version")

  /** Per-event-type winsorization of `value` into the exact
    * [p05, p95] band. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    Curation.winsorize(
      Tables.events(s, dir).select("event_id", "event_type", "value"),
      "event_type", "value", lo = 0.05, hi = 0.95)
      .select(col("event_id"), col("event_type"), col("value"),
        col("value_winsorized"))
      .orderBy("event_id")

  /** Per-event-type z-score normalization from exact decimal moments. */
  private def qZscore(s: SparkSession, dir: String): DataFrame =
    Curation.zscore(
      Tables.events(s, dir).select("event_id", "event_type", "value"),
      "event_type", "value")
      .select(col("event_id"), col("event_type"), col("value"),
        col("value_z"))
      .orderBy("event_id")

  /** Incremental-batch dedup: docs with id >= 400 are "today's batch",
    * flagged exact/near against the id < 400 corpus. */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalFlags(
      corpus = docs.filter(col("doc_id") < 400),
      batch = docs.filter(col("doc_id") >= 400),
      idCol = "doc_id", textCol = "text", n = 3,
      threshold = 0.6, maxShingleFreq = 50)
      .orderBy("doc_id")
  }

  /** Deterministic stratified 80/10/10 split of documents by lang. */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    Curation.trainValTestSplit(
      Tables.documents(s, dir).select("doc_id", "lang"),
      "doc_id", Seq("lang"))
      .orderBy("doc_id")

  /** Unigram-LM document quality: corpus-fit token frequencies, each
    * doc scored by mean / min token log-probability (CCNet shape). */
  private def qUnigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** ExactSubstr-style cross-document duplicated-span summary:
    * per doc, how many of its 8-token windows also occur verbatim in
    * another document. */
  private def qSubstringSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text", w = 8)
      .orderBy("doc_id")

  /** Strictly-ordered event funnel: view → click → signup → purchase,
    * per-step reach and conversion vs step 1. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    Funnel.reach(Tables.events(s, dir),
      Seq("view", "click", "signup", "purchase"))

  /** Weekly cohort retention matrix over the event stream. */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame =
    Funnel.cohortRetention(Tables.events(s, dir))

  /** Tokenizer-budget vocabulary cut: smallest frequency-ranked token
    * prefix covering 90% of corpus token mass. */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(s, dir), "doc_id", "text",
      covNum = 9, covDen = 10)
      .orderBy("rank")

  /** Int8 embedding-quantization audit: per-vector amax/mse/max-err. */
  private def qInt8Quant(s: SparkSession, dir: String): DataFrame =
    Quantization.int8Report(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy("vec_id")

  /** BM25 retrieval: top-10 documents per query term. */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TfIdf.bm25(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("spark", "stream", "join", "window"),
      k1 = 1.2, b = 0.75, topK = 10)
      .orderBy("term", "rnk")

  /** Round-10: Dirichlet-smoothed query likelihood — the language-
    * modeling retrieval ranker beside q85's BM25 (Zhai & Lafferty
    * 2001): every doc scores every query term (the smoothing mass is
    * the point), composed-floor fixed point, top-10 per term. */
  private def qDirichletQl(s: SparkSession, dir: String): DataFrame =
    TfIdf.dirichletQl(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "stream", "join", "window"),
        mu = 2000L, topK = 10)
      .orderBy("term", "rnk")

  /** Cross-source 5-gram content-overlap matrix (mirror detection). */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, dir), "source", "text", n = 5)
      .orderBy("source_a", "source_b")

  /** Corpus-order 5-gram novelty score per document. */
  private def qNovelty(s: SparkSession, dir: String): DataFrame =
    Dedup.noveltyScores(Tables.documents(s, dir), "doc_id", "text", n = 5)
      .orderBy("doc_id")

  /** ANALYZE-style numeric column profile over lineitem (one pass). */
  private def qColumnStats(s: SparkSession, dir: String): DataFrame =
    Stats.columnProfile(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("col_name")

  /** Equi-depth decile histogram of l_extendedprice, sort-free. */
  private def qEquiDepthHist(s: SparkSession, dir: String): DataFrame =
    Stats.equiDepthHistogram(Tables.lineitem(s, dir), "l_extendedprice", 10)
      .orderBy("bin")

  /** Funnel conversion latency: exact p50/p90 microseconds from first
    * view to earliest ordered purchase, completers only. */
  private def qFunnelLatency(s: SparkSession, dir: String): DataFrame =
    Funnel.timeToConvert(Tables.events(s, dir),
      Seq("view", "click", "signup", "purchase"))

  /** Block-level boilerplate removal: drop 16-word blocks appearing in
    * 3+ distinct documents, reassemble the rest (RefinedWeb line-dedup
    * shape over a newline-free corpus). */
  private def qBlockDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.blockDedup(Tables.documents(s, dir), "doc_id", "text",
      blockLen = 16, maxDf = 3)
      .orderBy("doc_id")

  /** SemDeDup semantic dedup: within each label cluster, vectors with
    * an earlier (smaller-id) cluster-mate at cosine >= 0.30 lose their
    * keep flag. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", tau = 0.30)
      .orderBy("vec_id")

  /** Efraimidis–Spirakis weighted sample: 100 documents drawn with
    * probability proportional to length, deterministically. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 100)
      .orderBy("sample_rank")

  /** Contiguous global ids over (source, doc_id) order via range
    * partitioning + per-partition offsets — never a one-partition
    * window. */
  private def qGlobalIds(s: SparkSession, dir: String): DataFrame =
    Curation.globalRowIds(
      Tables.documents(s, dir).select("doc_id", "source"),
      Seq("source", "doc_id"))
      .orderBy("doc_id")

  /** Exact heavy hitters by sketch + verify: a Misra-Gries candidate
    * pass (native mergeable aggregate, <= k rows cross the wire per
    * partition), then a broadcast semi-join exact count over just the
    * candidates. Threshold cnt·(k+1) > N sits exactly on the sketch's
    * no-false-negative guarantee, so the result equals the plain
    * GROUP BY / HAVING answer — which is the oracle. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 28
    def words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
    val cands = words
      .agg(org.apache.spark.sql.graft.MisraGriesTopK
        .column(col("word"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.word").as("word"))
    val totals = words.agg(count(lit(1)).as("n_total"))
    words.join(broadcast(cands), Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("word"), col("cnt"))
      .orderBy("word")
  }

  /** Count-Min frequency sketch + exact verify: Spark's built-in
    * mergeable `count_min_sketch` aggregate over the token stream (one
    * w×d counter grid per partition crosses the wire, never the
    * tokens), probed for the exact top-20 words via the native
    * `cms_estimate` expression. The CMS guarantee — est ≥ true and
    * est ≤ true + eps·N w.h.p. — becomes the oracle-checkable verdict
    * `cms_ok`; the exact counts come from the verify side, so the
    * DuckDB twin is a plain GROUP BY + top-k. */
  private def qCmsVerify(s: SparkSession, dir: String): DataFrame = {
    def words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
    val sk = words.agg(
      count_min_sketch(col("word"), lit(0.001), lit(0.99), lit(42)).as("sk"),
      count(lit(1)).as("n_total"))
    val top = words.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word").asc).limit(20)
    val est = org.apache.spark.sql.graft.CmsEstimate
      .column(col("sk"), col("word"))
    top.crossJoin(broadcast(sk))
      .select(col("word"), col("exact_cnt"),
        (est >= col("exact_cnt") &&
          est <= col("exact_cnt") + ceil(lit(0.001) * col("n_total")))
          .as("cms_ok"))
      .orderBy(col("exact_cnt").desc, col("word").asc)
  }

  /** Compression-ratio quality signal: zlib ratio per document, one
    * Deflater per partition (rows-only — no SQL twin for zlib). */
  /** Round 8: q96 now publishes the per-source compressibility rollup
    * (all-integer, oracle-hashable) instead of the raw zlib rows —
    * DuckDB has no DEFLATE, so the zlib ratio can never be
    * oracle-hashed at any quantization; it stays the engine API
    * ([[operators.TextAnalysis.compressionRatio]]), Deflater-pinned in
    * ScalaTest. Decision recorded in COVERAGE.md. */
  private def qCompressionRatio(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressibilityBySource(Tables.documents(s, dir),
        "doc_id", "text", "source")
      .orderBy("source")

  /** Quality-aware canonical election over document near-dup clusters:
    * portable MinHash pairs → connected components → keep the
    * best-logit member per cluster (min doc_id tie-break) — dedup
    * that keeps the BEST copy, not an arbitrary one. */
  private def qCanonicalByQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = DuplicateClusters.resolveContracted(
      MinHashLSH.nearDuplicatesPortable(docs, "doc_id", "text")
        .select("a", "b"))
    DuplicateClusters.canonicalByQuality(clusters,
        TextAnalysis.linearScore(docs, "doc_id", "text", buckets = 64))
      .orderBy("cluster_id", "doc_id")
  }

  /** Benchmark 8-gram decontamination: every 97th doc stands in as the
    * eval set; non-benchmark docs sharing any 8-gram get flagged —
    * the GPT-3-style pre-training hygiene report. */
  private def qBenchmarkDecontam(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.benchmarkNgramContamination(Tables.documents(s, dir),
        "doc_id", "text", col("doc_id") % 97 === 0, n = 8)
      .orderBy("doc_id")

  /** Replayable compressibility proxy (q96's oracle-checked companion:
    * duplicate-4-gram mass, the LZ77-match surrogate; the real zlib
    * number stays in rows-only q96 by design). */
  private def qCompressProxy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressibilityProxy(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Spark 4 transformWithState (StatefulProcessor + RocksDB store):
    * per-user MapState by event type; order-independent aggregates so
    * the batch GROUP BY is the exact oracle. */
  private def qStreamTypeStats(s: SparkSession, dir: String): DataFrame =
    streaming.TypeStats.perTypeStats(s, dir)
      .orderBy("user_id", "event_type")

  /** Grouped heavy hitters: one Misra-Gries sketch PER SOURCE (partial
    * aggregation per group key), then the same broadcast-candidates
    * exact verify — per-group frequent tokens at corpus scale without
    * ever shuffling the full (source, word) count table. */
  private def qGroupedHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 24
    def words = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("word"))
    val cands = words
      .groupBy("source")
      .agg(org.apache.spark.sql.graft.MisraGriesTopK
        .column(col("word"), k).as("sk"))
      .select(col("source"), explode(col("sk")).as("e"))
      .select(col("source"), col("e.word").as("word"))
    val totals = words.groupBy("source").agg(count(lit(1)).as("n_total"))
    words.join(broadcast(cands), Seq("source", "word"), "left_semi")
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("source"))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("source"), col("word"), col("cnt"))
      .orderBy("source", "word")
  }

  /** Bloom-pruned semi join: sketch the clicker ids (kilobytes), probe
    * customers map-side before the shuffle, exact semi-join refines.
    * No false negatives -> result equals the plain semi join, which is
    * the oracle. */
  private def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    val clickers = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"))
    val sketch = org.apache.spark.sql.graft.BloomPrune
      .sketchBytes(clickers, col("user_id"), expectedItems = 100000L)
    Tables.customer(s, dir)
      .filter(org.apache.spark.sql.graft.BloomPrune
        .mightContain(col("c_custkey"), sketch))
      .join(clickers.distinct(), col("c_custkey") === col("user_id"),
        "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  /** ExactSubstr span removal: cut every token covered by a
    * cross-document duplicated 8-token window, reassemble the rest. */
  private def qSpanRemoval(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
      w = 8)
      .orderBy("doc_id")

  /** Z-order (Morton) layout audit: orders keyed by the bit-interleave
    * of (custkey mod 256, price bucket), aggregated per 64-Z-value cell
    * with each dimension's min/max extent — the per-file stats a
    * Z-ordered layout hands to parquet row-group pruning. The layout
    * itself (`ZOrder.layout` = range exchange + intra-partition sort)
    * is exercised in ZOrderSpec; this query pins the interleave math
    * (16-term shift/mask OR fold, bijective — oracle runs the same
    * unrolled bit expression) and shows the extents staying bounded in
    * BOTH dimensions inside every cell. */
  private def qZorderCells(s: SparkSession, dir: String): DataFrame = {
    val cust = pmod(col("o_custkey"), lit(256L))
    val price = ZOrder.quantize(col("o_totalprice"), 0.0, 640000.0, 8)
    val z = ZOrder.interleaveBits(Seq(cust, price), 8)
    Tables.orders(s, dir)
      .select(cust.as("ck"), price.as("pb"), z.as("zval"))
      .groupBy(shiftright(col("zval"), 6).as("z_cell"))
      .agg(count(lit(1)).as("n_orders"),
        min("ck").as("min_ck"), max("ck").as("max_ck"),
        min("pb").as("min_pb"), max("pb").as("max_pb"))
      .orderBy("z_cell")
  }

  /** PageRank over the nation-level trade graph (supplier nation →
    * customer nation, weighted by shipped line items): 5 power
    * iterations of [[PageRank.run]] in exact integer micro-units. Edge
    * building is the heavy part at scale — lineitem⋈orders is the big
    * shuffle, supplier/customer are broadcast dims — and each
    * iteration is two fixed-width shuffles over the (tiny) aggregated
    * edge list. The oracle replays all 5 iterations as unrolled CTEs:
    * integer arithmetic makes every bit reproducible. */
  /** Nation-level trade edges (supplier nation → customer nation,
    * weighted by shipped line items) — the shared graph for
    * q102/q107. lineitem⋈orders is the big shuffle; supplier/customer
    * are broadcast dims. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  private def qPageRank(s: SparkSession, dir: String): DataFrame =
    PageRank.run(tradeEdges(s, dir), iters = 5)
      .select(col("node").as("nationkey"), col("pagerank_scaled"))
      .orderBy("nationkey")

  /** Co-located join via BUCKETED tables: both sides are written
    * bucketed (and per-bucket sorted) on the join key, so the
    * sort-merge join reads bucket i against bucket i with ZERO
    * exchange on either side — the "pay the shuffle once at layout
    * time, join shuffle-free forever after" pattern that carries
    * nightly 100 TB joins (BucketedJoinSpec pins the no-Exchange
    * plan). The `merge` hint keeps the demonstration honest at test
    * SF, where the dimension side would otherwise broadcast. */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // a fresh session's in-memory catalog doesn't know about table
    // directories left by a PREVIOUS run — saveAsTable then refuses the
    // existing location, so drop both the entry and the directory first
    Seq("graft_orders_bkt", "graft_customer_bkt").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    Tables.orders(s, dir).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_orders_bkt")
    Tables.customer(s, dir).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_customer_bkt")
    s.table("graft_orders_bkt").hint("merge")
      .join(s.table("graft_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Deequ-style data-quality report over orders: every per-row
    * constraint (not-null, range, domain) fused into ONE conditional-
    * aggregate scan, plus the uniqueness and referential checks that
    * genuinely need aggregation/a second table. One row per check:
    * (check, violations, passed) — the promote-or-quarantine gate a
    * pipeline runs on each ingested batch. */
  private def qDataQuality(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val perRow = Expectations.report(orders, Seq(
      "o_orderkey_not_null" -> col("o_orderkey").isNull,
      "o_custkey_not_null" -> col("o_custkey").isNull,
      "o_totalprice_nonnegative" -> (col("o_totalprice") < 0),
      "o_totalprice_upper_bound" -> (col("o_totalprice") > 1000000.0),
      "o_orderstatus_in_domain" ->
        !col("o_orderstatus").isin("O", "F", "P")))
    val unique = orders
      .agg((count(lit(1)) - count_distinct(col("o_orderkey")))
        .as("violations"))
      .select(lit("o_orderkey_unique").as("check"), col("violations"),
        (col("violations") === 0L).as("passed"))
    val ref = Expectations.referential(orders, "o_custkey",
      Tables.customer(s, dir), "c_custkey", "orders_custkey_in_customer")
    perRow.unionByName(unique).unionByName(ref).orderBy("check")
  }

  /** CDC batch apply (MERGE semantics): an ordered I/U/D change stream
    * derived from orders folds into the customer snapshot —
    * last-writer-wins per key via one bounded window over the CHANGES;
    * the snapshot side never shuffles (anti-join on the broadcast
    * touched-key set + union of surviving payloads). */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val snapshot = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val changes = Tables.orders(s, dir).select(
      col("o_custkey").as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(col("o_orderstatus") === "P", "D")
        .when(col("o_orderstatus") === "O", "I").otherwise("U").as("op"),
      concat(lit("o"), col("o_orderkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"))
    Cdc.apply(snapshot, changes, key = "c_custkey", seq = "seq", op = "op")
      .orderBy("c_custkey")
  }

  /** Triangle count of the undirected nation trade graph by
    * degree-ordered orientation — each node's oriented out-degree is
    * O(√m), so the wedge join never goes quadratic on hub nations. */
  private def qTriangleCount(s: SparkSession, dir: String): DataFrame =
    Triangles.count(tradeEdges(s, dir)
      .select(col("src").as("u"), col("dst").as("v")))

  /** Rollup aggregation (subtotals + grand total). */
  private def qRollupRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Running (cumulative) revenue per customer over order history. */
  private def qRunningRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double")
          .as("running_revenue"))
      .orderBy("o_orderkey")
  }

  /** Exact interpolated percentiles per event type (bit-identical to
    * DuckDB's quantile_cont — verified empirically). */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Exact dedup on a NORMALIZED key (lowercase, trimmed, whitespace
    * collapsed) — the practical form of the reference's insert-if-
    * absent keyed on cleaned strain names (Scraper.py:402-412). */
  private def qDedupNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      Tables.documents(s, dir),
      regexp_replace(trim(lower(col("text"))), "\\s+", " "),
      col("doc_id"))
      .orderBy("keeper_id")

  /** Time-dimension extraction: hourly activity profile. */
  private def qHourlyProfile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec6(col("value"))).cast("double").as("sum_value"))
      .orderBy("hour_of_day")

  /** Edit-distance name similarity over the strain dimension (fuzzy
    * matching — the cleanup step a scraped-name pipeline needs).
    *
    * Blocked similarity join, NOT a cross join: |len(a)-len(b)| <= d is
    * necessary for levenshtein <= d, so each left row is exploded into
    * the 2d+1 candidate lengths and equi-joined on the right row's
    * exact length — every true pair meets on exactly one key (len(b)),
    * so the result is identical to the theta join (the oracle stays the
    * plain formulation) while candidates scale with the length-band
    * population instead of n². The refine step uses the banded
    * levenshtein (threshold arg → O(d·n) per pair, early-exit). */
  private def qNameSimilarity(s: SparkSession, dir: String): DataFrame = {
    val maxDist = 4
    val st = Emotions.strainsWide(s, dir).select("strain_id", "strain_name")
    val a = st.toDF("a_id", "a_name")
      .withColumn("blk", explode(sequence(
        length(col("a_name")) - maxDist, length(col("a_name")) + maxDist)))
    val b = st.toDF("b_id", "b_name")
      .withColumn("blk", length(col("b_name")))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name"), maxDist))
      .filter(col("dist") =!= -1)
      .select("a_id", "a_name", "b_id", "b_name", "dist")
      .orderBy("a_id", "b_id")
  }

  /** Long→wide pivot: document counts per (source, lang). */
  private def qPivotLangCounts(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val p = Tables.documents(s, dir)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
    langs.foldLeft(p) { (d, l) =>
      d.withColumn(l, coalesce(col(l), lit(0L)))
    }.orderBy("source")
  }

  /** IVF approximate nearest neighbor — round-7 promotion: the PRIMARY
    * is the portable integer-Lloyd construction (q176's body: integer
    * train, integer probed search), fully oracle-checked via the
    * unrolled-CTE twin. The float k-means kernel
    * ([[IvfIndex.train]]/[[IvfIndex.search]]) remains the scale path,
    * recall-pinned in IvfSpec. */
  private def qIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.quantize16(col("embedding")).as("q"))
    val centroids = IvfIndex.trainPortable(s,
      qv.select(col("vec_id").as("id"), col("q")), k = 4, iters = 2)
    IvfIndex.searchPortable(
      qv.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("q").as("qq")),
      qv.select(col("vec_id").as("cid"), col("q").as("cq")),
      centroids, nProbe = 2, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Duplicate clusters: connected components over the LSH-bucketed
    * near-dup edge set (same scale-safe pair path as q32), min-id
    * canonical per component. */
  private def qDupClusters(s: SparkSession, dir: String): DataFrame =
    DuplicateClusters.resolveContracted(
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), dims = 64,
        planesPerBand = 4, nBands = 8, threshold = 0.4)
        .select("a", "b"))
      .orderBy("doc_id")

  /** Skew-aware salted join (result-identical to the plain equi join). */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")))
    SkewAgg.saltedJoin(ev, dim, "event_type",
      saltSource = col("event_id"), salts = 8)
      .groupBy(col("event_type"), col("type_weight"))
      .agg(count(lit(1)).as("n"),
        sum(dec6(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Sketch-based distinct counting (HLL++) with an in-query exact
    * verify (the q95 convention): the sketch is the product — one
    * mergeable register set per group, map-side partial agg, the
    * 100 TB path — and the exact count_distinct runs alongside ONLY
    * to grade it. `hll_ok` asserts the estimate within 10% (5σ at
    * rsd=0.02); the estimate itself stays out of the output so the
    * DuckDB oracle (exact counts + literal true) hash-matches. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02)
          .as("approx_parts"),
        count_distinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          <= lit(0.10) * col("exact_parts")).as("hll_ok"))
      .orderBy("l_returnflag")

  /** Range (band) join via bucketed equi-join: orders priced into
    * deterministic bands. */
  private def qPriceBands(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(0, 12).toDF("band_id")
      .select(col("band_id"),
        (col("band_id") * 50000.0).as("lo"),
        ((col("band_id") + 1) * 50000.0).as("hi"))
    RangeJoin.byBucket(
      Tables.orders(s, dir), "o_totalprice", bands, "lo", "hi",
      bucketWidth = 25000.0)
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("band_revenue"))
      .orderBy("band_id")
  }

  /** Typed JSON extraction over the events props column (F9 via
    * from_json with an explicit schema, not regex). */
  private def qEventsJsonTyped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("props_t",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))))
      .groupBy(col("event_type"))
      .agg(
        min(col("props_t.k")).as("min_k"),
        max(col("props_t.k")).as("max_k"),
        sum(col("props_t.k")).cast("bigint").as("sum_k"),
        count(when(col("props_t.k").isNull, 1)).as("n_null"))
      .orderBy("event_type")

  /** Gopher-style corpus quality gate: per-rule booleans + keep flag. */
  private def qQualityFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFilter(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Cube aggregation (all grouping-set combinations). */
  private def qCubeCounts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Per-stratum quota sampling — cap every (lang, source) cell at 5
    * docs, chosen by deterministic scrambled-id order. */
  private def qQuotaSample(s: SparkSession, dir: String): DataFrame =
    Curation.quotaSample(Tables.documents(s, dir), "doc_id",
        Seq("lang", "source"), n = 5)
      .select("doc_id", "lang", "source", "sample_rank")
      .orderBy("doc_id")

  /** PII-style scrub: redact digit runs in the event props payload,
    * reporting per-row hit counts. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redact(Tables.events(s, dir), "props",
        pattern = "[0-9]{2,}", token = "<NUM>")
      .select("event_id", "n_redacted", "redacted")
      .orderBy("event_id")

  /** TF-IDF top-3 salient terms per document (linear idf). */
  private def qTfIdfTopTerms(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "term_rank")

  /** Token-budget shard packing per source (n_chars as the budget
    * unit; 10k per shard). */
  private def qShardPacking(s: SparkSession, dir: String): DataFrame =
    Curation.packByTokenBudget(Tables.documents(s, dir),
        groupCol = "source", orderCol = "doc_id", tokensCol = "n_chars",
        budget = 10000L)
      .select("doc_id", "source", "n_chars", "tokens_before", "shard_id")
      .orderBy("doc_id")

  /** Dedup-representative election: among exact-duplicate texts keep
    * the highest-quality copy (ties → min doc_id). */
  private def qDedupReps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality"))
    val joined = docs.select("doc_id", "text").join(quality, Seq("doc_id"))
    Curation.electRepresentatives(joined, keyCol = "text",
        idCol = "doc_id", scoreCol = "quality")
      .select("doc_id", "dup_count", "quality")
      .orderBy("doc_id")
  }

  /** Approximate quantile sketch (KLL-style, Spark's approx_percentile)
    * per return flag — the mergeable one-pass alternative to the exact
    * sort-based percentile (q41) when 100 TB makes exactness pointless.
    * Sketch merging is associative, so the partial aggregation shuffles
    * one sketch per partition, not the data.
    *
    * The sketch values are engine-specific, so the oracle-checkable
    * output is the RANK-ERROR verification (the q95/q49 exact-verify
    * convention): each returned quantile v must satisfy
    * count(x < v)/n ≤ q + ε and count(x ≤ v)/n ≥ q − ε with
    * ε = 1/accuracy (+1 row of slack) — the published
    * approx_percentile guarantee, checked by one broadcast join back
    * over the data. Alongside, the EXACT interpolated percentiles
    * (q41's percentile ⇄ quantile_cont identity) make the row
    * hash-comparable. */
  private def qApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75", 0.99 -> "99")
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("price"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("price"),
        array(qs.map(q => lit(q._1)): _*), lit(10000)).as("aq"))
    val eps = 1.0 / 10000
    val ranked = li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        qs.zipWithIndex.flatMap { case ((_, tag), i) => Seq(
          sum(when(col("price") < element_at(col("aq"), i + 1), 1L)
            .otherwise(0L)).as(s"lt$tag"),
          sum(when(col("price") <= element_at(col("aq"), i + 1), 1L)
            .otherwise(0L)).as(s"le$tag"))
        }: _*)
    val exactAggs = qs.map { case (q, tag) =>
      expr(s"percentile(price, $q)").as(s"p$tag") }
    val exact = li.groupBy(col("l_returnflag"))
      .agg(exactAggs.head, exactAggs.tail: _*)
    ranked.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag") +: col("n") +:
        (qs.map { case (_, tag) => col(s"p$tag") } ++
         qs.map { case (q, tag) =>
           ((col(s"lt$tag") <= (lit(q) + eps) * col("n") + 1) &&
            (col(s"le$tag") >= (lit(q) - eps) * col("n") - 1))
             .as(s"ok$tag") }): _*)
      .orderBy("l_returnflag")
  }

  /** The pure-SQL surface: the same engine driven through
    * `spark.sql` over registered views — nation revenue ranking with a
    * windowed rank over grouped decimal sums. One statement exercises
    * views, multi-join, grouped agg, and a window, planned by the same
    * Catalyst pipeline as the DataFrame API (SURVEY.md §3: "SQL
    * strings shipped to SQLite" becomes spark.sql with identical
    * semantics to the fluent API). */
  private def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("v_orders")
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    Tables.nation(s, dir).createOrReplaceTempView("v_nation")
    s.sql("""
      SELECT n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        CAST(RANK() OVER (
          ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, n_name)
          AS INT) AS rnk
      FROM v_orders
      JOIN v_customer ON o_custkey = c_custkey
      JOIN v_nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY rnk""")
  }

  /** Streaming stream-static enrichment join (complete mode). */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame =
    EventsStream.enrichedSegmentTotals(s, dir).orderBy("c_mktsegment")

  /** Streaming exact dedup via dropDuplicates state. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    EventsStream.distinctUserTypePairs(s, dir).orderBy("event_type")

  /** Watermark-BOUNDED streaming dedup (round 7 — the one streaming
    * operator that previously had only a batch-twin spec): same
    * result as q60 when the fixture arrives as a single batch (no
    * state evicts mid-run), so the exact-dedup SQL is its oracle;
    * at 100 TB/day the watermark keys the state store to the time
    * horizon instead of one-entry-per-key-forever. */
  private def qStreamWmDedup(s: SparkSession, dir: String): DataFrame =
    EventsStream.distinctPairsWithinWatermark(s, dir).orderBy("event_type")

  /** CSV sink + source round-trip (SURVEY.md S6/S7, the reference's
    * `to_csv` / header-skipping `open()+readline()` pair,
    * `Scraper.py:369-371, 394-401`): write the strain list with a
    * header, read it back with an explicit schema (never inferred — at
    * 100 TB schema inference is a full extra scan). */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val strains = Emotions.strainsWide(s, dir).select("strain_id", "strain_name")
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv_rt").toString
    strains.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true")
      .schema("strain_id BIGINT, strain_name STRING")
      .csv(tmp)
      .orderBy("strain_id")
  }

  /** Catalog introspection (SURVEY.md S11, the reference's
    * `sqlite_master` query, `Scraper.py:445-449`): register views, list
    * them and their columns through `spark.catalog`. Catalog metadata
    * is driver-side by nature (like sqlite_master); the row count is
    * O(tables), never O(data). */
  private def qCatalog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.region(s, dir).createOrReplaceTempView("cat_region")
    Tables.nation(s, dir).createOrReplaceTempView("cat_nation")
    Tables.supplier(s, dir).createOrReplaceTempView("cat_supplier")
    val tables = s.catalog.listTables()
      .filter((t: org.apache.spark.sql.catalog.Table) => t.name.startsWith("cat_"))
      .collect().map(_.name).sorted
    tables.flatMap { t =>
      s.catalog.listColumns(t).collect()
        .map(c => (t, c.name, c.dataType))
    }.toSeq.toDF("table_name", "column_name", "data_type")
      .orderBy("table_name", "column_name")
  }

  /** JSON map → rows (SURVEY.md R3, the reference's
    * `for key in hello[...]` walk over the map-shaped API payload with
    * a counter id, `Scraper.py:268-270`): assemble ONE map-shaped
    * payload covering the catalog (deterministically ordered), parse
    * with an explicit MapType schema, explode to rows, and assign
    * counter ids by key order — `row_number`, never
    * `monotonically_increasing_id` (ids must be deterministic). The
    * single-payload shape is inherently one row (the reference's one
    * API response); the per-record parallel form is q30. */
  private def qMapExplode(s: SparkSession, dir: String): DataFrame = {
    val entries = JsonSources
      .partAsStrainJson(Tables.part(s, dir).filter(col("p_partkey") <= 500))
      .select(concat(lit("\"p"), col("p_partkey"), lit("\": "),
        col("payload")).as("e"))
    val payload = entries
      .agg(concat_ws(",", array_sort(collect_list(col("e")))).as("es"))
      .select(concat(lit("{"), col("es"), lit("}")).as("j"))
    val parsed = payload
      .select(explode(JsonSources.strainMap(col("j")))
        .as(Seq("strain_key", "st")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("strain_key"))
    parsed.select(
      row_number().over(w).cast("int").as("row_id"),
      col("strain_key"),
      col("st.race").as("race"),
      size(col("st.flavors")).as("n_flavors"))
      .orderBy("row_id")
  }

  /** HTML paragraph extraction (SURVEY.md S3): deterministically render
    * each ASCII document as an HTML page (3 boilerplate paragraphs +
    * 120-char content paragraphs + footer), then extract with the
    * engine's `find_all('p')` + Python-slice equivalents — `[3:]` (the
    * transcript-page slice) and `[4:9]` (the strain-page slice). The
    * DuckDB oracle performs the identical render + regexp extraction,
    * so the check exercises the extraction itself, not just the
    * round-trip. */
  private def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.HtmlExtract
    val W = 120
    val docs = Tables.documents(s, dir)
      .filter(octet_length(col("text")) === length(col("text")))
    val nChunks = greatest(
      ceil(length(col("text")) / lit(W.toDouble)).cast("int"), lit(1))
    val contentParas = transform(sequence(lit(0), nChunks - 1),
      i => concat(lit("<p>"), col("text").substr(i * W + 1, lit(W)),
        lit("</p>")))
    val html = concat(
      lit("<html><body><p class=\"nav\">nav</p><p>hdr</p><p>ad</p>"),
      concat_ws("", contentParas),
      lit("<p>footer</p></body></html>"))
    val paras = HtmlExtract.paragraphs(html)
    docs.select(
      col("doc_id"),
      size(paras).as("n_paragraphs"),
      substring(concat_ws(" ", HtmlExtract.sliceFrom(paras, 3)), 1, 200)
        .as("body_from3"),
      substring(concat_ws(" ", HtmlExtract.sliceRange(paras, 4, 9)), 1, 200)
        .as("body_4to9"))
      .orderBy("doc_id")
  }

  /** DataSource V2 REST-loop connector (SURVEY.md S2's production
    * form): `spark.read.format(<TableProvider>)` plans one input
    * partition per key range — the per-key GET loop as a first-class
    * source with explicit fetch parallelism — then the payloads flow
    * through the same typed-JSON parse + aggregate as any other
    * source. The oracle derives identical rows from `range()` (the
    * payloads are deterministic functions of the key). */
  private def qDsv2Source(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.v2.StrainApiSource")
      .option("keys", 41).option("keysPerPartition", 8).load()
      .select(col("num"), JsonSources.strainBridge(col("payload")).as("st"))
      .select(col("num"), col("st.race").as("race"),
        size(col("st.flavors")).as("n_flavors"))
      .groupBy("race")
      .agg(count(lit(1)).as("n"),
        sum(col("n_flavors")).cast("bigint").as("total_flavors"))
      .orderBy("race")

  /** Watermarked stream-stream interval join (append mode — the state
    * store holds only the watermark horizon per side); result equals
    * the batch interval join, which the oracle computes directly. */
  private def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    EventsStream.errorPurchaseIntervalJoin(s, dir).orderBy("user_id")

  /** Benchmark decontamination: docs 0..19 act as the held-out eval
    * set; every other document sharing a 5-gram with them is flagged
    * (the training-data hygiene step between dedup and curation). */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.decontaminate(
      corpus = docs.filter(col("doc_id") >= 20),
      bench = docs.filter(col("doc_id") < 20),
      idCol = "doc_id", textCol = "text", n = 5)
      .orderBy("doc_id")
  }

  /** Jaro-Winkler fuzzy name-linkage pairs — the edit-similarity join
    * the reference's slug-equality matching is an approximation of
    * (Scraper.py links scraped and API strain names only on exact
    * normalized slugs). Native codegen'd [[org.apache.spark.sql.graft.JaroWinkler]]
    * expression, bit-exact vs DuckDB's `jaro_winkler_similarity`;
    * first-byte blocking keys (mirrored in the oracle) keep candidates
    * linear-ish — and the Winkler prefix boost means any pair a
    * first-char block misses scores structurally lower anyway. */
  private def qJaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    val st = Emotions.strainsWide(s, dir).select("strain_id", "strain_name")
    val a = st.toDF("a_id", "a_name")
      .withColumn("blk", substring(col("a_name"), 1, 1))
    val b = st.toDF("b_id", "b_name")
      .withColumn("blk", substring(col("b_name"), 1, 1))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("jw", org.apache.spark.sql.graft.JaroWinklerFunctions
        .jaroWinkler(col("a_name"), col("b_name")))
      .filter(col("jw") >= 0.85)
      .select("a_id", "a_name", "b_id", "b_name", "jw")
      .orderBy("a_id", "b_id")
  }

  /** BFS hop distances from nation 0 over each nation's top-3
    * heaviest trade routes (the full digraph is complete at any real
    * SF, so "primary partners only" is what gives multi-hop
    * structure — and the per-src top-k prune is itself the scale
    * guard: frontier fan-out is bounded by k, not by |V|). Exact
    * integer distances; the oracle replays the frontier walk as a
    * recursive CTE with UNION-dedup. */
  private def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    val primary = TopK.perGroupTopN(tradeEdges(s, dir), Seq(col("src")),
        Seq(col("w").desc, col("dst").asc), 3)
      .select("src", "dst")
    ShortestPaths.bfs(primary, source = 0L)
      .select(col("node").as("nationkey"), col("dist"))
      .orderBy("nationkey")
  }

  /** Month date-spine gap fill: per sampled customer, the full month
    * calendar between first and last order, silent months zero-filled. */
  private def qDateSpine(s: SparkSession, dir: String): DataFrame =
    Temporal.monthSpine(
      Tables.orders(s, dir).filter(col("o_custkey") % 100 === 0),
      keyCol = "o_custkey", tsCol = "o_orderdate",
      aggs = scala.collection.immutable.ListMap(
        "n_orders" -> count(lit(1)),
        "revenue" -> sum(dec2(col("o_totalprice"))).cast("double")))
      .orderBy("o_custkey", "month")

  /** Trailing 24 h per-user mean purchase value via a RANGE frame on
    * the microsecond axis (decimal-exact sum ÷ count). */
  private def qTrailingAvg(s: SparkSession, dir: String): DataFrame =
    Temporal.trailingAvg(
      Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value"),
      keyCol = "user_id", tsCol = "ts", valueCol = "value",
      windowSec = 86400L)
      .select("event_id", "user_id", "win_n", "win_avg")
      .orderBy("event_id")

  /** Token-level Simpson (collision) diversity per document — the
    * log-free repetition statistic (exact integer ratio). */
  private def qLexicalDiversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "sum_sq", "collision_prob")
      .orderBy("doc_id")

  /** Corpus profile: top-5 word trigrams per language, ties broken
    * lexicographically (WindowGroupLimit prunes pre-shuffle). */
  private def qLangTrigrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgramsPerGroup(Tables.documents(s, dir), "lang", "text",
        n = 3, k = 5)
      .select("lang", "gram", "cnt", "rank")
      .orderBy("lang", "rank")

  /** Explicit GROUPING SETS (beyond the rollup/cube shorthands of
    * q39/q53): per-flag and per-status marginals plus the grand total
    * in one pass, tagged by grouping_id. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Per-type decile profile: ntile(10) under a TOTAL order (value,
    * then id — ties must not leave bucket assignment to partition
    * luck), then per-bucket count/min/max. */
  private def qValueDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    Tables.events(s, dir).select("event_id", "event_type", "value")
      .withColumn("decile", ntile(10).over(w))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n"),
        min("value").as("min_v"), max("value").as("max_v"))
      .orderBy("event_type", "decile")
  }

  /** Snapshot diff (inverse of q106's CDC apply): supplier vs a
    * simulated next-day version (some keys dropped, some balances
    * bumped, some new keys) → the added/removed/changed delta. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("s_name", "s_nationkey", "s_acctbal")
    val a = Tables.supplier(s, dir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val b = a.filter(col("s_suppkey") % 13 =!= 0)
      .withColumn("s_acctbal",
        when(col("s_suppkey") % 7 === 0, col("s_acctbal") + 10)
          .otherwise(col("s_acctbal")))
      .unionByName(a.filter(col("s_suppkey") % 11 === 0)
        .withColumn("s_suppkey", col("s_suppkey") + 100000))
    Cdc.snapshotDiff(a, b, "s_suppkey", cols)
      .orderBy("s_suppkey", "change_type")
  }

  /** MAD-based robust outliers per event type — exact lower-median
    * order statistics (no interpolation), so bit-oracle-able. */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    Stats.madOutliers(
      Tables.events(s, dir).select("event_id", "event_type", "value"),
      "event_type", "event_id", "value")
      .orderBy("event_id")

  /** Exact-phrase search via the positional inverted index: postings
    * filtered to the phrase's own terms, then |phrase|-1 adjacency
    * equi-joins on (doc, anchor). */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.phraseHits(Tables.documents(s, dir), "doc_id", "text",
        "a slow query")
      .orderBy("doc_id")

  /** Concurrent sessions: for each 30-min-gap session, how many
    * OTHER-user sessions overlap it in time — the bucketed
    * interval-overlap join (pair kept only in max(lo_a,lo_b)'s bucket,
    * so no dedup pass). */
  private def qConcurrentSessions(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessions.sessionWindows(Tables.events(s, dir), 1800L)
    def side(p: String) = sess.select(
      col("user_id").as(p + "user"),
      unix_micros(col("session_start")).as(p + "lo"),
      unix_micros(col("session_end")).as(p + "hi"))
    RangeJoin.intervalOverlapPairs(side("a_"), side("b_"),
        "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 3600L * 1000000L)
      .filter(col("a_user") =!= col("b_user"))
      .groupBy(col("a_user").as("user_id"), col("a_lo").as("start_us"))
      .agg(count(lit(1)).as("n_concurrent"))
      .orderBy("user_id", "start_us")
  }

  /** 2-D skyline of parts (cheapest vs largest): the sort-based
    * linear frontier; the oracle is the quadratic NOT EXISTS
    * self-join it replaces. */
  private def qSkyline(s: SparkSession, dir: String): DataFrame =
    Skyline.frontier2d(
      Tables.part(s, dir).select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_partkey")

  /** Incremental aggregate maintenance: the per-customer rollup
    * absorbs an appended batch by MERGING AGGREGATE STATES (decimal-
    * exact, so incremental ≡ direct bit-for-bit) — the oracle computes
    * the direct GROUP BY over the full table and must agree. */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def agg(df: DataFrame) = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).as("revenue"))
    IncrementalAgg.merge(
      agg(o.filter(col("o_orderkey") % 10 =!= 7)),  // standing rollup
      agg(o.filter(col("o_orderkey") % 10 === 7)),  // today's batch
      Seq("o_custkey"), Seq("n_orders", "revenue"))
      .withColumn("revenue", col("revenue").cast("double"))
      .orderBy("o_custkey")
  }

  /** Referential-integrity audit: orphan counts per FK relationship
    * (anti-join aggregates); one dimension is deliberately broken
    * (every 50th part dropped) to exercise the non-zero path. */
  private def qFkViolations(s: SparkSession, dir: String): DataFrame = {
    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
        name: String) =
      fact.select(col(fk))
        .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .withColumn("relationship", lit(name))
    val li = Tables.lineitem(s, dir)
    orphans(li, "l_orderkey", Tables.orders(s, dir), "o_orderkey",
        "lineitem->orders")
      .unionByName(orphans(li, "l_partkey",
        Tables.part(s, dir).filter(col("p_partkey") % 50 =!= 0), "p_partkey",
        "lineitem->part_broken"))
      .unionByName(orphans(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey", "orders->customer"))
      .select("relationship", "n_orphans")
      .orderBy("relationship")
  }

  /** Market-basket co-purchase pairs: top-20 part pairs by number of
    * shared orders — the co-occurrence statistic item-similarity and
    * item2vec-style training data start from. Per-order fan-out is
    * bounded by order size (k² for k lineitems); the top-20 compiles
    * to TakeOrderedAndProject (per-partition heaps, no global sort). */
  private def qCopurchase(s: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    lp.toDF("ok", "a").join(lp.toDF("ok", "b"), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Rolling 7-day active users: TRUE windowed distinct (not a sum of
    * dailies). Each (day, user) activity row fans out to the ≤7 window
    * days it contributes to (map-side explode — the bucketed form of
    * the day-range join), then one distinct-count per window day.
    * Shuffle volume is 7 × |activity|, never |days| × |users|. */
  private def qRollingActives(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = du.select(col("day")).distinct()
    val dau = du.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = du
      .withColumn("wday",
        explode(sequence(col("day"), col("day") + expr("interval 6 days"),
          expr("interval 1 day"))))
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
      .groupBy(col("wday").as("day"))
      .agg(countDistinct("user_id").as("wau7"))
    days.join(dau, "day").join(wau, "day")
      .select("day", "dau", "wau7")
      .orderBy("day")
  }

  /** User-journey mining: the 15 most common 3-step event-type paths
    * under the total per-user order (ts, event_id) — the free-form
    * sibling of the fixed-sequence funnel (q81). */
  private def qEventPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
      .limit(15)
  }

  /** Anti-entropy repair plan: bucket-fingerprint comparison finds the
    * damaged key-space buckets, the detailed diff runs only inside
    * them. The oracle computes the FULL diff directly — asserting the
    * stronger claim that bucket pruning lost nothing. */
  private def qAntiEntropy(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.supplier(s, dir).select("s_suppkey", "s_acctbal")
    val b = a.filter(col("s_suppkey") % 13 =!= 0)
      .withColumn("s_acctbal",
        when(col("s_suppkey") % 7 === 0, col("s_acctbal") + 10)
          .otherwise(col("s_acctbal")))
      .unionByName(a.filter(col("s_suppkey") % 11 === 0)
        .withColumn("s_suppkey", col("s_suppkey") + 100000))
    AntiEntropy.repairPlan(a, b, "s_suppkey", "s_acctbal", nBuckets = 16)
      .orderBy("s_suppkey", "change_type")
  }

  /** Sliding-window aggregation in batch: 1 h windows sliding every
    * 15 min (each event lands in exactly 4 windows — the generator
    * fan-out the streaming `window()` uses, here oracle-checked). */
  private def qSlidingWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec4(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** JSONL round-trip (the LLM-corpus interchange format): write
    * documents as line-delimited JSON, read them back with an explicit
    * schema, recompute a checksum field — oracle sees the original
    * table, so the round trip must be lossless. */
  private def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_rt").toString
    docs.write.mode("overwrite").json(tmp)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING")
      .json(tmp)
      .withColumn("text_len", length(col("text")))
      .orderBy("doc_id")
  }

  /** First 5 BPE merges learned from the corpus (Sennrich-style, over
    * the distinct-word frequency table). No SQL oracle — the iterative
    * rewrite has no relational twin; the merge table is pinned by a
    * hand-computed fixture in Round5Spec. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    BpeMerges.learn(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .orderBy("rank")

  /** Streaming sliding windows — MUST reproduce batch q127 exactly
    * (the oracle is the same SQL), proving the unified batch/stream
    * contract holds for overlapping windows too. */
  private def qStreamSliding(s: SparkSession, dir: String): DataFrame =
    EventsStream.slidingTypeCounts(s, dir)
      .orderBy("win_start", "event_type")

  /** BPE encode with the learned merges: per-doc token counts after
    * 5 merges (rows-only; the compression-ratio trend is spec-pinned). */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    BpeMerges.encodedTokenCounts(Tables.documents(s, dir), "doc_id", "text",
        k = 5)
      .orderBy("doc_id")

  /** Portable-hash MinHash-LSH — the ORACLE-CHECKED twin of q24: same
    * relational shape (map-side shingle hash, 8 min-aggregations,
    * 2×4 band equi-joins, candidate-only exact-Jaccard verify), but
    * every hash is a polynomial char fold the DuckDB oracle replays
    * bit-for-bit. Closes the "sketch pipelines are rows-only" gap. */
  private def qMinhashOracle(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDuplicatesPortable(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("a", "b")

  /** Portable-hash SimHash — the oracle-checked twin of q25 (same
    * Manku chunk-join shape, integer-portable arithmetic throughout). */
  private def qSimhashOracle(s: SparkSession, dir: String): DataFrame =
    SimHash.nearPairsPortable(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3)
      .orderBy("a", "b")

  /** RFM customer segmentation: recency/frequency/monetary quartiles
    * under total orders (metric, custkey) so tie placement is exact.
    * Quartiles come from [[Curation.scalableNtile]] — bit-identical to
    * the window `ntile(4)` the oracle uses, but computed via range
    * partition + closed-form bucket math instead of the
    * single-partition global window. */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    val rfm = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(max("o_orderdate").as("recency"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice"))).as("monetary"))
    val bucketed = Seq(
      ("recency", "r"), ("frequency", "f"), ("monetary", "m"))
      .foldLeft(rfm) { case (d, (metric, out)) =>
        Curation.scalableNtile(d, Seq(metric, "o_custkey"), 4, out)
      }
    bucketed
      .select(col("o_custkey"), col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("rfm_code"))
      .orderBy("o_custkey")
  }

  /** Last-touch attribution: each purchase attributed to the user's
    * most recent view/click/signup within 7 days (as-of join; ties at
    * one instant pre-deduped to the lexicographic max so the carry is
    * deterministic), then revenue per touch type. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val touches = ev
      .filter(col("event_type").isin("view", "click", "signup"))
      .groupBy("user_id", "ts")
      .agg(max(col("event_type")).as("touch_type"))
      .withColumn("touch_ts", col("ts"))
    AsOfJoin.asOf(purchases, touches, "user_id", "ts",
        Seq("touch_type", "touch_ts"))
      .withColumn("touch_attr",
        when(col("asof_touch_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("asof_touch_ts"))
            <= 7L * 86400L * 1000000L,
          col("asof_touch_type")).otherwise(lit("none")))
      .groupBy(col("touch_attr").as("touch_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec4(col("value"))).cast("double").as("total_value"))
      .orderBy("touch_type")
  }

  /** Per-segment exact order-price percentiles (the q41-proven
    * percentile ⇄ quantile_cont bit-equivalence, grouped). */
  private def qSegmentPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** Association rules over co-purchased part pairs: support /
    * confidence / lift as correctly-rounded divisions of exact
    * integer counts; top-20 by lift with total-order tie-breaks. */
  private def qAssociationRules(s: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = lp.select("ok").distinct().count()
    val itemCounts = lp.groupBy("pk").agg(count(lit(1)).as("n_item"))
    val pairCounts = lp.toDF("ok", "a").join(lp.toDF("ok", "b"), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    pairCounts
      .join(itemCounts.toDF("a", "n_a"), Seq("a"))
      .join(itemCounts.toDF("b", "n_b"), Seq("b"))
      .withColumn("support", col("n_ab") / lit(nOrders))
      .withColumn("confidence", col("n_ab") / col("n_a"))
      .withColumn("lift",
        (col("n_ab") * lit(nOrders)) / (col("n_a") * col("n_b")))
      .select("a", "b", "n_ab", "n_a", "n_b", "support", "confidence", "lift")
      .orderBy(col("lift").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Right-to-erasure cascade audit: for a deletion cohort (every
    * 37th customer), the rows each table loses — including the
    * lineitem cascade THROUGH orders (semi-join on the deleted
    * orders' keys, the FK walk a compliance pipeline must do). */
  private def qCascadeDelete(s: SparkSession, dir: String): DataFrame = {
    val del = col("o_custkey") % 37 === 0
    val customers = Tables.customer(s, dir)
    val orders = Tables.orders(s, dir)
    val deletedOrders = orders.filter(del).select("o_orderkey")
    val li = Tables.lineitem(s, dir)
    def row(name: String, before: DataFrame, removed: DataFrame) =
      before.agg(count(lit(1)).as("n_before"))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
        .withColumn("table_name", lit(name))
    row("customer", customers, customers.filter(col("c_custkey") % 37 === 0))
      .unionByName(row("orders", orders, orders.filter(del)))
      .unionByName(row("lineitem", li,
        li.join(deletedOrders, col("l_orderkey") === col("o_orderkey"),
          "left_semi")))
      .unionByName(row("events", Tables.events(s, dir),
        Tables.events(s, dir).filter(col("user_id") % 37 === 0)))
      .withColumn("n_after", col("n_before") - col("n_removed"))
      .select("table_name", "n_before", "n_removed", "n_after")
      .orderBy("table_name")
  }

  /** DSv2 sink round-trip (the write-side S2 production form): rows
    * go out through the two-phase-commit connector and come back in;
    * the oracle reads the ORIGINAL table, so the sink must be
    * lossless and atomic. */
  private def qDsv2Sink(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink_rt").toString
    Tables.supplier(s, dir)
      .select(col("s_suppkey").as("k"), col("s_name").as("v"))
      .write.format("graft.sources.v2.RecordApiSink")
      .option("path", tmp).mode("append").save()
    s.read.schema("k LONG, v STRING")
      .option("pathGlobFilter", "*.jsonl").json(tmp)
      .orderBy("k")
  }

  /** Ship-latency distribution per order priority: integer day deltas,
    * exact percentiles (the q41 convention). */
  private def qShipLatency(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        percentile(col("lat_days"), lit(0.5)).as("p50"),
        percentile(col("lat_days"), lit(0.9)).as("p90"),
        max(col("lat_days")).as("max_days"))
      .orderBy("o_orderpriority")

  /** LTV cohort triangle: first-order-month cohorts × months-since,
    * distinct actives and decimal-exact revenue per cell. */
  private def qLtvCohorts(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("month", date_trunc("month", col("o_orderdate")))
    val cohorts = o.groupBy("o_custkey")
      .agg(min(col("month")).as("cohort_month"))
    o.join(cohorts, "o_custkey")
      .withColumn("m_since",
        months_between(col("month"), col("cohort_month")).cast("int"))
      .groupBy("cohort_month", "m_since")
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("cohort_month", "m_since")
  }

  /** Daily bounce rate: share of 30-min-gap sessions with exactly one
    * event — one correctly-rounded division of exact counts. */
  private def qBounceRate(s: SparkSession, dir: String): DataFrame =
    Sessions.sessionWindows(Tables.events(s, dir), 1800L)
      .withColumn("day", date_trunc("day", col("session_start")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_rate", col("n_bounce") / col("n_sessions"))
      .orderBy("day")

  /** Trade-graph degree profile: per nation out/in degree, trade
    * volume, and whether each partner edge is reciprocated. */
  private def qDegreeProfile(s: SparkSession, dir: String): DataFrame = {
    val e = tradeEdges(s, dir)
    val outd = e.groupBy(col("src").as("nationkey"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_vol"))
    val ind = e.groupBy(col("dst").as("nationkey"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_vol"))
    val recip = e.select("src", "dst")
      .join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("nationkey"))
      .agg(count(lit(1)).as("n_reciprocal"))
    outd.join(ind, Seq("nationkey"), "full_outer")
      .join(recip, Seq("nationkey"), "full_outer")
      .na.fill(0L)
      .orderBy("nationkey")
  }

  /** ABC (Pareto) analysis: parts ranked by revenue, classed by
    * cumulative share (A < 50%, B < 80%, C rest). The running share
    * is a division of decimal-exact cumulative and total revenue. */
  private def qAbcAnalysis(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("revenue"))
    val w = Window.orderBy(col("revenue").desc, col("p_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // single-partition window over the PART dimension (bounded, the
    // dimension not the fact table); at a larger dimension use the
    // scalableNtile/globalRowIds machinery instead
    rev
      .withColumn("cum", sum(col("revenue")).over(w))
      .crossJoin(broadcast(rev.agg(sum(col("revenue")).as("total"))))
      .withColumn("cum_share",
        col("cum").cast("double") / col("total").cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= 0.5, "A")
          .when(col("cum_share") <= 0.8, "B").otherwise("C"))
      .select(col("p_partkey"), col("revenue").cast("double").as("revenue"),
        col("cum_share"), col("abc_class"))
      .orderBy("p_partkey")
  }

  /** Supplier-market concentration per nation: Herfindahl index from
    * decimal-exact revenue sums (Σ share² as a ratio of exact decimal
    * aggregates — one correctly-rounded division per term). */
  private def qConcentrationHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey", "s_suppkey")
      .agg(sum(dec2(col("l_extendedprice"))).as("rev"))
    // exact integer DOLLARS (floored): Σc² and (Σc)² are bigint-exact
    // (a double Σ(x²) would be partial-sum-order dependent); floor()
    // explicitly — decimal→bigint CAST truncates in Spark but rounds
    // in DuckDB. Bound: per-supplier revenue < ~$3e9 keeps c² < 2^63.
    rev.select(col("s_nationkey"),
        floor(col("rev")).cast("long").as("c"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("c")).as("total_c"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("s_nationkey"), col("n_suppliers"),
        col("total_c").cast("double").as("total_rev"),
        (col("sum_sq").cast("double") /
          (col("total_c").cast("double") * col("total_c").cast("double")))
          .as("hhi"))
      .orderBy("s_nationkey")
  }

  /** Order-priority mix by month: the drift report a pipeline watches
    * for distribution shift (share = exact count ratio per cell). */
  private def qPriorityMix(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val tot = m.groupBy("month").agg(sum(col("n")).as("n_month"))
    m.join(tot, "month")
      .withColumn("share", col("n") / col("n_month"))
      .select("month", "o_orderpriority", "n", "n_month", "share")
      .orderBy("month", "o_orderpriority")
  }

  /** Prefix-filtered set-similarity self-join (PPJoin candidate
    * scheme) over the same 3-gram shingle sets as q19: candidates
    * come only from each document's rarest-shingle prefix, never from
    * hot shared shingles — the LOSSLESS alternative to q19's
    * maxShingleFreq cap. Oracle is the EXHAUSTIVE shared-shingle
    * join: equality proves the filter lossless on real data, not just
    * by the theorem. */
  private def qPrefixJaccard(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.prefixJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", n = 3, thresholdNum = 3, thresholdDen = 5)
      .orderBy("a", "b")

  /** Per-user EWMA (α = 1/4) of event values in time order — the
    * decayed-engagement feature a curation pipeline scores users with.
    * Exactness convention: BOTH engines left-fold the same ordered
    * list with first-element init and the identical `acc·0.75 +
    * x·0.25` expression (α and 1−α are binary-exact), so the doubles
    * match bit-for-bit — the portable-sketch convention applied to
    * ordered folds. Scale: per-user state only; the fold is the
    * mapGroups shape with no corpus-wide ordering. */
  private def qEwma(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("xs"))
      .select(col("user_id"), size(col("xs")).as("n_events"),
        aggregate(slice(col("xs"), lit(2), size(col("xs"))),
          element_at(col("xs"), 1).getField("value"),
          (acc, e) => acc * lit(0.75) + e.getField("value") * lit(0.25))
          .as("ewma"))
      .orderBy("user_id")

  /** Modal event type per user with a deterministic lexicographic
    * tie-break — grouped mode via the same window-group-limit shape
    * as q06 (WindowGroupLimit prunes to one row per user pre-shuffle). */
  private def qGroupMode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n_modal"))
      .withColumn("rk", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("n_modal").desc, col("event_type").asc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("modal_type"),
        col("n_modal"))
      .orderBy("user_id")
  }

  /** Per-nation OLS of line price on quantity from EXACT integer
    * moment sums: x in quantity-hundredths, y in cents (both
    * bigint-exact), n/Σx/Σy/Σx²/Σxy aggregate exactly, and only the
    * final slope/intercept divisions happen in double — one
    * correctly-rounded expression, identical in both engines. The
    * unit scaling cancels, so slope reads directly as $/unit;
    * intercept is in cents. Scale: one broadcast dim join + one
    * grouped agg with map-side partials — the moments are mergeable,
    * so this is the distributed-regression shape (no iteration). */
  private def qRegression(s: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey"),
        (dec2(col("l_quantity")) * 100).cast("long").as("x"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("y"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("slope",
        (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
      .withColumn("icept_cents",
        (d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n")))
      .select("s_nationkey", "n", "slope", "icept_cents")
      .orderBy("s_nationkey")
  }

  /** Per-user daily gap-fill with linear interpolation: build each
    * user's own day spine (first..last active day), left-join the
    * observed daily sums, and lerp interior gaps between the
    * bracketing observed days. Exactness: daily sums are
    * decimal-exact before the one cast to double; the lerp
    * `prev + (next − prev)·(k/gap)` is the identical double
    * expression in both engines. Spine endpoints are observed days,
    * so every gap is interior — no extrapolation branch. Scale:
    * spine explode is per-user bounded, both windows shuffle once on
    * user_id; no global sort. */
  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    val wPrev = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(0, Window.unboundedFollowing)
    val vDay = when(col("v").isNotNull, col("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(vDay, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(vDay, ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("day"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")) /
              datediff(col("nd"), col("pd")))).as("v_filled"),
        col("v").isNull.as("is_gap"))
      .orderBy("user_id", "day")
  }

  /** Stupid-backoff bigram LM perplexity gate (CCNet shape): LM
    * trained on the even-doc_id half as the "trusted reference",
    * every document scored against it — odd docs genuinely exercise
    * the unseen-bigram backoff path. */
  private def qPerplexityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    operators.TextAnalysis.stupidBackoff(docs,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        flagBelow = -3.5)
      .orderBy("doc_id")
  }

  /** Population Stability Index of the event-value distribution,
    * first half-month (reference) vs second (current). */
  private def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16").cast("timestamp")
    operators.Stats.psi(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "value", buckets = 10)
      .orderBy("bin")
  }

  /** Per-source unigram KL divergence from the corpus mixture — the
    * feed-drift report for corpus composition monitoring. */
  private def qKlSourceDrift(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.sourceKlDrift(Tables.documents(s, dir),
        "source", "text")
      .orderBy("source")

  /** Within-session Markov transition matrix over event types:
    * (from, to, n, prob) — the behavioral fingerprint a product
    * analytics stack derives from the same sessionization as q14.
    * prob is the exact count ratio per from-state. */
  private def qMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val tr = operators.Sessions.sessionize(Tables.events(s, dir), 1800)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    tr.join(tot, Seq("from_type"))
      .withColumn("prob", col("n") / col("n_from"))
      .select("from_type", "to_type", "n", "n_from", "prob")
      .orderBy("from_type", "to_type")
  }

  /** Kaplan-Meier survival curve for signup → first purchase, right-
    * censored at the last observed day: the time-to-conversion curve
    * with the correct treatment of users who never converted (q81's
    * funnel counts them out; KM keeps them at risk). */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val day = (c: Column) => date_trunc("day", c)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .join(su, Seq("user_id"))
      .filter(col("p_ts") >= col("s_ts"))
      .groupBy("user_id").agg(min(col("p_ts")).as("p_ts"))
    val maxDay = ev.agg(max(day(col("ts"))).as("max_day"))
    val subjects = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(maxDay))
      .select(
        when(col("p_ts").isNotNull,
            datediff(day(col("p_ts")), day(col("s_ts"))))
          .otherwise(datediff(col("max_day"), day(col("s_ts"))))
          .as("dur"),
        col("p_ts").isNotNull.as("converted"))
    operators.Temporal.kaplanMeier(subjects, "dur", "converted")
      .orderBy("t")
  }

  /** Empirical-CDF transform of customer balances (exact cents keys):
    * the probability-integral-transform / quantile-normalization
    * primitive. */
  private def qEcdfTransform(s: SparkSession, dir: String): DataFrame =
    operators.Stats.ecdfTransform(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"),
          (dec2(col("c_acctbal")) * 100).cast("long").as("bal_cents")),
        "bal_cents")
      .select("c_custkey", "c_nationkey", "bal_cents", "ecdf")
      .orderBy("c_custkey")

  /** Revenue-weighted median supplier balance per nation — the robust
    * center when rows carry mass; integer 2·cum ≥ total test, no FP
    * boundary. Suppliers with no lineitems carry zero weight and are
    * excluded by the weight join. */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.lineitem(s, dir).groupBy(col("l_suppkey"))
      .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long").as("wt"))
    val df = Tables.supplier(s, dir)
      .join(w, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_nationkey"),
        (dec2(col("s_acctbal")) * 100).cast("long").as("bal"), col("wt"))
    operators.Stats.weightedMedian(df, "s_nationkey", "bal", "wt")
      .withColumnRenamed("wmedian", "wmedian_bal")
      .orderBy("s_nationkey")
  }

  /** ε-DP noisy customer counts per nation with REPRODUCIBLE noise
    * from the portable polynomial PRF (q132 convention) — the
    * replayable-release form of a DP aggregate, oracle-checkable
    * bit-for-bit. */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    operators.Privacy.noisyCounts(Tables.customer(s, dir), "c_nationkey",
        epsilon = 1.0, seed = 20240813L)
      .orderBy("c_nationkey")

  /** Directional containment near-dup over 3-gram shingle sets at
    * C ≥ 4/5 — catches a short document quoted inside a longer one,
    * which Jaccard misses by construction (|a∩b|/|a∪b| is dragged
    * down by the big doc's size). One-sided prefix filter; oracle is
    * the exhaustive shared-shingle join, proving the filter lossless
    * on real data (the q147 convention, directional). */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.containmentPairs(Tables.documents(s, dir),
        "doc_id", "text", n = 3, thresholdNum = 4, thresholdDen = 5)
      .orderBy("a", "b")

  /** k-anonymity audit of a customer release generalized to
    * (nation, market segment, account-balance kilobucket): per
    * equivalence class, its size and whether it clears k = 5. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    operators.Privacy.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey" -> col("c_nationkey"),
          "c_mktsegment" -> col("c_mktsegment"),
          "acct_kband" -> floor(col("c_acctbal") / 1000).cast("long")),
        k = 5)
      .orderBy("c_nationkey", "c_mktsegment", "acct_kband")

  /** Round-10: distributed minimum spanning forest (Borůvka) over the
    * per-nation sorted-neighborhood balance graph — each customer
    * linked to its 3 successors by (acctbal, custkey) with
    * |balance gap| cents as the weight. The oracle is a THEOREM, not
    * a replay: the graph contains the sorted chain, and on a line
    * metric the MSF weight is exactly max − min per nation (sum of
    * consecutive gaps telescopes), with n − 1 edges — so a match
    * proves the general algorithm (min-edge picks, hooking, pointer
    * jumping) found a true MSF on real data, while the algorithm
    * itself never gets to assume the line structure. */
  /** Shared by q306/q308: the per-nation sorted-neighborhood balance
    * graph — each customer linked to its 3 successors by
    * (acctbal cents, custkey), |gap| as the weight. Per-nation
    * window: partitions are nation-sized (range-partitionable at
    * scale), never global. */
  private def balanceNeighborEdges(s: SparkSession,
                                   dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").as("c_nationkey"),
        // acctbal is a DOUBLE: x*100 lands within 1e-9 of the cent
        // integer, so an explicit round (NOT a truncating cast, which
        // loses a cent whenever fp lands below) matches DuckDB's
        round(col("c_acctbal") * 100).cast("long").as("balc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(col("balc"), col("ck"))
    val withLeads = cust.select(col("c_nationkey"), col("ck"),
      col("balc"),
      lead(col("ck"), 1).over(w).as("ck1"),
      lead(col("balc"), 1).over(w).as("b1"),
      lead(col("ck"), 2).over(w).as("ck2"),
      lead(col("balc"), 2).over(w).as("b2"),
      lead(col("ck"), 3).over(w).as("ck3"),
      lead(col("balc"), 3).over(w).as("b3"))
    (1 to 3).map(k =>
        withLeads.filter(col(s"ck$k").isNotNull)
          .select(col("ck").as("u"), col(s"ck$k").as("v"),
            abs(col(s"b$k") - col("balc")).as("w")))
      .reduce(_ unionByName _)
  }

  private def qBoruvkaMst(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").as("c_nationkey"))
    val picked = operators.Mst.boruvkaMsf(balanceNeighborEdges(s, dir))
    picked
      .join(cust.select(col("ck").as("u"), col("c_nationkey")),
        Seq("u"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("msf_weight"))
      .orderBy("c_nationkey")
  }

  /** Round-10: Luby's maximal independent set over the q306 balance
    * graph — the canonical parallel symmetry-breaking primitive
    * (Luby 1986): per fixed-PRF round, local priority minima join the
    * set and knock out their neighborhoods. Deterministic 24-round
    * unroll; DuckDB replays the PRF arithmetic and rounds verbatim. */
  private def qLubyMis(s: SparkSession, dir: String): DataFrame =
    operators.Mis.lubyMis(
        balanceNeighborEdges(s, dir).select("u", "v"))
      .orderBy("node")

  /** Round-10: per-node local clustering coefficient over the q306
    * balance graph — Watts–Strogatz c(v) as exact floor ppm via the
    * degree-ordered triangle orientation (each triangle surfaces
    * once, O(m^1.5) wedges). */
  private def qClusteringCoef(s: SparkSession, dir: String): DataFrame =
    operators.Triangles.perNode(
        balanceNeighborEdges(s, dir).select("u", "v"))
      .orderBy("node")

  /** Round-10: single-link hierarchical clustering at a fixed cut —
    * the classic SLINK dendrogram level, computed the only way that
    * scales, and (round 13) WITHOUT materializing the MSF at all: by
    * the Gower & Ross 1969 equivalence, single-link clusters at t are
    * exactly the connected components of the threshold graph
    * {edges ≤ t} (the MSF preserves connectivity at every threshold,
    * so the previous route through q306's Borůvka forest computed the
    * same partition the hard way — O(log n) pick/contract rounds
    * where one union-find component pass suffices;
    * [[operators.Mst.singleLinkCut]]). The dendrogram/multi-cut
    * product is what needs the MSF — that remains q306. Cut at $200
    * (20000 cents) over the per-nation balance graph; customers with
    * no kept edge are singleton clusters (left join + coalesce).
    * The oracle is again BY THEOREM: on the per-nation line metric,
    * single-link clusters at t are exactly the maximal runs of
    * consecutive (balance, custkey)-sorted gaps ≤ t — any lost
    * component or incomplete contraction breaks the per-nation
    * cluster counts. */
  private def qSingleLink(s: SparkSession, dir: String): DataFrame = {
    val cutCents = 20000L
    val clusters = operators.Mst
      .singleLinkCut(balanceNeighborEdges(s, dir), cutCents)
      .select(col("doc_id").as("ck"), col("cluster_id"))
    Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("ck"),
        col("c_nationkey"))
      .join(clusters, Seq("ck"), "left")
      .select(col("c_nationkey"),
        coalesce(col("cluster_id"), col("ck")).as("cl"))
      .groupBy("c_nationkey", "cl")
      .agg(count(lit(1)).as("sz"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_clusters"),
        max(col("sz")).as("max_size"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
      .orderBy("c_nationkey")
  }

  /** Round-10: token-level LZ77 factorization per document — the
    * Lempel–Ziv complexity profile (greedy leftmost parse, matches
    * capped at 32 tokens); map-only per-doc HOFs, the corpus-parallel
    * shape. The replay oracle recomputes the LPF table brute-force
    * and walks the parse with a recursive CTE — Σ factor lengths must
    * telescope to n_pos, so any parse drift breaks rows. */
  private def qLzFactors(s: SparkSession, dir: String): DataFrame =
    operators.Lz.lzFactors(Tables.documents(s, dir), "doc_id", "text",
        maxMatch = 32)
      .orderBy("doc_id")

  /** Round-10: a-priori frequent pairs with lift over document token
    * sets — support ≥ 60% of the corpus by integer cross-multiply,
    * pair candidates generated only from broadcast-pruned frequent
    * singletons (downward closure). */
  private def qFrequentPairs(s: SparkSession, dir: String): DataFrame =
    operators.Itemsets.frequentPairs(Tables.documents(s, dir),
        "doc_id", "text", minSupPpm = 600000L)
      .orderBy("tok_a", "tok_b")

  /** Round-10: simplified-Soundex phonetic blocking over part-name
    * words — the record-linkage blocking key (q225's matching family
    * gains the phonetic candidate generator): distinct words encode
    * map-side (pure codegen string ops, no UDF), then one groupBy
    * publishes block sizes and a deterministic sample word. */
  private def qSoundexBlocks(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.part(s, dir)
      .select(explode(filter(split(col("p_name"), " "),
        w => w =!= "")).as("word"))
      .withColumn("soundex",
        graft.functions.Phonetic.soundexSimplified(col("word")))
    words.groupBy("soundex")
      .agg(countDistinct(col("word")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        min(col("word")).as("sample_word"))
      .orderBy("soundex")
  }

  /** Round-10: Mann–Kendall monotone-trend test per event type over
    * the daily count series — the nonparametric significance twin of
    * q288's Theil–Sen slope (same rollup, same pair shape), exact
    * integer S / 18·Var / continuity-corrected z by cross-multiply. */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    operators.Stats.mannKendall(daily, "event_type", "day", "x")
      .select(col("grp").as("event_type"), col("n"), col("s_stat"),
        col("var18"), col("trend"))
      .orderBy("event_type")
  }

  /** Round-10: Hamilton largest-remainder apportionment — 1000 seats
    * across nations by total open-order value in cents: floor quotas
    * first, the leftover seats to the largest remainders (custkey-free
    * deterministic tie-break on nation key). The classic integer
    * allocation primitive (quota sampling, shard budgets, stratified
    * row quotas all reduce to it); bounded groups, one tiny window. */
  private def qApportion(s: SparkSession, dir: String): DataFrame = {
    val seats = 1000L
    val byNation = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .groupBy("c_nationkey")
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long"))
        .as("cents"))
    val tot = byNation.agg(sum(col("cents")).as("t"))
    val quotas = byNation.crossJoin(broadcast(tot))
      .select(col("c_nationkey"), col("cents"),
        expr(s"($seats * cents) div t").as("floor_seats"),
        expr(s"($seats * cents) % t").as("rem"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("c_nationkey").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    // 25 nations: the global window is over a bounded dim table, not
    // corpus data (the q288-style bounded-group contract)
    quotas
      .withColumn("rk", row_number().over(wRem))
      .withColumn("short",
        lit(seats) - sum(col("floor_seats")).over(wAll))
      .select(col("c_nationkey"), col("cents"), col("floor_seats"),
        col("rem"),
        (col("floor_seats") +
          when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("seats"))
      .orderBy("c_nationkey")
  }

  /** Round-10: WHT perceptual hash (integer pHash) + duplicate
    * grouping over the q218 synthetic payload corpus — the spectral
    * complement of dHash's gradient bits; same one-decode-pass
    * window shape as q218. */
  private def qWhtHash(s: SparkSession, dir: String): DataFrame = {
    val payloads = operators.Multimodal.syntheticImagePayloads(
      Tables.documents(s, dir), "doc_id")
    val hashes = operators.Multimodal.imageWhtHash(s, payloads)
      .select(col("doc_id"), col("wht_hi"), col("wht_lo"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("wht_hi", "wht_lo")
    hashes.withColumn("dup_count", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Round-10: KMV/Theta-sketch set operations over per-source token
    * vocabularies — distinct-count estimates that COMPOSE under
    * union/intersection (Beyer et al. 2007), the mergeable-synopsis
    * capability HLL (q49/q233) lacks; published next to the exact
    * counts (the q283 audit convention). Bottom-k build rides the
    * WindowGroupLimit rank pattern → map-side partial limits. */
  private def qThetaSets(s: SparkSession, dir: String): DataFrame =
    operators.KmvSketch.setOpEstimates(
        Tables.documents(s, dir).select(col("source"),
          explode(filter(split(lower(col("text")), " "),
            w => w =!= "")).as("tok")),
        "source", "tok", k = 32)
      .orderBy("sa", "sb")

  /** Round-10: FM-index backward search — occurrence counts of the
    * corpus's top token bigrams/trigram (plus a known-absent literal)
    * via m rank lookups per pattern on the q307 BWT, never a text
    * scan; the oracle recounts naively from token positions, so the
    * equality proves the whole SA → BWT → C/Occ → interval stack. */
  private def qFmCount(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ONE tokenize pass (SuffixArray.tokenized's binding/checkpoint)
    // feeds the gram selection AND the FM kernel
    val toks = operators.SuffixArray.tokenized(docs, "doc_id", "text")
    // pattern selection is k-bounded (4+1 rows) and oracle-replayed:
    // top bigrams/trigram by (count desc, pattern asc) — fused into
    // ONE kind-tagged job (was two full groupBy+TakeOrdered jobs)
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(lit("b").as("kind"),
        explode(expr("transform(sequence(0, size(ws)-2)," +
          " i -> concat_ws(' ', ws[i], ws[i+1]))")).as("pat"))
    val tr = toks.filter(size(col("ws")) >= 3)
      .select(lit("t").as("kind"),
        explode(expr("transform(sequence(0, size(ws)-3)," +
          " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("pat"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("kind").orderBy(col("c").desc, col("pat").asc)
    val sel = bi.unionByName(tr)
      .groupBy("kind", "pat").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        when(col("kind") === "b", 4).otherwise(1))
      .select("kind", "pat").collect()
    val top4 = sel.filter(_.getString(0) == "b").map(_.getString(1)).toSeq
    val tri1 = sel.filter(_.getString(0) == "t").map(_.getString(1)).toSeq
    operators.FmIndex.countPatternsLocalToks(s, toks,
        top4 ++ tri1 ++ Seq("zzabsent zzabsent"))
      .orderBy("pattern")
  }

  /** Round-10: CUPED variance reduction (Deng et al. 2013) — the
    * A/B-analysis staple: customers PRF-split into two arms, the
    * post-1998-07 order spend adjusted by the pre-period covariate;
    * θ, adjusted means, and the ρ² variance-reduction factor all
    * integer-exact (decimal(38,0) cross products, composed floors). */
  private def qCuped(s: SparkSession, dir: String): DataFrame =
    operators.Experiments.cuped(
        Tables.customer(s, dir).select(col("c_custkey").as("unit")),
        Tables.orders(s, dir).select(col("o_custkey").as("unit"),
          col("o_orderdate"), col("o_totalprice")),
        "unit", "o_orderdate", "o_totalprice", "1998-07-01")
      .orderBy("arm")

  /** Round-10: approximate functional-dependency audit — the TANE/g₃
    * profiling primitive over a bounded candidate list: key-based
    * exact FDs report zero, the rest publish violation structure
    * (violating groups, excess RHS values, the g₃ deletion bound). */
  private def qFdAudit(s: SparkSession, dir: String): DataFrame =
    operators.Profiling.fdAudit(Seq(
        ("part.p_partkey->p_brand", Tables.part(s, dir),
          "p_partkey", "p_brand"),
        ("part.p_type->p_brand", Tables.part(s, dir),
          "p_type", "p_brand"),
        ("part.p_size->p_brand", Tables.part(s, dir),
          "p_size", "p_brand"),
        ("supplier.s_nationkey->s_name", Tables.supplier(s, dir),
          "s_nationkey", "s_name"),
        ("customer.c_nationkey->c_mktsegment", Tables.customer(s, dir),
          "c_nationkey", "c_mktsegment"),
        ("orders.o_custkey->o_orderpriority", Tables.orders(s, dir),
          "o_custkey", "o_orderpriority")))
      .orderBy("fd")

  /** Round-10: Holt double exponential smoothing per event type over
    * the daily count series (the q288/q317 rollup) — level + trend +
    * one-step forecast in milli fixed point, the ordered-fold shape. */
  private def qHoltTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    operators.Temporal.holtTrend(daily, "event_type", "day", "x")
      .select(col("grp").as("event_type"),
        col("n_days").cast("long").as("n_days"),
        col("level_milli"), col("trend_milli"), col("forecast_milli"))
      .orderBy("event_type")
  }

  /** Round-10: bounded 4-truss peeling profile over the symmetrized
    * balance graph — per-round edge removals and survivors (the
    * cohesion-decay telemetry; the fixpoint is NOT bounded-round on
    * chain graphs, the profile is). */
  private def qTrussProfile(s: SparkSession, dir: String): DataFrame =
    operators.Truss.peelProfile(
        balanceNeighborEdges(s, dir).select("u", "v"),
        k = 4, rounds = 8)
      .orderBy("round")

  /** Round-10: Spark 4 VARIANT ingestion of the events props JSON —
    * parse_json → variant_get typed extraction (the semi-structured
    * fast path that replaces schema-on-write from_json when the
    * shape is open-ended), aggregated per event type. Complements
    * q51's struct-typed from_json with the binary-variant path. */
  private def qVariantStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), sum(col("k")).as("sum_k"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy("event_type")

  /** Round-10: the TPC-H Q5 shape — local-supplier revenue by nation
    * (customer and supplier in the SAME nation, region-filtered,
    * one-year order window): the classic 6-table mixed broadcast/
    * shuffle join tree. Revenue exact in 10⁻⁴-dollar integers
    * (price cents × (100 − discount cents)). */
  private def qLocalSupplierRevenue(s: SparkSession,
                                    dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
      .join(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA")
        .select(col("r_regionkey").as("n_regionkey")),
        Seq("n_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
        && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("rev")).as("revenue_c4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c4").desc, col("n_name"))
  }

  /** Round-10: the TPC-H Q18 shape — large-volume orders: HAVING on
    * a grouped quantity rollup, semi-joined back to the fact tables,
    * deterministic top-100. Quantities exact in centi units. */
  private def qLargeOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sum(round(col("l_quantity") * 100).cast("long"))
        .as("qty_c"))
      .filter(col("qty_c") > 30000L)
    Tables.orders(s, dir)
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        col("qty_c"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      .orderBy(col("qty_c").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Round-10: sequency-band audio energies — the integer WHT
    * spectral envelope over real decoded PCM (q319's transform, q304's
    * decode path), 8 bands per payload. */
  private def qAudioWhtBands(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.audioWhtBands(s,
        operators.Multimodal.syntheticAudioPayloads(
          Tables.documents(s, dir), "doc_id"))
      .orderBy("doc_id", "band")

  /** Round-10: Sobel edge profile per decoded image — the
    * edge-density quality gate, exact integer L1 Sobel on the luma. */
  private def qSobelProfile(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.imageSobelProfile(s,
        operators.Multimodal.syntheticImagePayloads(
          Tables.documents(s, dir), "doc_id"), thr = 600L)
      .orderBy("doc_id")

  /** Round-10: item-item collaborative filtering over order baskets —
    * cosine²-ppm neighbors, co-occurrence candidates only, per-item
    * deterministic top-3. */
  private def qItemItemCf(s: SparkSession, dir: String): DataFrame =
    operators.Recommend.itemItemTopK(
        Tables.lineitem(s, dir).select(col("l_orderkey").as("bk"),
          col("l_partkey").as("it")),
        "bk", "it", minCo = 2L, k = 3)
      .orderBy("item", "rk")

  /** Round-10: sequential-pattern mining (GSP/PrefixSpan family,
    * length ≤ 3, gaps allowed) over each user's high-value event
    * sequence — the funnel-discovery primitive; the value ≥ 150
    * filter sparsifies sequences so supports separate. */
  private def qSeqPatterns(s: SparkSession, dir: String): DataFrame =
    operators.SequentialPatterns.mine(
        Tables.events(s, dir).filter(col("value") >= 150.0),
        "user_id", "event_type", "ts", "event_id",
        minSupPpm = 100000L)
      .orderBy("len", "pattern")

  /** Round-10: the TPC-H Q2 shape — cheapest supplier per part: the
    * decorrelated argmin (per-part min over the offer stats, tie
    * broken on supplier key, one join back to names). Offer price =
    * each supplier's min observed unit price for the part in cents
    * ((extendedprice cents) div quantity centi·100 — exact floor). */
  private def qCheapestSupplier(s: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        expr("""(10000 * CAST(round(l_extendedprice * 100) AS BIGINT))
                div (100 * CAST(round(l_quantity * 100) AS BIGINT))""")
          .as("unit_c"))
      .groupBy("pk", "sk").agg(min(col("unit_c")).as("best_c"))
    val arg = offers
      .groupBy("pk")
      .agg(min(struct(col("best_c"), col("sk"))).as("m"))
      .select(col("pk"), col("m.best_c").as("unit_cents"),
        col("m.sk").as("sk"))
    arg.join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey").as("sk"), col("s_name"))), Seq("sk"))
      .select(col("pk").as("p_partkey"), col("unit_cents"),
        col("sk").as("s_suppkey"), col("s_name"))
      .orderBy("p_partkey")
  }

  /** Round-10: the TPC-H Q13 shape — the distribution of orders per
    * customer INCLUDING zero-order customers (left join before the
    * double aggregation; dropping the zeros is the classic bug). */
  private def qCustOrderHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
        Seq("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("c_count").desc)

  /** Round-10: ROUGE-L (LCS F1, 40-token cap) over adjacent doc-id
    * pairs — the order-sensitive eval twin of BLEU (q260); the oracle
    * replays the DP as 40 unrolled prefix-max rounds. */
  private def qRougeL(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("a"))
      .filter(col("a") % 2 === 0 && col("a") < 100)
      .select(col("a"), (col("a") + 1).as("b"))
    operators.Rouge.rougeLPairs(s, Tables.documents(s, dir),
        "doc_id", "text", pairs, cap = 40)
      .orderBy("a")
  }

  /** Round-10: partition-key skew telemetry — cardinality, heaviest
    * key share, and the exact-ppm Gini of the key histogram for the
    * join/bucket-key candidates a planner would vet. */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame =
    operators.SkewProfile.keySkew(Seq(
        ("documents.source", Tables.documents(s, dir), "source"),
        ("events.event_type", Tables.events(s, dir), "event_type"),
        ("events.user_id", Tables.events(s, dir), "user_id"),
        ("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"),
        ("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey"),
        ("orders.o_custkey", Tables.orders(s, dir), "o_custkey")))
      .orderBy("key")

  /** Round-10: two-proportion z-test on the PRF arm split —
    * conversion = customer placed ≥ 1 URGENT order; the exact
    * cross-multiplied pooled z² decision at α = 0.05. */
  private def qTwoProportion(s: SparkSession, dir: String): DataFrame = {
    val conv = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("unit")).distinct()
      .withColumn("cv", lit(1L))
    val units = Tables.customer(s, dir)
      .select(col("c_custkey").as("unit"))
      .join(conv, Seq("unit"), "left")
      .select(col("unit"), coalesce(col("cv"), lit(0L)).as("conv"))
    operators.Experiments.twoProportion(units, "unit", "conv")
  }

  /** Round-10: stationary distribution of the event-type Markov
    * chain — 12 integer-ppm power-iteration rounds over the lag-pair
    * transition matrix (the q155 transitions closed into their
    * long-run limit). */
  private def qMarkovStationary(s: SparkSession, dir: String): DataFrame =
    operators.Markov.stationaryPpm(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id")
      .orderBy("state")

  /** Round-11: per-document disposition of the two-stage quality
    * cascade (cheap rule gate → ppm-exact scorer on survivors only;
    * score_ppm NULL for gated docs pins that the expensive stage never
    * ran for them). */
  private def qCascadeFilter(s: SparkSession, dir: String): DataFrame =
    operators.Cascade.cascadeFilter(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Round-11: the cascade's one-row economics vs the no-gate
    * baseline — kept-set recall and the c_cheap·n + c_exp·survivors
    * cost model that decides whether the gate pays for itself. */
  private def qCascadeEconomics(s: SparkSession, dir: String): DataFrame =
    operators.Cascade.cascadeEconomics(Tables.documents(s, dir),
      "doc_id", "text")

  /** Round-11: Cohen's-kappa agreement between the cascade's cheap
    * gate and the full scorer — the calibration audit that decides
    * whether the gate is a faithful proxy (exact ppm; quantized
    * marginals, so no n² term at any corpus size). */
  private def qCascadeKappa(s: SparkSession, dir: String): DataFrame =
    operators.Cascade.gateScorerKappa(Tables.documents(s, dir),
      "doc_id", "text")

  /** Round-11: reciprocal-rank fusion of the THREE ANN retrieval
    * rankings (exact brute q22 ⊕ hyperplane-LSH q175 ⊕ IVF q176) —
    * the standard hybrid-retrieval ensemble, per QUERY vector:
    * contribution 1e6 // (60 + rank) summed over the methods that
    * surfaced the neighbor, top-5 fused per query with neighbor-id
    * tie-breaks. n_methods carries the agreement count (a neighbor
    * found by all three is the strongest evidence). The oracle
    * replays all three retrievals as subqueries and fuses in SQL. */
  private def qAnnRrf(s: SparkSession, dir: String): DataFrame = {
    val parts = Seq(qAnnBrute(s, dir), qLshOracle(s, dir),
        qIvfOracle(s, dir))
      .map(_.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank")))
    val fused = parts.reduce(_.unionByName(_))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(expr("1000000 div (60 + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_methods"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("rrf_ppm").desc, col("neighbor_id"))
    fused
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= 5)
      .select(col("query_id"), col("fused_rank"), col("neighbor_id"),
        col("rrf_ppm"), col("n_methods"))
      .orderBy("query_id", "fused_rank")
  }

  /** Round-12: deterministic two-run crawl simulation over the
    * documents table — the cross-run incrementality fixture shared by
    * q345/q346/q347. "Yesterday" = today's docs minus the additions
    * (doc_id % 7 == 3 absent), with doc_id % 11 == 0 carrying a stale
    * text (a "legacyprefix " token prepended), plus retired rows
    * (doc_id + 1000000 for doc_id % 13 == 0) that today no longer
    * carries. */
  private def crawlSnapshots(s: SparkSession,
                             dir: String): (DataFrame, DataFrame) = {
    val today = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val stale = when(col("doc_id") % 11 === 0,
      concat(lit("legacyprefix "), col("text"))).otherwise(col("text"))
    val yesterday = today.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), stale.as("text"))
      .unionByName(today.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    (yesterday, today)
  }

  /** Portable content fingerprint: the house char-fold polynomial over
    * lower(text) — DuckDB replays it exactly (list_reduce; the q132
    * convention), and 8 bytes/doc is what a cross-run store SHIPS
    * instead of text. */
  private def contentFp(text: Column): Column =
    org.apache.spark.sql.graft.CharFoldHash.column(lower(text))

  /** Round-12: snapshot diff at the FINGERPRINT level — yesterday's
    * crawl vs today's, each reduced to (doc_id, fp) before the one
    * full-outer join, so the reconciliation shuffle carries 8 bytes
    * per doc instead of documents (the 100 TB point: the store is
    * ~10⁻⁴ of the corpus). Output: per-key added/removed/changed with
    * both fingerprints. */
  private def qSnapshotFpDiff(s: SparkSession, dir: String): DataFrame = {
    val (y, t) = crawlSnapshots(s, dir)
    operators.Cdc.snapshotDiff(
        y.select(col("doc_id"), contentFp(col("text")).as("fp")),
        t.select(col("doc_id"), contentFp(col("text")).as("fp")),
        "doc_id", Seq("fp"))
      .select(col("doc_id"), col("change_type"),
        col("a_fp").as("fp_old"), col("b_fp").as("fp_new"))
      .orderBy("doc_id")
  }

  /** Round-12: delta-only near-dup — ONLY the docs the snapshot diff
    * surfaced (added/changed) are screened, against the UNCHANGED
    * remainder as the reference corpus (q77's banded machinery): the
    * steady-state incremental shape where the daily delta is ~1% and
    * re-deduping the whole corpus would be a 100× overspend. */
  private def qDeltaDedup(s: SparkSession, dir: String): DataFrame = {
    val (y, t) = crawlSnapshots(s, dir)
    val delta = operators.Cdc.snapshotDiff(
        y.select(col("doc_id"), contentFp(col("text")).as("fp")),
        t.select(col("doc_id"), contentFp(col("text")).as("fp")),
        "doc_id", Seq("fp"))
      .filter(col("change_type") =!= "removed")
      .select("doc_id")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    operators.Dedup.incrementalFlags(
        corpus = docs.join(delta, Seq("doc_id"), "left_anti"),
        batch = docs.join(delta, Seq("doc_id"), "left_semi"),
        idCol = "doc_id", textCol = "text", n = 3,
        threshold = 0.6, maxShingleFreq = 50)
      .orderBy("doc_id")
  }

  /** Round-12: fingerprint-store refresh — the diff folded back into
    * yesterday's store as CDC ops (added/changed upsert with run 2,
    * removed delete) via the house MERGE ([[operators.Cdc.apply]]):
    * the store — the 100 TB side — never shuffles; only the touched
    * keys broadcast. Output: the refreshed (doc_id, fp,
    * last_seen_run) store. */
  private def qFpStoreMerge(s: SparkSession, dir: String): DataFrame = {
    val (y, t) = crawlSnapshots(s, dir)
    val ya = y.select(col("doc_id"), contentFp(col("text")).as("fp"))
    val ta = t.select(col("doc_id"), contentFp(col("text")).as("fp"))
    val store = ya.withColumn("last_seen_run", lit(1L))
    val changes = operators.Cdc.snapshotDiff(ya, ta, "doc_id", Seq("fp"))
      .select(col("doc_id"), lit(1L).as("seq"),
        when(col("change_type") === "removed", "D").otherwise("U").as("op"),
        col("b_fp").as("fp"), lit(2L).as("last_seen_run"))
    operators.Cdc.apply(store, changes, "doc_id", "seq", "op")
      .orderBy("doc_id")
  }

  /** Round-12: scalar-int8 quantization recall audit — SQ8 codes
    * (per-dim corpus [lo,hi] codebook, integer-exact) searched
    * asymmetrically vs the exact integer-dot ranking; recall@5 per
    * query, the gate a serving team rolls SQ8 out on. */
  private def qSq8Recall(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.sq8Recall(Tables.embeddings(s, dir),
        k = 5, queryMod = 20)
      .orderBy("query_id")

  /** Round-13 SemDeDup prefix shared by q349/q350: quantized
    * embeddings k-means-clustered by the portable Lloyd kernels
    * (k = 8, 2 iterations — the q176 coarse-quantizer convention at
    * twice the granularity, so the intra-cluster quadratic term
    * shrinks). LEARNED clusters, unlike q92's curated label column —
    * the missing embedding-space-dedup corner: at 100 TB nobody hands
    * you labels; the quantizer IS the blocking scheme. */
  private def semAssigned(s: SparkSession, dir: String): DataFrame = {
    // NOT checkpointed (round-16 A/B): this lineage is a bare
    // parquet scan + quantize map — recomputing it per Lloyd pass is
    // cheaper than writing and re-reading blocks (unlike the chain's
    // yVecs, whose lineage carries a join)
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        Similarity.quantize16(col("embedding")).as("q"))
    // round-17: checkpoint the k-row centroid frame (one evaluation of
    // the lazy Lloyd loop) and assign with the inlined map-only argmin
    // — the window form paid a crossJoin + window shuffle+sort over
    // the vector corpus inside the assignment checkpoint below
    val cents = IvfIndex.trainPortable(s, vecs, k = 8, iters = 2)
      .localCheckpoint()
    // the self-join in semanticDupEdges (and q350's component pass)
    // reads the assignment more than once — pin the Lloyd chain to one
    // evaluation (cluster-assignment-sized, the globalRowIds convention)
    IvfIndex.assignPortableInlined(vecs, cents).localCheckpoint()
  }

  /** Round-13: SemDeDup (Abbas et al. 2023) over LEARNED k-means
    * clusters — first-arrival keep flags from the exact-integer
    * cosine edge set ([[operators.Similarity.semanticDupEdges]],
    * τ = 3/10): a vector with any smaller-id cluster-mate at or above
    * τ loses its keep flag. No float cosine anywhere — the oracle
    * replays Lloyd, the norms, and the decimal128 threshold test
    * verbatim. */
  /** First-arrival keep flags over an (id, q, cluster_id) assignment —
    * the q349 body, shared by the SQ8-coded variant (q355). */
  private def semKeepFlags(assigned: DataFrame): DataFrame = {
    val earlier = Similarity.semanticDupEdges(assigned, 3, 10)
      .groupBy(col("b").as("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    assigned.select(col("id").as("vec_id"), col("cluster_id"))
      .join(earlier, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        (coalesce(col("n_earlier_dups"), lit(0L)) === 0L).as("keep"))
  }

  private def qSemDedupKmeans(s: SparkSession, dir: String): DataFrame =
    semKeepFlags(semAssigned(s, dir)).orderBy("vec_id")

  /** Round-13: SemDeDup over SQ8 CODES — the storage-efficient path a
    * 100 TB run actually stores (8-bit codes, 4× smaller than the
    * fixed-point vectors): the SAME pipeline as q349 but clustering
    * AND the dup test run on the SQ8 reconstructions
    * ([[operators.Similarity.sq8ReconstructExpr]], the q348
    * codebook), joined back against the exact-vector keep flags as an
    * agreement audit — the gate that says whether quantization
    * changes dedup DECISIONS, not just distances. */
  private def qSemDedupSq8(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        Similarity.quantize16(col("embedding")).as("q"))
      .localCheckpoint()
    val rec = fp.select(col("id"),
      Similarity.sq8ReconstructExpr(
        fp.select(col("id").as("vec_id"), col("q"))).as("q"))
    // round-17: same checkpointed-centroids + inlined-argmin switch
    // as semAssigned (the window form's shuffle+sort was the last
    // non-map stage in this assignment)
    val centsR = IvfIndex.trainPortable(s, rec, k = 8, iters = 2)
      .localCheckpoint()
    val assignedR = IvfIndex.assignPortableInlined(rec, centsR)
      .localCheckpoint()
    val sq8 = semKeepFlags(assignedR)
      .select(col("vec_id"), col("cluster_id").as("cluster_sq8"),
        col("keep").as("keep_sq8"))
    val exact = semKeepFlags(semAssigned(s, dir))
      .select(col("vec_id"), col("keep").as("keep_exact"))
    sq8.join(exact, Seq("vec_id"))
      .withColumn("agree", col("keep_sq8") === col("keep_exact"))
      .orderBy("vec_id")
  }

  /** Round-13: SemDeDup keep-one-per-GROUP resolution — the same
    * exact-integer edge set folded into connected components
    * ([[operators.DuplicateClusters.resolveContracted]]), electing
    * the min-id member as the group keeper (the q47 convention in
    * embedding space): transitive near-dup chains collapse to ONE
    * survivor, where q349's first-arrival flags keep one per EDGE
    * neighborhood. Rows only for vectors in some dup group. */
  private def qSemDedupGroups(s: SparkSession, dir: String): DataFrame =
    operators.DuplicateClusters.resolveContracted(
        Similarity.semanticDupEdges(semAssigned(s, dir), 3, 10)
          .select(col("a"), col("b")))
      .select(col("doc_id").as("vec_id"),
        col("cluster_id").as("group_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy("vec_id")

  /** Round-13: SemDeDup τ-sensitivity sweep — edge count, flagged
    * count, and survivor count at τ ∈ {0.2, 0.3, 0.4, 0.5}, all from
    * ONE checkpointed scored-pair pass
    * ([[operators.Similarity.semanticScoredPairs]]; each τ is a
    * map-side filtered aggregate). The telemetry that picks the
    * threshold before a corpus-scale run — exact integers, so the
    * curve is oracle-replayable, and monotone by construction
    * (spec-pinned). */
  private def qSemDedupTauSweep(s: SparkSession, dir: String): DataFrame =
    semDedupTauSweepWithCount(s, dir)._1

  /** The τ sweep plus the corpus vector count it already paid for —
    * q367's chooser reads the count from here instead of running its
    * own count job (round-17). */
  private def semDedupTauSweepWithCount(s: SparkSession,
      dir: String): (DataFrame, Long) = {
    val scored = Similarity.semanticScoredPairs(semAssigned(s, dir))
      .localCheckpoint()
    val taus = Seq((1, 5), (3, 10), (2, 5), (1, 2))
    // round-17 (guide §1.2/§2.4): the four τ thresholds become
    // conditional aggregates in ONE pass over the checkpointed pair
    // frame — the old shape unioned four separate aggregation subtrees
    // (four scans, four exchanges); the vector count rides the same
    // driver action as a cross-joined 1-row aggregate. Values are
    // unchanged: count(when(cond, 1)) counts matching pairs,
    // count_distinct(when(cond, b)) counts distinct flagged b among
    // them (nulls are ignored by both).
    val aggs = taus.zipWithIndex.flatMap { case ((n, d), i) =>
      Seq(count(when(Similarity.cosineAtLeast(n, d), 1))
          .as(s"e$i"),
        count_distinct(when(Similarity.cosineAtLeast(n, d), col("b")))
          .as(s"f$i"))
    }
    val row = scored.agg(aggs.head, aggs.tail: _*)
      .crossJoin(Tables.embeddings(s, dir).agg(count(lit(1)).as("nv")))
      .head
    val nVecs = row.getLong(2 * taus.length)
    import s.implicits._
    (taus.zipWithIndex.map { case ((n, d), i) =>
      (n.toLong, d.toLong, row.getLong(2 * i), row.getLong(2 * i + 1),
        nVecs - row.getLong(2 * i + 1))
    }.toDF("tau_num", "tau_den", "n_dup_edges", "n_flagged", "n_kept")
      .orderBy(expr("tau_num * 1000000L div tau_den")), nVecs)
  }

  /** Round-13 incremental-index prefix shared by q351/q352: the
    * cross-run shape for the SERVING ANN index. Training is the
    * expensive, rarely-run step — yesterday's centroids are FROZEN;
    * today's delta (vec_id % 7 == 3, the crawl-fixture convention)
    * only ASSIGNS against them: one broadcast map pass, no retrain,
    * no shuffle of the existing lists. At 100 TB this is the daily
    * index refresh; q352's drift audit is the trigger that decides
    * when re-clustering is actually due. */
  private def ivfRuns(s: SparkSession,
                      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        Similarity.quantize16(col("embedding")).as("q"))
    val yesterday = all.filter(col("id") % 7 =!= 3)
    val delta = all.filter(col("id") % 7 === 3)
    val cents = IvfIndex.trainPortable(s, yesterday, k = 8, iters = 2)
      .localCheckpoint() // frozen; read by both assignment passes
    (yesterday, delta, cents)
  }

  /** Round-13: frozen-centroid delta assignment — per cluster, the
    * existing list size, the delta arrivals, integer growth ppm, and
    * the first delta id (empty clusters keep a row via the centroid
    * base table; greatest(n,1) guards the ratio). */
  private def qIvfDeltaAssign(s: SparkSession, dir: String): DataFrame = {
    val (y, d, cents) = ivfRuns(s, dir)
    val ny = IvfIndex.assignPortableInlined(y, cents)
      .groupBy("cluster_id").agg(count(lit(1)).as("n_yesterday"))
    val nd = IvfIndex.assignPortableInlined(d, cents)
      .groupBy("cluster_id").agg(count(lit(1)).as("n_delta"),
        min(col("id")).as("first_delta_id"))
    cents.select(col("cluster_id"))
      .join(ny, Seq("cluster_id"), "left")
      .join(nd, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_yesterday"), lit(0L)).as("n_yesterday"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        expr("coalesce(n_delta, 0L) * 1000000L div " +
          "greatest(coalesce(n_yesterday, 0L), 1L)").as("growth_ppm"),
        col("first_delta_id"))
      .orderBy("cluster_id")
  }

  /** Round-13: centroid drift audit over the frozen index — per
    * cluster, exact integer mean squared distance of yesterday's
    * members vs the delta's against the SAME frozen centroid; the
    * retrain flag fires when the delta mean exceeds yesterday's by
    * > 25%, tested as the cross-multiplied integer inequality
    * 4·Σd2_delta·n_y > 5·Σd2_y·n_delta in DECIMAL(38,0)/HUGEINT (the
    * q349 convention — sums reach 2^54, the products 2^68). A cluster
    * with no delta (or no yesterday members) has no drift evidence
    * and keeps retrain = false. */
  private def qCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val (y, d, cents) = ivfRuns(s, dir)
    driftByCluster(y, d, cents, "yesterday", "delta").orderBy("cluster_id")
  }

  /** The drift audit of vectors `d` against the members `y` under the
    * same frozen centroids: per cluster, the member counts and exact
    * integer mean d2 of each side (`n_<yName>`, `mean_d2_<yName>`, …),
    * and `retrain` when the `d` mean exceeds the `y` mean by > 25%,
    * tested as 4·Σd2_d·n_y > 5·Σd2_y·n_d in decimal(19,0) (sums reach
    * 2^54, the products 2^68). A cluster with no `d` or no `y` vectors
    * has no drift evidence and keeps retrain = false. */
  private def driftByCluster(y: DataFrame, d: DataFrame, cents: DataFrame,
      yName: String, dName: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(19,0)")
    val ya = IvfIndex.assignPortableInlinedWithDist(y, cents)
      .groupBy("cluster_id")
      .agg(sum(col("d2")).as("sum_y"), count(lit(1)).as("n_y"))
    val da = IvfIndex.assignPortableInlinedWithDist(d, cents)
      .groupBy("cluster_id")
      .agg(sum(col("d2")).as("sum_d"), count(lit(1)).as("n_d"))
    cents.select(col("cluster_id"))
      .join(ya, Seq("cluster_id"), "left")
      .join(da, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_y"), lit(0L)).as(s"n_$yName"),
        coalesce(col("n_d"), lit(0L)).as(s"n_$dName"),
        expr("coalesce(sum_y, 0L) div greatest(coalesce(n_y, 0L), 1L)")
          .as(s"mean_d2_$yName"),
        expr("coalesce(sum_d, 0L) div greatest(coalesce(n_d, 0L), 1L)")
          .as(s"mean_d2_$dName"),
        (dec(coalesce(col("sum_d"), lit(0L))) *
            dec(coalesce(col("n_y"), lit(0L))) * lit(4) >
          dec(coalesce(col("sum_y"), lit(0L))) *
            dec(coalesce(col("n_d"), lit(0L))) * lit(5)).as("retrain"))
  }

  /** Round-13: training-batch sequence packing — per-source greedy
    * sequential first-fit into 2000-char sequences
    * ([[operators.Curation.packSequences]]); the per-doc assignment
    * (sequence id + offset) is what a pretokenized-shard writer
    * consumes. */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    operators.Curation.packSequences(Tables.documents(s, dir),
        "doc_id", "n_chars", "source", capacity = 2000L)
      .orderBy("source", "doc_id")

  /** Round-13: packing efficiency rollup — per source: sequences
    * opened, docs and chars packed, exact integer fill ppm against
    * the opened capacity, and the waste of FULL (non-final)
    * sequences only (the final partial sequence is inherent, not
    * packing loss). */
  private def qPackingStats(s: SparkSession, dir: String): DataFrame = {
    val cap = 2000L
    val packed = operators.Curation.packSequences(
      Tables.documents(s, dir), "doc_id", "n_chars", "source", cap)
    val perSeq = packed.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("fill"))
    val lastSeq = perSeq.groupBy("source")
      .agg(max(col("seq_id")).as("last_seq"))
    perSeq.join(lastSeq, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("fill")).as("total_chars"),
        sum(when(col("seq_id") =!= col("last_seq"),
          lit(cap) - col("fill")).otherwise(0L)).as("full_seq_waste"))
      .withColumn("fill_ppm",
        expr(s"total_chars * 1000000L div (n_seqs * ${cap}L)"))
      .select("source", "n_seqs", "n_docs", "total_chars",
        "full_seq_waste", "fill_ppm")
      .orderBy("source")
  }

  /** Round-14 FLAGSHIP: the training-data pipeline as ONE DAG — every
    * stage the engine ships separately, composed in production order
    * with a per-stage audit row: curate (q173 gate) → exact dedup
    * (q15) → MinHash near-dedup (q132) → SemDeDup (q349, Lloyd re-run
    * on the SURVIVOR subset — the honest pipeline semantics) →
    * benchmark decontamination (q213, full-corpus benchmark set) →
    * unigram tokenize (q305 vocab+greedy DP on survivors; words over
    * the 12-char DP bound charge the ⌈len/4⌉ lower bound) → sequence
    * pack (q353, capacity 256 tokens). Output: one row per stage —
    * docs in/out, removed, surviving char mass (ppm of raw), and the
    * tokenize/pack stages' token and sequence totals (−1 where not
    * applicable). Every number is an exact integer; the oracle
    * replays the full chain as staged CTEs.
    *
    * Scale shape: each stage is the registered operator's own plan
    * (those plans are audited individually in PLANS.md); the splice
    * between stages is an id semi/anti-join, and intermediate
    * survivor sets are eagerly checkpointed once and reused by the
    * stage audits (s4 excepted: its anti-join over checkpointed
    * inputs is re-read only by the audit). */
  /** The q362/q368 stage chain: raw docs, [[pipelineChain]]'s five
    * survivor sets, and the tokenized/packed tail (checkpointed: the
    * manifest family re-reads `packed`). */
  private[graft] case class PipelineStages(docs: DataFrame,
    chain: PipelineChain, s5tok: DataFrame, packed: DataFrame)

  private def pipelineStages(s: SparkSession,
      dir: String): PipelineStages =
    pipelineStagesFrom(s, Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("source"), col("n_chars").cast("long").as("n_chars"))
        .localCheckpoint(),
      pipelineQuant(s, dir))

  /** Fixture-injectable composite: [[pipelineChain]] over `docs` as
    * both the curated and the benchmark corpus, then the tokenize →
    * pack tail under a vocabulary trained on the survivors. Extra
    * columns of `docs` (q362's `n_chars`) ride through the chain's
    * semi and anti joins. */
  private[graft] def pipelineStagesFrom(s: SparkSession, docs: DataFrame,
      quant: DataFrame): PipelineStages = {
    val chain = pipelineChain(s, docs, docs, quant)
    val s5tok = docTokens(chain.s5, UnigramSegment.collectPieces(
      UnigramSegment.pieceVocab(chain.s5, "text"))).localCheckpoint()
    PipelineStages(docs, chain, s5tok, packTokens(s5tok).localCheckpoint())
  }

  // The curation chain's stage constants, one definition each: the
  // q362 composite, the store build, every delta day and the retrain
  // all read these.
  /** q173 quality gate: minimum space-split token count. */
  private final val GateMinTokens = 40
  /** SemDeDup blocking: Lloyd k-means geometry (q349/q351). */
  private final val LloydK = 8
  private final val LloydIters = 2
  /** SemDeDup verdict: exact integer cosine >= 3/10. */
  private final val SemCosNum = 3
  private final val SemCosDen = 10
  /** q213 benchmark screen: doc_id % 10 == 0 is the benchmark, a
    * shared 8-gram flags a doc. */
  private final val BenchEvery = 10
  private final val BenchNgram = 8
  /** q353 packing at token grain: sequence capacity. */
  private final val PackTokens = 256L

  /** The curation chain's nested survivor sets s5 ⊆ … ⊆ s1, plus what
    * a store freezes from them: `sigs` (s2 signed once —
    * [[operators.MinHashLSH.portableSignatureStore]] rows), the Lloyd
    * `cents`, s3's cluster `assigned` vectors, and the benchmark
    * flags `contamDrop`. */
  private[graft] case class PipelineChain(s1: DataFrame, s2: DataFrame,
      sigs: DataFrame, s3: DataFrame, cents: DataFrame,
      assigned: DataFrame, s4: DataFrame, contamDrop: DataFrame,
      s5: DataFrame) {
    def stages: Seq[DataFrame] = Seq(s1, s2, s3, s4, s5)
  }

  /** The curation chain over `yDocs`: gate → exact dedup (q15) → MinHash
    * near dedup (q132: drop the larger id of every J >= 1/2 pair) →
    * Lloyd + SemDeDup re-trained on the survivors (q349) → benchmark
    * decontamination (q213) with flags computed over the FULL corpus
    * `docs`. Every set except s4 is checkpointed; s4 stays lazy (s5
    * reads it once). The blocklist screen stays OUT of the gate
    * deliberately: the fixture's only blocklistable token is the
    * planted dup marker itself, and screening it would starve the
    * three dedup stages (q173/q174 exercise it standalone). */
  private[graft] def pipelineChain(s: SparkSession, yDocs: DataFrame,
      docs: DataFrame, quant: DataFrame): PipelineChain = {
    // the chain is a sequence of eager checkpoints, so at fixture
    // scale it is job-submission bound: the flags depend only on
    // `docs`, so they materialize on a concurrent driver thread and
    // are awaited at s5 (Spark supports concurrent job submission
    // from one session)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val contamF = Future { contaminatedIds(docs).localCheckpoint() }
    val s1 = pipelineGate(yDocs).localCheckpoint()
    val s2 = s1.join(exactKeepers(s1), Seq("doc_id"), "semi")
      .localCheckpoint()
    // sign once: this frame drives the near-dup band joins and, sliced
    // to the final survivors, IS the frozen q374 signature artifact
    // (the signature is a per-doc function, so the slice is bit-equal
    // to re-signing s5 — the artifact contract)
    val sigs = MinHashLSH.portableSignatureStore(s2, "doc_id", "text")
      .localCheckpoint()
    val s3 = s2.join(MinHashLSH.nearDuplicatesFromSigStore(sigs, s2,
        "doc_id", "text").select(col("b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val (cents, assigned, s4) = semanticStage(s, quant, s3)
    val contamDrop = Await.result(contamF, Duration.Inf)
    val s5 = s4.join(contamDrop, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    PipelineChain(s1, s2, sigs, s3, cents, assigned, s4, contamDrop, s5)
  }

  /** SemDeDup over `survivors`: Lloyd trained on their quantized
    * vectors, each vector assigned to its nearest centroid, and the
    * larger id of every same-cluster pair at cosine >= 3/10 dropped.
    * Returns (centroids, assignments, the lazy kept set). */
  private def semanticStage(s: SparkSession, quant: DataFrame,
      survivors: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // checkpointed: Lloyd's seed scan, each training iteration and the
    // assignment all re-read this join
    val vecs = quant.join(survivors.select(col("doc_id").as("id")),
        Seq("id"))
      .localCheckpoint()
    val cents = IvfIndex.trainPortable(s, vecs, k = LloydK,
        iters = LloydIters)
      .localCheckpoint()
    val assigned = IvfIndex.assignPortableInlined(vecs, cents)
      .localCheckpoint()
    (cents, assigned,
      survivors.join(semanticDupIds(assigned), Seq("doc_id"), "left_anti"))
  }

  /** The larger id of every SemDeDup pair among `assigned` vectors. */
  private def semanticDupIds(assigned: DataFrame): DataFrame =
    Similarity.semanticDupEdges(assigned, SemCosNum, SemCosDen)
      .select(col("b").as("doc_id")).distinct()

  /** q15's keeper ids: the first arrival (min id) per text. */
  private def exactKeepers(df: DataFrame): DataFrame =
    Dedup.exact(df, col("text"), col("doc_id"))
      .select(col("keeper_id").as("doc_id"))

  /** Ids the benchmark screen flags. A doc's flag depends only on its
    * own grams and the benchmark postings, so evaluating the full
    * corpus once IS survivor semantics for every stage and day. */
  private def contaminatedIds(docs: DataFrame): DataFrame =
    Dedup.benchmarkNgramContamination(docs, "doc_id", "text",
        col("doc_id") % BenchEvery === 0, n = BenchNgram)
      .filter(col("flagged")).select("doc_id")

  /** The embeddings table as (id, q) quantized vectors. */
  private def pipelineQuant(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        Similarity.quantize16(col("embedding")).as("q"))

  /** Per-doc token counts of `df` under a collected piece set: q305's
    * greedy segmentation, charged per word occurrence by
    * [[docTokenFrame]]. */
  private def docTokens(df: DataFrame,
      pieces: Broadcast[Set[String]]): DataFrame =
    docTokenFrame(df,
      UnigramSegment.greedySegmentPieces(df, "text", pieces)
        .select(col("word"), col("n_pieces").cast("long").as("np")))

  /** q353's per-source first-fit fold at [[PackTokens]] per sequence. */
  private def packTokens(tok: DataFrame): DataFrame =
    Curation.packSequences(tok, "doc_id", "n_tokens", "source",
      capacity = PackTokens)

  /** q305-convention per-doc token counts under a given (word, np)
    * segment table: every word OCCURRENCE charges its greedy piece
    * count; a word with no completed segmentation (>12 chars — or,
    * under a FROZEN vocabulary, a word the vocab cannot span) charges
    * the ⌈len/4⌉ lower bound. Output: (doc_id, source, n_tokens),
    * token-free docs at 0. */
  private[graft] def docTokenFrame(df: DataFrame, segs: DataFrame): DataFrame = {
    val occs = df.select(col("doc_id"),
      explode(filter(split(lower(col("text")), " "), w => w =!= ""))
        .as("tok"))
    // round-17 (advisor fix): segs is ONE ROW PER DISTINCT CORPUS WORD
    // (≤12 chars) — corpus-dependent, NOT bounded by the ≤5M piece
    // vocab (the set of segmentable words is combinatorial in it), so
    // a forced broadcast could blow the 8 GB broadcast cap at corpus
    // scale. No hint: AQE sees the aggregated table's runtime size and
    // broadcasts exactly when it fits (same-session chain A/B at
    // sf0.1: q362/q370/q381 at par), and falls back to a shuffle
    // join instead of an OOM when it doesn't.
    val counts = occs.join(segs,
        occs("tok") === segs("word"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("np").isNotNull, col("np"))
        .otherwise(expr("CAST((length(tok) + 3) DIV 4 AS BIGINT)")))
        .as("n_tokens"))
    df.select("doc_id", "source")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  private def qPipelineComposite(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    import st._
    // ---- the audit (exact scalars over the stages) ----
    // ONE driver action for all 14 scalars: each stage aggregate is a
    // one-row frame, so cross-joining them and collecting once runs a
    // single plan in one submission instead of 14 sequential jobs
    val stageFrames = docs +: chain.stages
    val scalarRow = stageFrames.zipWithIndex
      .map { case (d, i) =>
        d.agg(count(lit(1)).as(s"c$i"),
          coalesce(sum(col("n_chars")), lit(0L)).as(s"h$i"))
      }
      .reduce(_ crossJoin _)
      .crossJoin(s5tok.agg(coalesce(sum(col("n_tokens")), lit(0L))
        .as("tok")))
      .crossJoin(packed.groupBy("source")
        .agg((max(col("seq_id")) + 1L).as("ns"))
        .agg(coalesce(sum(col("ns")), lit(0L)).as("nsq")))
      .head
    val charsRaw = math.max(scalarRow.getLong(1), 1L)
    val totTokens = scalarRow.getLong(12)
    val nSeqs = scalarRow.getLong(13)
    val sizes = (0 until 6).map(i =>
      (scalarRow.getLong(2 * i), scalarRow.getLong(2 * i + 1)))
    val names = Seq("raw", "curate", "exact_dedup", "near_dedup",
      "semantic_dedup", "decontaminate")
    val gateRows = names.zipWithIndex.map { case (nm, i) =>
      val in = if (i == 0) sizes.head._1 else sizes(i - 1)._1
      val (out, ch) = sizes(i)
      (i.toLong, nm, in, out, in - out, ch,
        ch * 1000000L / charsRaw, -1L, -1L)
    }
    val tailRows = Seq(
      (6L, "tokenize", sizes.last._1, sizes.last._1, 0L, sizes.last._2,
        sizes.last._2 * 1000000L / charsRaw, totTokens, -1L),
      (7L, "pack", sizes.last._1, sizes.last._1, 0L, sizes.last._2,
        sizes.last._2 * 1000000L / charsRaw, totTokens, nSeqs))
    import s.implicits._
    (gateRows ++ tailRows)
      .toDF("stage_no", "stage", "docs_in", "docs_out", "removed",
        "chars_out", "mass_ppm", "tokens_out", "n_seqs")
      .orderBy("stage_no")
  }

  /** Round-14: per-document PROVENANCE ledger for the q362 pipeline —
    * one row per RAW doc with the stage that removed it ('short',
    * 'exact_dup', 'near_dup', 'semantic_dup', 'contaminated') or
    * 'kept', and for survivors the packed (seq_id, seq_offset)
    * training-batch address. The row-level twin of q362's stage
    * totals — any single misrouted document flips the oracle hash —
    * and the "why did my doc disappear" debug query a pipeline
    * operator actually runs. Shares [[pipelineStages]]'s checkpointed
    * chain; the classification is five id left-joins. */
  private def qPipelineDisposition(s: SparkSession,
      dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    stageDepthLedger(st.docs, st.chain.stages, st.packed)
      .orderBy("doc_id")
  }

  /** Round-14 session 2: the INCREMENTAL pipeline — q362's daily
    * refresh. Yesterday's corpus (doc_id % 7 ≠ 3, the crawl-fixture
    * split) runs the full chain once and FREEZES its serving
    * artifacts: the curated survivor store, the k-means centroids
    * (q351's frozen-index convention), the unigram vocabulary, and
    * each stratum's mid-fill pack state. Today's delta (% 7 = 3)
    * then flows through WITHOUT touching yesterday's state: gate →
    * exact-vs-store (+ first-arrival within the delta) →
    * cross-set MinHash near-dedup
    * ([[operators.MinHashLSH.crossNearDuplicatesPortable]]: the
    * store side always wins, the q346 convention) + delta-delta
    * pairs → SemDeDup against FROZEN centroids (delta assigned, dup
    * test vs yesterday's curated members + earlier delta) →
    * benchmark decontamination (same fixed %10 bench) → tokenize
    * with the FROZEN vocab (unspannable words charge ⌈len/4⌉) →
    * pack CONTINUED from yesterday's per-stratum fill
    * ([[operators.Curation.packSequencesContinued]]). Output: the
    * q368-shaped ledger for the DELTA docs only — disposition +
    * continued-numbering pack address.
    *
    * Scale shape: the store-side artifacts are computed once and
    * checkpointed (in production they are yesterday's parquet);
    * every delta stage is batch-sized except the cross joins, which
    * are banded/cluster-keyed — the corpus never re-shuffles for
    * the delta, which is the entire point of the incremental form. */
  /** The FROZEN serving artifacts a daily-refresh store publishes
    * (q370/q373/q374): curated docs, their frozen-cluster
    * assignments, the Lloyd centroids, the unigram vocab, the
    * per-stratum pack carry, and the MinHash signature-store artifact
    * ([[operators.MinHashLSH.portableSignatureStore]] — doc_id,
    * m0..m7, n_toks), plus the run-wide constants (full-corpus
    * contamination flags and quantized vectors). In production every
    * field is a parquet artifact; here each is localCheckpoint'ed
    * once at build/absorb time.
    *
    * Round-17 addition: `textHash` — xxhash64(text) per store doc,
    * the exact-dup twin of the MinHash signature artifact. The daily
    * exact-vs-store membership probe reads THIS 8-byte-per-doc frame
    * instead of shuffling the store's full text by hash(text) every
    * delta day (guide §3.2/§6 — at 100 TB that shuffle was a
    * corpus-text-sized exchange per day). Store texts are unique by
    * the dedup invariants (exact dedup at build, exact-vs-store on
    * every delta), so the frame is a set. */
  private[graft] case class PipelineStore(docs: DataFrame,
    members: DataFrame, cents: DataFrame, vocab: DataFrame,
    carry: DataFrame, sigs: DataFrame, contamDrop: DataFrame,
    quant: DataFrame, textHash: DataFrame,
    // the FROZEN vocab collected+broadcast once at freeze time, so a
    // delta day's tokenize pays no driver collect job (a retrain
    // refreezes it with the new vocab)
    vocabPieces: Broadcast[Set[String]])

  /** One delta day's outputs: the q368-shaped ledger plus exactly the
    * pieces [[absorbPipelineDay]] folds back into the store — kept
    * docs, their frozen-cluster assignments, their signature-store
    * rows, and the continued pack frame (whose [[operators.Curation
    * .packCarry]] becomes tomorrow's carry). */
  private[graft] case class PipelineDeltaDay(ledger: DataFrame,
    kept: DataFrame, keptMembers: DataFrame, keptSigs: DataFrame,
    packed: DataFrame)

  private[graft] def pipelineGate(df: DataFrame): DataFrame =
    df.filter(size(split(lower(col("text")), " ")) >= GateMinTokens)

  /** Round-16 disposition ledger (shared by q368's composite chain
    * and every delta day): the pipeline's survivor sets are NESTED,
    * so a doc's disposition is decided by the DEEPEST set containing
    * it. One tagged union + one groupBy(doc_id) — a single exchange —
    * replaces the previous six-way left-join chain; the packed
    * (seq_id, seq_offset) address rides the same aggregation (each
    * doc has at most one packed row, so max over the lone non-null
    * value is that value). Row-identical to the join form. */
  private[graft] def stageDepthLedger(all: DataFrame,
      stages: Seq[DataFrame], packed: DataFrame): DataFrame = {
    // advisor fix: the disposition labels below hard-code the 5-stage
    // pipeline (gate → exact → near → semantic → decontaminate) and
    // the depth trick needs strictly NESTED stages with packed ⊆ the
    // last one — enforce the arity at the API boundary instead of
    // silently mislabeling a different caller.
    require(stages.length == 5,
      s"stageDepthLedger: expected the 5 nested pipeline stages, got " +
        s"${stages.length}")
    def tagged(df: DataFrame, depth: Int): DataFrame =
      df.select(col("doc_id"), lit(depth.toLong).as("_depth"),
        lit(null).cast("long").as("_sq"),
        lit(null).cast("long").as("_off"))
    (tagged(all, 0) +: stages.zipWithIndex.map { case (d, i) =>
        tagged(d, i + 1) })
      .reduce(_ unionByName _)
      .unionByName(packed.select(col("doc_id"),
        lit(stages.length + 1L).as("_depth"),
        col("seq_id").cast("long").as("_sq"),
        col("seq_offset").cast("long").as("_off")))
      .groupBy("doc_id")
      .agg(max(col("_depth")).as("_d"), max(col("_sq")).as("_sq2"),
        max(col("_off")).as("_off2"))
      .select(col("doc_id"),
        when(col("_d") === 0L, "short")
          .when(col("_d") === 1L, "exact_dup")
          .when(col("_d") === 2L, "near_dup")
          .when(col("_d") === 3L, "semantic_dup")
          .when(col("_d") === 4L, "contaminated")
          .otherwise("kept").as("disposition"),
        coalesce(col("_sq2"), lit(-1L)).as("seq_id"),
        coalesce(col("_off2"), lit(-1L)).as("seq_offset"))
  }

  /** Build the frozen store by running [[pipelineChain]] over `yDocs`
    * (yesterday's corpus) once, benchmark flags over the FULL corpus
    * `docs`, then [[freezeStore]] over the curated survivors. */
  private[graft] def buildPipelineStore(s: SparkSession, dir: String,
      yDocs: DataFrame, docs: DataFrame): PipelineStore =
    buildPipelineStoreFrom(s, yDocs, docs, pipelineQuant(s, dir))

  /** Fixture-injectable form (docs and quantized vectors passed in) —
    * the fold-equivalence property spec drives the K-day loop over
    * synthetic corpora through this entry. */
  private[graft] def buildPipelineStoreFrom(s: SparkSession,
      yDocs: DataFrame, docs: DataFrame,
      quant: DataFrame): PipelineStore = {
    val ch = pipelineChain(s, yDocs, docs, quant)
    freezeStore(ch.s5, ch.assigned, ch.sigs, ch.cents, ch.contamDrop,
      quant, pieces => Curation.packCarry(
        packTokens(docTokens(ch.s5, pieces)), "doc_id", "source")
        .localCheckpoint())
  }

  /** Freeze the curated corpus `docs` into a store: the unigram vocab
    * (collected once), the members (`assigned` vectors of the kept
    * docs), the signature slice (`sigs` rows of the kept docs), the
    * text-hash artifact, and the pack carry `carry` derives from the
    * frozen pieces — the build packs its survivors, the retrain keeps
    * the shipped carry. */
  private def freezeStore(docs: DataFrame, assigned: DataFrame,
      sigs: DataFrame, cents: DataFrame, contamDrop: DataFrame,
      quant: DataFrame,
      carry: Broadcast[Set[String]] => DataFrame): PipelineStore = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the artifacts branch independently off the checkpointed `docs`:
    // the vocab → tokenize → pack chain is the long pole, and members,
    // the signature slice and the text hashes overlap it
    val vocabF = Future {
      val vocab = UnigramSegment.pieceVocab(docs, "text")
        .localCheckpoint()
      val pieces = UnigramSegment.collectPieces(vocab)
      (vocab, pieces, carry(pieces))
    }
    val membersF = Future {
      assigned.join(docs.select(col("doc_id").as("id")), Seq("id"))
        .localCheckpoint()
    }
    val sigsF = Future {
      sigs.join(docs.select("doc_id"), Seq("doc_id"), "semi")
        .localCheckpoint()
    }
    // the exact-dup artifact: one map-only projection (8 bytes/doc)
    // that every delta day's exact-vs-store probe reads instead of the
    // store's text; projected, not sliced, because a hash carries no
    // doc id
    val textHashF = Future {
      docs.select(xxhash64(col("text")).as("th")).localCheckpoint()
    }
    val (vocab, pieces, packCarry) = Await.result(vocabF, Duration.Inf)
    PipelineStore(docs, Await.result(membersF, Duration.Inf), cents,
      vocab, packCarry, Await.result(sigsF, Duration.Inf), contamDrop,
      quant, Await.result(textHashF, Duration.Inf), pieces)
  }

  /** Exact dedup of a gated day `d1` against the store: first arrival
    * within the day, minus every doc whose text the store already
    * holds. Membership is decided on the store's 8-byte text-hash
    * artifact, so the store's text is never shuffled; it is fetched
    * only for the matched hashes (today's true duplicates plus ~0
    * collisions), and the final text equi-join keeps the answer EXACT
    * — an xxhash64 collision costs one candidate row, never a wrong
    * result. */
  private[graft] def exactVsStore(store: PipelineStore,
      d1: DataFrame): DataFrame = {
    val d1Th = d1.select(xxhash64(col("text")).as("th")).distinct()
    val hitTh = store.textHash.join(d1Th, Seq("th"), "semi")
    val storeTexts = store.docs
      .join(hitTh, xxhash64(col("text")) === col("th"), "semi")
      .select("text")
    d1.join(exactKeepers(d1), Seq("doc_id"), "semi")
      .join(d1.join(storeTexts, Seq("text"), "semi").select("doc_id"),
        Seq("doc_id"), "left_anti")
  }

  /** One delta day against a frozen [[PipelineStore]]: gate →
    * exact-vs-store (+ first-arrival within the delta) → cross-set
    * MinHash near-dedup READ FROM the signature artifact
    * ([[operators.MinHashLSH.crossNearDuplicatesFromStore]] — store
    * text touched only for banded candidates; spec-pinned equal to
    * the recompute path) + delta-delta pairs → SemDeDup against
    * FROZEN centroids (dup test vs the store's curated members, the
    * store always wins) → the same fixed benchmark screen → frozen-
    * vocab tokenize → pack CONTINUED from the store's carry. Every
    * stage is delta-sized except the cross joins, which are banded /
    * cluster-keyed; the store corpus never re-shuffles. */
  private[graft] def pipelineDeltaDay(store: PipelineStore,
      dDocs: DataFrame): PipelineDeltaDay = {
    val d1 = pipelineGate(dDocs).localCheckpoint()
    val d2 = exactVsStore(store, d1).localCheckpoint()
    // sign once: the checkpointed frame drives both near-dup passes
    // (vs the store artifact and within the delta) and, sliced to the
    // kept docs below, becomes the day's absorbed signature rows
    val sigD2 = MinHashLSH.portableSignatureStore(d2, "doc_id", "text")
      .localCheckpoint()
    val d3 = d2.join(MinHashLSH.deltaNearDropIdsFromSig(store.sigs,
        store.docs, sigD2, d2, "doc_id", "text"), Seq("doc_id"),
        "left_anti")
      .localCheckpoint()
    val dVecs = store.quant.join(d3.select(col("doc_id").as("id")),
      Seq("id"))
    val dAssigned = IvfIndex.assignPortableInlined(dVecs, store.cents)
      .localCheckpoint()
    // cross dup: delta vec vs the store's CURATED members in the same
    // frozen cluster, exact integer cosine >= 3/10 — store wins
    val crossSem = {
      val x = store.members.select(col("cluster_id").as("c"),
        col("id").as("a"), col("q").as("qa"),
        Similarity.intDot(col("q"), col("q")).as("na"))
      val y = dAssigned.select(col("cluster_id").as("c"),
        col("id").as("b"), col("q").as("qb"),
        Similarity.intDot(col("q"), col("q")).as("nb"))
      x.join(y, Seq("c"))
        .withColumn("idot", Similarity.intDot(col("qa"), col("qb")))
        .filter(Similarity.cosineAtLeast(SemCosNum, SemCosDen))
        .select(col("b").as("doc_id")).distinct()
    }
    val d4 = d3.join(crossSem.union(semanticDupIds(dAssigned)).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // read by d5 AND the depth ledger
    val d5 = d4.join(store.contamDrop, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val dPacked = Curation.packSequencesContinued(
        docTokens(d5, store.vocabPieces), "doc_id", "n_tokens", "source",
        capacity = PackTokens, store.carry)
      .localCheckpoint()
    // the five stage sets are NESTED (d5 ⊆ d4 ⊆ … ⊆ d1 ⊆ dDocs), so
    // the disposition is the DEEPEST set containing the doc
    val ledger = stageDepthLedger(dDocs,
      Seq(d1, d2, d3, d4, d5), dPacked)
    val keptMembers = dAssigned
      .join(d5.select(col("doc_id").as("id")), Seq("id"))
    val keptSigs = sigD2.join(d5.select("doc_id"), Seq("doc_id"),
      "semi") // sign-once: the d2 frame sliced to kept docs
    PipelineDeltaDay(ledger, d5, keptMembers, keptSigs, dPacked)
  }

  /** The store ABSORBS a processed day — the nightly production loop:
    * kept docs, their assignments, and their signature rows append;
    * the carry advances ([[operators.Curation.packCarryMerge]]:
    * strata the day touched take its fold state, untouched strata
    * keep the old one). Centroids, vocab, and the benchmark flags
    * stay FROZEN (retraining is the [[retrainPipelineStore]] arm,
    * fired by the q378/q381 drift triggers — q385 runs it).
    *
    * Round-16 crash-safety pin: absorb is IDEMPOTENT (the Cdc
    * insert-if-absent convention) — each append anti-joins the day's
    * rows against the ids the store already holds, so a nightly that
    * crashed after publishing and was re-run cannot double-append
    * docs, members, or signatures (the carry merge is idempotent by
    * construction: re-merging the same day's carry replaces each
    * touched stratum with the identical fold state). absorb ∘ absorb
    * == absorb is spec-pinned (Round16Spec). Scale shape: the three
    * anti-joins are delta × store-ID joins — in production the store
    * id sets are bucketed parquet, so only the delta side shuffles;
    * the store corpus itself is still never reshuffled, only
    * appended. Note the chain itself is ALSO crash-idempotent one
    * level up: re-RUNNING [[pipelineDeltaDay]] on an absorbed day
    * dedups everything against the store (exact_dup), so kept = ∅
    * and absorb no-ops — the anti-joins here close the remaining
    * window (re-absorbing a SAVED day artifact). */
  private[graft] def absorbPipelineDay(store: PipelineStore,
      day: PipelineDeltaDay): PipelineStore = {
    val cols = Seq("doc_id", "text", "source").map(col)
    def fresh(rows: DataFrame, have: DataFrame, id: String) =
      rows.join(have.select(id), Seq(id), "left_anti")
    // round-17 (guide §2.6): the five artifact appends are mutually
    // independent — materialize them on concurrent driver threads
    // (each computes exactly its sequential frame; the nightly is
    // job-submission bound at fixture scale)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val membersF = Future {
      store.members
        .unionByName(fresh(day.keptMembers, store.members, "id"))
        .localCheckpoint()
    }
    val sigsF = Future {
      store.sigs
        .unionByName(fresh(day.keptSigs, store.sigs, "doc_id"))
        .localCheckpoint()
    }
    val carryF = Future {
      Curation.packCarryMerge(
        Curation.packCarry(day.packed, "doc_id", "source"),
        store.carry, "source").localCheckpoint()
    }
    val docsAndHashF = Future {
      // the day's genuinely-new docs materialize ONCE (delta-sized
      // checkpoint) — both the docs append and the text-hash artifact
      // extension read this frame, so the freshness anti-join runs
      // once instead of twice
      val freshDocs = fresh(day.kept.select(cols: _*), store.docs,
        "doc_id").localCheckpoint()
      val newDocs = store.docs.select(cols: _*)
        .unionByName(freshDocs).localCheckpoint()
      // the artifact extends delta-sized; the anti-join keeps it
      // per-artifact idempotent like every other append (re-absorbing
      // a saved day, or healing a partial crash, cannot double-append
      // a hash)
      val newTextHash = store.textHash
        .unionByName(fresh(
          freshDocs.select(xxhash64(col("text")).as("th")),
          store.textHash, "th"))
        .localCheckpoint()
      (newDocs, newTextHash)
    }
    val (newDocs, newTextHash) = Await.result(docsAndHashF, Duration.Inf)
    store.copy(
      docs = newDocs,
      members = Await.result(membersF, Duration.Inf),
      sigs = Await.result(sigsF, Duration.Inf),
      carry = Await.result(carryF, Duration.Inf),
      textHash = newTextHash)
  }

  private def pipelineDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"))
      .localCheckpoint()

  /** The crawl fixture's day split: day d holds the docs with
    * doc_id % 7 == d, and the store corpus holds the docs of no day in
    * `days`. Returns (store corpus, day frames in `days` order). */
  private[graft] def daySplit(docs: DataFrame,
      days: Seq[Int]): (DataFrame, Seq[DataFrame]) =
    (docs.filter(days.map(d => col("doc_id") % 7 =!= d).reduce(_ && _)),
      days.map(d => docs.filter(col("doc_id") % 7 === d)))

  /** The store-chain queries' prelude: the store built over the
    * [[daySplit]] store corpus (benchmark flags over every doc), and
    * the day frames in `days` order. */
  private def pipelineDays(s: SparkSession, dir: String,
      days: Int*): (PipelineStore, Seq[DataFrame]) = {
    val docs = pipelineDocs(s, dir)
    val (storeDocs, dayDocs) = daySplit(docs, days)
    (buildPipelineStore(s, dir, storeDocs, docs), dayDocs)
  }

  private def qPipelineDelta(s: SparkSession, dir: String): DataFrame = {
    val (store, Seq(day)) = pipelineDays(s, dir, 3)
    pipelineDeltaDay(store, day).ledger.orderBy("doc_id")
  }

  /** Round-15: the K-DAY incremental loop (K = 2) — q370 proves one
    * delta day against a frozen store; production runs the loop
    * nightly with the store ABSORBING each day's kept docs. Day 0
    * (doc_id % 7 ∉ {2,3}) builds the store and freezes centroids +
    * vocab + benchmark flags for the whole horizon; day 1 (% 7 = 2)
    * flows through as a delta and is absorbed — kept docs join the
    * exact/near/semantic dedup base, the signature artifact extends,
    * the pack carry advances; day 2 (% 7 = 3) then deduplicates
    * against the GROWN store and packs with continued numbering after
    * day 1's sequences. Output: the q368-shaped ledger for both delta
    * days, day-tagged. The fold-equivalence property (two absorbed
    * days == one batch delta over the union, modulo first-arrival
    * winners) is spec-pinned over random id-ordered day splits
    * (Round15Spec). */
  private def qPipelineTwoDay(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, docs2)) = pipelineDays(s, dir, 2, 3)
    val day1 = pipelineDeltaDay(store0, docs1)
    val store1 = absorbPipelineDay(store0, day1)
    val day2 = pipelineDeltaDay(store1, docs2)
    day1.ledger.withColumn("day", lit(1L))
      .unionByName(day2.ledger.withColumn("day", lit(2L)))
      .select("doc_id", "day", "disposition", "seq_id", "seq_offset")
      .orderBy("doc_id")
  }

  /** Round-15: the SIGNATURE-STORE cross near-dup pass in isolation —
    * q370's near-dup stage reads the store side from the persisted
    * (doc_id, m0..m7, n_toks) artifact; this registers the verified
    * cross pairs themselves so the artifact path has its own
    * oracle-checked row set (the DuckDB replay recomputes signatures
    * from text — the two paths are bit-equal by the artifact
    * contract, additionally spec-pinned on random corpora). */
  private def qSigStoreCross(s: SparkSession, dir: String): DataFrame = {
    val (store, Seq(day)) = pipelineDays(s, dir, 3)
    MinHashLSH.crossNearDuplicatesFromStore(store.sigs, store.docs,
        exactVsStore(store, pipelineGate(day)), "doc_id", "text")
      .select(col("b_id"), col("s_id"), col("inter"), col("uni"))
      .orderBy("b_id", "s_id")
  }

  /** Round-14 session 2: the SHARD MANIFEST — where the pipeline's
    * output actually lives. q362's packed sequences (the training
    * batches) are placed on the q357 consistent-hash ring by the
    * char-fold of their "source:seq_id" identity (the portable q132
    * fold, computed by the native CharFoldHash expression), and the
    * manifest reports per shard: sequences, documents, token mass,
    * and the token share in ppm — the layout table a training job's
    * data loader reads. Composes the two round-14 families end to
    * end: curation output → placement. Zero-load shards keep a row
    * (the loadAudit convention). */
  /** Per-sequence ring placement shared by the manifest family
    * (q371/q376/q379/q382): the char-fold of "source:seq_id" placed
    * on the q357 ring — ONE definition of the manifest key. */
  private def assignSeqRing(seqs: DataFrame): DataFrame =
    operators.HashRing.assign(
      seqs.withColumn("k", org.apache.spark.sql.graft.CharFoldHash
        .column(concat(col("source"), lit(":"), col("seq_id")))),
      "k", nShards = 16, vnodesPerShard = 32)

  private def qShardManifest(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val seqs = st.packed.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"))
    val assigned = assignSeqRing(seqs)
    val counts = assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
    val shards = s.createDataFrame(
        operators.HashRing.arcs(16, 32).map(a => Tuple1(a._1)))
      .toDF("shard")
    shards.join(counts, Seq("shard"), "left")
      .join(seqs.agg(coalesce(sum(col("n_tokens")), lit(0L))
        .as("t_total")))
      .select(col("shard"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("t_total") > 0,
          expr("coalesce(n_tokens, 0L) * 1000000L div t_total"))
          .otherwise(lit(-1L)).as("token_ppm"))
      .orderBy("shard")
  }

  /** Round-14: Dynamo-style ring REPLICATION — each key's first R=3
    * DISTINCT-shard clockwise successors (primary + 2 replica
    * holders) on the q357 geometry, audited per shard: primary share
    * and total responsibility share in ppm
    * ([[operators.HashRing.replicationAudit]]). n_responsible sums to
    * 3× the corpus exactly; element 0 of every replica set is q357's
    * primary (spec-pinned). */
  private def qRingReplicated(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.replicationAudit(s, Tables.documents(s, dir),
      "doc_id", nShards = 16, vnodesPerShard = 32, replicas = 3)

  /** Round-14: SEGMENT-PACKED q353 — the unbounded-stratum packing
    * path ([[operators.Curation.packSequencesSegmented]]): 8-doc
    * segments (small enough to split every 25-doc fixture stratum
    * four ways, so the splice is exercised, not vacuous) packed
    * independently in parallel, segment-local sequence ids spliced
    * into per-stratum ids via the per-SEGMENT summary window.
    * Differs from q353 only at segment boundaries — the honest
    * distribution cost q365 prices. */
  private def qPackSegmented(s: SparkSession, dir: String): DataFrame =
    operators.Curation.packSequencesSegmented(Tables.documents(s, dir),
        "doc_id", "n_chars", "source", capacity = 2000L, segmentRows = 8L)
      .orderBy("source", "doc_id")

  /** Round-14: segment-boundary waste ledger — per source, sequences
    * opened by the exact per-stratum fold (q353) vs the segment-packed
    * form (q364) at the same capacity, the extra boundary sequences,
    * and both integer fill ppms. The one-row-per-stratum answer to
    * "what does distributing the non-associative fold cost?" —
    * SCALE.md carries the segment-size curve. */
  private def qPackBoundaryWaste(s: SparkSession, dir: String): DataFrame = {
    val cap = 2000L
    val docs = Tables.documents(s, dir)
    val base = operators.Curation.packSequences(
        docs, "doc_id", "n_chars", "source", cap)
      .groupBy("source")
      .agg((max(col("seq_id")) + 1L).as("n_seqs_base"),
        sum(col("len")).as("total_chars"))
    val seg = operators.Curation.packSequencesSegmented(
        docs, "doc_id", "n_chars", "source", cap, segmentRows = 8L)
      .groupBy("source")
      .agg((max(col("seq_id")) + 1L).as("n_seqs_seg"))
    base.join(seg, Seq("source"))
      .select(col("source"), col("n_seqs_base"), col("n_seqs_seg"),
        (col("n_seqs_seg") - col("n_seqs_base")).as("extra_seqs"),
        col("total_chars"),
        expr(s"total_chars * 1000000L div (n_seqs_base * ${cap}L)")
          .as("fill_ppm_base"),
        expr(s"total_chars * 1000000L div (n_seqs_seg * ${cap}L)")
          .as("fill_ppm_seg"))
      .orderBy("source")
  }

  /** Round-13: consistent-hash ring shard-load audit — 16 shards ×
    * 32 vnodes over the documents table: theoretical arc share vs
    * empirical key share per shard ([[operators.HashRing.loadAudit]]).
    * Map-only assignment (ring = 128 driver constants as literals),
    * one 16-row aggregation. */
  private def qHashRing(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.loadAudit(s, Tables.documents(s, dir),
      "doc_id", nShards = 16, vnodesPerShard = 32)

  /** Round-13: reshard-movement audit, growing 16 → 20 shards —
    * exact moved-key counts for the ring (≈ the 4/20 of keys the new
    * shards' arcs steal) vs naive mod-N placement (≈ 1 − 1/20 — a
    * near-full corpus rewrite). The single number that justifies
    * consistent hashing at 100 TB. */
  private def qReshardMovement(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.reshardAudit(Tables.documents(s, dir),
      "doc_id", nShards = 16, nShardsAfter = 20, vnodesPerShard = 32)

  /** Round-13: reshard migration plan — the work order behind q358's
    * movement number: per (shard_before, shard_after) pair, the key
    * count to move when the ring grows 16 → 20. Every destination is
    * a new shard (≥ 16) by the consistent-hashing contract. */
  private def qReshardPlan(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.reshardPlan(Tables.documents(s, dir),
      "doc_id", nShards = 16, nShardsAfter = 20, vnodesPerShard = 32)

  /** The q361 heterogeneous fleet: two big boxes, four mediums, six
    * standards, four smalls — capacity expressed as vnode count. */
  private val q361Capacities =
    Seq(64, 64, 32, 32, 32, 32, 16, 16, 16, 16, 16, 16, 8, 8, 8, 8)

  /** Round-13: WEIGHTED consistent-hash ring — capacity-proportional
    * vnode counts for a heterogeneous fleet; the audit publishes
    * capacity share, arc share, and measured load side by side
    * ([[operators.HashRing.loadAuditWeighted]]): capacity-weighted
    * placement with zero per-key state. */
  private def qWeightedRing(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.loadAuditWeighted(s, Tables.documents(s, dir),
      "doc_id", q361Capacities)

  /** Round-14: replication on the WEIGHTED ring — the q361
    * heterogeneous fleet under Dynamo R=3 placement: per shard, the
    * capacity intent (vnode ppm) vs measured primary and
    * total-responsibility load. Shows replica load tracks capacity
    * with zero per-key state — replicas are just further successor
    * walks over the same capacity-proportional arcs. */
  private def qWeightedReplication(s: SparkSession,
      dir: String): DataFrame =
    operators.HashRing.replicationAuditWeighted(s,
      Tables.documents(s, dir), "doc_id", q361Capacities, replicas = 3)

  /** Round-14: REPLICATED reshard movement, 16 → 20 shards at R=3 —
    * the copy-migration bill of growing a replicated fleet: primaries
    * moved (q358's number, spec-pinned) plus the total copies that
    * must transfer (per key, after-shards not already holding one).
    * The number a capacity planner multiplies by bytes-per-key. */
  /** Round-15: WEIGHTED replicated reshard — the capacity-planning
    * decision q372 can't price: growing the q361 heterogeneous fleet
    * by 64 vnodes of capacity either as ONE big box (capacity 64) or
    * FOUR small ones (capacity 16 each), R = 3 replication. Same key
    * positions, same walk; only the after-ring differs — so the two
    * rows isolate the placement consequence of the hardware choice
    * (four small boxes scatter more vnodes, stealing more arcs and
    * moving more copies; one big box concentrates the theft). Two
    * map-only passes per scenario + one global agg
    * ([[operators.HashRing.replicatedReshardAuditWeighted]]). */
  private def qWeightedReshard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def scen(name: String, after: Seq[Int]): DataFrame =
      operators.HashRing.replicatedReshardAuditWeighted(docs, "doc_id",
          q361Capacities, after, replicas = 3)
        .withColumn("scenario", lit(name))
    scen("one_big", q361Capacities :+ 64)
      .unionByName(scen("four_small",
        q361Capacities ++ Seq(16, 16, 16, 16)))
      .select("scenario", "n_keys", "primary_moved",
        "primary_moved_ppm", "copies_moved", "copies_moved_ppm")
      .orderBy("scenario")
  }

  /** Round-15: the LOADER-CONTRACT manifest — q371 gives a training
    * job per-shard totals; the data loader that resumes from step N
    * needs each shard's sequence ORDER and cumulative token offsets.
    * One row per packed sequence: its shard, its 1-based rank within
    * the shard's deterministic (source, seq_id) read order, and the
    * token offset where it starts — so "resume shard 7 at step N" is
    * one manifest lookup. The rank/offset window runs over
    * |sequences| summary rows partitioned by shard, never over
    * documents (corpus-size independent, the q371 scale stance);
    * conservation against q371's per-shard totals is spec-pinned. */
  private def qLoaderManifest(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val assigned = assignSeqRing(st.packed.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("source", "seq_id")
    assigned
      .withColumn("seq_rank", row_number().over(w).cast("long"))
      .withColumn("token_offset",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0L)))
      .select("shard", "seq_rank", "source", "seq_id", "n_docs",
        "n_tokens", "token_offset")
      .orderBy("shard", "seq_rank")
  }

  /** Round-15: the INCREMENTAL manifest — which q371-style manifest
    * rows a delta day actually changes. Today's continued pack
    * (q370's chain) touches, per stratum, AT MOST the carried partial
    * sequence (same (source, seq_id) identity, so its char-fold ring
    * placement is STABLE — the loader's already-downloaded shards
    * stay valid) plus the brand-new sequences after it. One row per
    * touched sequence: its shard, the docs/tokens ADDED today, and
    * whether it extends yesterday's carry or is new. The nightly
    * manifest update is therefore |delta sequences| rows — yesterday's
    * manifest is never rewritten, only merged with this diff
    * (reconciliation algebra spec-pinned via the pack continuation
    * property). */
  private def qManifestDelta(s: SparkSession, dir: String): DataFrame = {
    val (store, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val day = pipelineDeltaDay(store, dayDocs)
    val agg = day.packed.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs_add"),
        sum(col("len")).as("n_tokens_add"))
    assignSeqRing(agg)
      .join(broadcast(store.carry.select(col("source"),
        col("carry_seq"))), Seq("source"), "left")
      .select(col("shard"), col("source"), col("seq_id"),
        col("n_docs_add"), col("n_tokens_add"),
        (col("carry_seq").isNotNull &&
          col("seq_id") === col("carry_seq")).as("extends_carry"))
      .orderBy("source", "seq_id")
  }

  /** A day's quota offer: its packed docs with their token counts,
    * tagged with the day they were offered. */
  private def dayOffer(day: PipelineDeltaDay, d: Long): DataFrame =
    day.packed.select(col("source"), col("doc_id"),
      col("len").as("n_tokens"), lit(d).as("offered_day"))

  /** Round-15: QUOTA-admission audit — the data-mixing knob applied
    * to the absorb loop: the day's kept docs are offered per source
    * in id order and admitted while the cumulative token mass stays
    * within HALF the day's per-source offer (the fixture budget);
    * the rest is the FIFO backlog tomorrow's run re-offers first
    * ([[operators.Curation.quotaAdmitPrefix]] — prefix-truncation,
    * order-preserving, windowable; backlog conservation across days
    * is spec-pinned at the operator level). Output: one row per
    * offered doc with its cumulative position and verdict. */
  private def qQuotaAdmit(s: SparkSession, dir: String): DataFrame = {
    val (store, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val day = pipelineDeltaDay(store, dayDocs)
    val offered = day.packed.select(col("source"), col("doc_id"),
      col("len").as("n_tokens"))
    Curation.quotaAdmitHalfPending(offered, Seq("doc_id"), "n_tokens",
        "source")
      .select("source", "doc_id", "n_tokens", "cum_before", "admitted")
      .orderBy("source", "doc_id")
  }

  /** Round-15: the TWO-DAY quota ledger — the mixing knob (q383)
    * threaded through the absorbing loop (q373). Admission gates only
    * the TRAINING mix; the dedup store still absorbs every kept doc
    * (so a fresh duplicate of a backlogged doc is caught by the
    * store, and curation never re-runs on the backlog). Day 1's
    * rejected docs join day 2's offer with FIFO priority (ordered by
    * (offered_day, doc_id) — an explicit priority key, because the
    * %7 day split interleaves ids); each day's budget is half that
    * day's per-source offer. Output: one row per ever-offered doc —
    * (doc_id, source, n_tokens, offered_day, admitted_day), with
    * admitted_day = −1 for docs still backlogged after day 2. Token
    * counts are frozen-vocab counts from the doc's own kept day. */
  private def qQuotaTwoDay(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, docs2)) = pipelineDays(s, dir, 2, 3)
    val day1 = pipelineDeltaDay(store0, docs1)
    // round-17 (guide §2.6): absorb ∥ day 1's admission (disjoint
    // inputs; day 2's chain awaits the absorbed store)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val store1F = Future { absorbPipelineDay(store0, day1) }
    val off1 = dayOffer(day1, 1L).localCheckpoint()
    val adm1 = Curation.quotaAdmitHalfPending(off1, Seq("doc_id"),
      "n_tokens", "source").localCheckpoint()
    val store1 = Await.result(store1F, Duration.Inf)
    val day2 = pipelineDeltaDay(store1, docs2)
    val backlog = adm1.filter(!col("admitted"))
      .select("source", "doc_id", "n_tokens", "offered_day")
    // FIFO priority = (offered_day, doc_id) as the admission window's
    // own two-column sort — a packed `day * 10^12 + id` key would
    // silently invert the order once doc_id crosses 10^12
    val off2 = backlog.unionByName(dayOffer(day2, 2L)).localCheckpoint()
    val adm2 = Curation.quotaAdmitHalfPending(off2,
      Seq("offered_day", "doc_id"), "n_tokens", "source")
    adm1.filter(col("admitted"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("offered_day"), lit(1L).as("admitted_day"))
      .unionByName(adm2.select(col("doc_id"), col("source"),
        col("n_tokens"), col("offered_day"),
        when(col("admitted"), 2L).otherwise(-1L).as("admitted_day")))
      .orderBy("doc_id")
  }

  /** Round-15: MULTI-EPOCH loader order — training reads the same
    * shards several times with a DIFFERENT deterministic shuffle per
    * epoch (seeded, coordinator-free: any worker can recompute its
    * shard's order). Each packed sequence's per-epoch sort key is the
    * char-fold of "epoch:<e>:<source>:<seq_id>" passed through the
    * ring's quadratic mix (the q357 avalanche treatment — raw folds
    * of near-identical labels cluster); read_rank and the epoch-local
    * token offset come from one window over |sequences| × |epochs|
    * rows per shard, corpus-size independent like q376. Ties (never
    * observed; possible in principle) break by (source, seq_id) so
    * the order is total either way. */
  private def qEpochOrder(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val assigned = assignSeqRing(st.packed.groupBy("source", "seq_id")
        .agg(sum(col("len")).as("n_tokens")))
      .withColumn("epoch", explode(typedLit(Seq(0L, 1L))))
      .withColumn("ef", org.apache.spark.sql.graft.CharFoldHash.column(
        concat(lit("epoch:"), col("epoch"), lit(":"), col("source"),
          lit(":"), col("seq_id"))))
      .withColumn("pos", operators.HashRing.mixColumn(col("ef")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "epoch")
      .orderBy("pos", "source", "seq_id")
    assigned
      .withColumn("read_rank", row_number().over(w).cast("long"))
      .withColumn("token_offset",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0L)))
      .select("shard", "epoch", "read_rank", "source", "seq_id",
        "n_tokens", "token_offset")
      .orderBy("shard", "epoch", "read_rank")
  }

  /** Round-15: TOKENIZER DRIFT across the day boundary — the other
    * artifact the nightly loop must decide whether to refreeze. The
    * unigram vocabulary retrained on the grown corpus (yesterday ∪
    * today, gate-surviving docs) is compared word by word against
    * yesterday's frozen vocabulary: per change class, the distinct
    * words affected, their total occurrence mass, and the exact token
    * delta (unspannable and over-DP-bound words charge ⌈len/4⌉ on
    * both sides). Because the piece vocabulary is count-monotone
    * (a piece kept at count ≥ 2 stays kept when the corpus grows),
    * retraining can only merge better: 'more_pieces' and
    * 'newly_unspannable' are provably empty and published as 0-rows
    * (spec-pinned) — the audit quantifies how much token mass a
    * REFREEZE would save, which is the retrain trigger's tokenizer
    * twin (q378). Two vocab builds + two greedy DP passes over the
    * union's distinct words; the rollup is |classes| rows.
    *
    * Fixture honesty: the synthetic corpus has a CLOSED vocabulary
    * (every piece of every word is frequent on both sides of the %7
    * split at every threshold — probed in round 15), so all mass
    * lands in 'unchanged' here; the drift mechanism itself is
    * exercised by Round15Spec on a synthetic corpus where the delta
    * day introduces genuinely new and newly-frequent pieces (the
    * q362 exact-dedup-removes-0 honesty convention). */
  private def qTokenizerDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = pipelineDocs(s, dir)
    tokenizerDriftFrom(s,
      pipelineGate(docs.filter(col("doc_id") % 7 =!= 3)),
      pipelineGate(docs))
  }

  /** Fixture-injectable core of [[qTokenizerDrift]]: yesterday's
    * corpus `y` vs the grown corpus `a` (both pre-gated). */
  private[graft] def tokenizerDriftFrom(s: SparkSession, y: DataFrame,
      a: DataFrame): DataFrame = {
    val vy = UnigramSegment.pieceVocab(y, "text")
    val va = UnigramSegment.pieceVocab(a, "text")
    val occs = a.select(explode(filter(split(lower(col("text")), " "),
        w => w =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("occ"))
    val ny = UnigramSegment.greedySegment(a, "text", vy)
      .select(col("word"), col("n_pieces").cast("long").as("npy"))
    val na = UnigramSegment.greedySegment(a, "text", va)
      .select(col("word"), col("n_pieces").cast("long").as("npa"))
    val ceil = expr("CAST((length(tok) + 3) DIV 4 AS BIGINT)")
    val classified = occs
      .join(ny, occs("tok") === ny("word"), "left").drop(ny("word"))
      .join(na, occs("tok") === na("word"), "left").drop(na("word"))
      .select(col("tok"), col("occ"),
        when(length(col("tok")) > 12, "over_dp_bound")
          .when(col("npy").isNull && col("npa").isNull, "unspannable")
          .when(col("npy").isNull, "newly_spannable")
          .when(col("npa").isNull, "newly_unspannable")
          .when(col("npa") < col("npy"), "fewer_pieces")
          .when(col("npa") > col("npy"), "more_pieces")
          .otherwise("unchanged").as("change"),
        ((coalesce(col("npa"), ceil) - coalesce(col("npy"), ceil)) *
          col("occ")).as("delta"))
    val agg = classified.groupBy("change")
      .agg(count(lit(1)).as("n_words"), sum(col("occ")).as("n_occ"),
        sum(col("delta")).as("token_delta"))
    import s.implicits._
    val anchor = Seq("fewer_pieces", "more_pieces", "newly_spannable",
      "newly_unspannable", "over_dp_bound", "unchanged", "unspannable")
      .toDF("change")
    anchor.join(agg, Seq("change"), "left")
      .select(col("change"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("token_delta"), lit(0L)).as("token_delta"))
      .orderBy("change")
  }

  /** Round-15: the SERVING-REFRESH composition — the freshly absorbed
    * day is immediately searchable. The serving index's inverted
    * lists are the store's curated members plus today's kept members
    * (both already assigned under the FROZEN centroids — q351's
    * delta-assign semantics — so the refresh appends lists, never
    * re-clusters); probes are the q176 eval-set convention (every
    * 20th vector, curated or not — queries come from outside the
    * store). Output: IVF top-5 per probe at nProbe = 2 with exact
    * integer cosine ranking, plus `from_delta` marking results served
    * from TODAY's absorbed docs — the freshness a nightly loop
    * actually buys. Probe side broadcast; corpus-sized lists never
    * move (the searchPortable stance). */
  private def qServingRefresh(s: SparkSession, dir: String): DataFrame = {
    val (store, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val day = pipelineDeltaDay(store, dayDocs)
    ivfTop5(evalProbes(store.quant),
        store.members.unionByName(day.keptMembers), store.cents)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("idot"), (col("neighbor_id") % 7 === 3).as("from_delta"))
      .orderBy("query_id", "rank")
  }

  /** The q176 eval-set probes: every 20th vector as (qid, qq). */
  private def evalProbes(quant: DataFrame): DataFrame =
    quant.filter(col("id") % 20 === 0)
      .select(col("id").as("qid"), col("q").as("qq"))

  /** IVF top-5 search at nProbe = 2: each probe ranks the frozen
    * centroids by exact integer d2 (ties by cluster id), scans the
    * member lists of its two nearest, and keeps the five members of
    * highest integer dot product (ties by id), itself excluded.
    * Probes are broadcast; the corpus-sized lists never move.
    * Output: (query_id, rank, neighbor_id, idot). */
  private def ivfTop5(probes: DataFrame, members: DataFrame,
      cents: DataFrame): DataFrame = {
    val lists = members.select(col("id").as("cid"), col("q").as("cq"),
      col("cluster_id"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("d2").asc, col("cluster_id").asc)
    val nearest = probes.crossJoin(broadcast(cents))
      .withColumn("d2",
        org.apache.spark.sql.graft.GraftFunctions.intDist2(
          col("qq"), col("c")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("qq"), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("idot").desc, col("neighbor_id").asc)
    lists.join(broadcast(nearest), Seq("cluster_id"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        Similarity.intDot(col("qq"), col("cq")).as("idot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "idot")
  }

  /** Round-15: the RETRAIN TRIGGER read at the absorb boundary — the
    * decision the K-day loop (q373) consults before freezing another
    * day: per frozen cluster, the exact integer mean squared distance
    * of the STORE's curated members vs the day's ABSORBED (kept)
    * members, and the q352-convention flag (delta mean > 1.25× store
    * mean, integer cross-multiply). The q352 drift audit composed
    * with the real pipeline store instead of a raw id split — when
    * `retrain` fires, the nightly stops freezing `cents` and goes
    * back through [[buildPipelineStore]]'s training path. One
    * broadcast-centroid assignment per side; the audit is |clusters|
    * rows. */
  private def qAbsorbDrift(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, _)) = pipelineDays(s, dir, 2, 3)
    absorbDrift(store0, pipelineDeltaDay(store0, docs1).kept)
      .orderBy("cluster_id")
  }

  /** [[driftByCluster]] of the day's `kept` vectors against the store's
    * curated members, under the store's frozen centroids. */
  private def absorbDrift(st: PipelineStore, kept: DataFrame): DataFrame =
    driftByCluster(
      st.quant.join(st.docs.select(col("doc_id").as("id")), Seq("id")),
      st.quant.join(kept.select(col("doc_id").as("id")), Seq("id")),
      st.cents, "store", "absorbed")

  /** Round-16: the RETRAIN arm of the nightly loop — what q378/q381
    * only DECIDE, executed. The store is re-entered through
    * [[buildPipelineStoreFrom]]'s training path over the GROWN curated
    * corpus: gate/exact-dedup/near-dedup provably remove nothing on an
    * already-curated store (every pair was compared at build or absorb
    * time — the curation-idempotence pin, Round16Spec), so the retrain
    * starts at Lloyd: new centroids trained on the store's own member
    * vectors, a SemDeDup RE-SCREEN under the NEW blocking (retraining
    * moves cluster walls, so pairs never co-blocked before are
    * compared now — the one stage where a retrain can shrink the
    * store), the vocabulary refrozen on the survivors, members
    * re-assigned, signatures filtered. The pack carry is deliberately
    * RETAINED: sequences already shipped are physical history (the
    * q379 manifest-stability stance) — a refreeze changes how FUTURE
    * days tokenize and pack, never the downloaded bytes. Equality
    * with a full batch rebuild over the same corpus (docs, centroids,
    * vocab, members, signatures) is spec-pinned. */
  private[graft] def retrainPipelineStore(s: SparkSession,
      store: PipelineStore): PipelineStore = {
    val (cents, assigned, kept) = semanticStage(s, store.quant, store.docs)
    freezeStore(kept.localCheckpoint(), assigned, store.sigs, cents,
      store.contamDrop, store.quant, _ => store.carry)
  }

  /** Round-16 (q385): RETRAIN vs FREEZE, measured — the absorbed
    * store (q370's day folded in) retrained via
    * [[retrainPipelineStore]] and compared against the frozen
    * geometry per cluster: member count and exact integer mean
    * squared distance under the FROZEN centroids vs under the
    * RETRAINED ones (same member set — isolates the centroid
    * movement), the members that change cluster, and the members the
    * retrain's SemDeDup re-screen evicts (keyed by their retrained
    * cluster). The readout behind the q378 trigger's price: what a
    * refreeze actually buys in assignment tightness, and what it
    * costs in re-curation. Scale shape: two broadcast-centroid
    * assignments over the store members + |clusters|-row aggregates;
    * the Lloyd retrain itself is the q351 training path (k seed
    * vectors to the driver once, then map-side partial means). */
  private def qRetrainRefreeze(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val store1 = absorbPipelineDay(store0, pipelineDeltaDay(store0, dayDocs))
    // round-17 (guide §2.6): the retrain is independent of the frozen
    // assignment pass — overlap them (vecs checkpoints first: both
    // passes read it)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rF = Future { retrainPipelineStore(s, store1) }
    val vecs = store1.quant
      .join(store1.docs.select(col("doc_id").as("id")), Seq("id"))
      .localCheckpoint() // round-16: read by both assignment passes
    val fa = IvfIndex.assignPortableInlinedWithDist(vecs, store1.cents)
      .localCheckpoint()
    val r = Await.result(rF, Duration.Inf)
    val ra = IvfIndex.assignPortableInlinedWithDist(vecs, r.cents)
      .localCheckpoint()
    val fAgg = fa.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_f"), sum(col("d2")).as("s_f"))
    val rAgg = ra.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_r"), sum(col("d2")).as("s_r"))
    val moved = fa.select(col("id"), col("cluster_id").as("fc"))
      .join(ra.select(col("id"), col("cluster_id").as("rc")), Seq("id"))
      .filter(col("fc") =!= col("rc"))
      .groupBy(col("fc").as("cluster_id"))
      .agg(count(lit(1)).as("n_re"))
    val drops = ra.join(r.docs.select(col("doc_id").as("id")),
        Seq("id"), "left_anti")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_drop"))
    store1.cents.select("cluster_id")
      .join(fAgg, Seq("cluster_id"), "left")
      .join(rAgg, Seq("cluster_id"), "left")
      .join(moved, Seq("cluster_id"), "left")
      .join(drops, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_f"), lit(0L)).as("n_frozen"),
        expr("coalesce(s_f, 0L) div greatest(coalesce(n_f, 0L), 1L)")
          .as("mean_d2_frozen"),
        coalesce(col("n_r"), lit(0L)).as("n_retrained"),
        expr("coalesce(s_r, 0L) div greatest(coalesce(n_r, 0L), 1L)")
          .as("mean_d2_retrained"),
        coalesce(col("n_re"), lit(0L)).as("n_reassigned"),
        coalesce(col("n_drop"), lit(0L)).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Round-16 (q390): what a RETRAIN does to SERVING — the q380
    * search replayed under both geometries. The same eval-set probes
    * (every 20th vector, the q176 convention) run IVF top-5 at
    * nProbe = 2 twice: against the absorbed store's members under the
    * FROZEN centroids, and against the retrained store's re-assigned
    * (and re-screened) members under the RETRAINED ones. Per probe:
    * the top-5 overlap count and both top-1 ids — the end-to-end
    * answer to "does the refreeze change what users see", the third
    * panel of the q385 readout (assignment tightness, re-curation
    * cost, serving drift). Plan shape: the q380 search twice (probe
    * side broadcast after a broadcast-centroid nProbe ranking;
    * corpus-sized lists never move) + one k-bounded overlap join on
    * (probe, neighbor). */
  private def qRetrainServing(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val store1 = absorbPipelineDay(store0, pipelineDeltaDay(store0, dayDocs))
    // round-17 (guide §2.6): retrain ∥ the frozen-geometry search —
    // r is only needed for the retrained arm below
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rF = Future { retrainPipelineStore(s, store1) }
    val probes0 = evalProbes(store1.quant).localCheckpoint()
    val f5 = ivfTop5(probes0, store1.members, store1.cents).localCheckpoint()
    val r = Await.result(rF, Duration.Inf)
    val r5 = ivfTop5(probes0, r.members, r.cents).localCheckpoint()
    val ov = f5.select("query_id", "neighbor_id")
      .join(r5.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    val t1f = f5.filter(col("rank") === 1L)
      .select(col("query_id"), col("neighbor_id").as("t1f"))
    val t1r = r5.filter(col("rank") === 1L)
      .select(col("query_id"), col("neighbor_id").as("t1r"))
    probes0.select(col("qid").as("query_id"))
      .join(ov, Seq("query_id"), "left")
      .join(t1f, Seq("query_id"), "left")
      .join(t1r, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("t1f"), lit(-1L)).as("top1_frozen"),
        coalesce(col("t1r"), lit(-1L)).as("top1_retrained"),
        coalesce(col("t1f") === col("t1r"), lit(false))
          .as("top1_same"))
      .orderBy("query_id")
  }

  /** Round-16 (q392): the nightly loop CONTINUING THROUGH a refreeze
    * — q385/q390 price what a retrain changes about the store and its
    * serving; this runs the loop's NEXT NIGHT under the new freeze.
    * Day 0 builds the store, day 1 absorbs, the q378 boundary fires
    * the retrain ([[retrainPipelineStore]]), and day 2 then flows
    * through [[pipelineDeltaDay]] TWICE: once against the grown store
    * under the OLD freeze (the q373 counterfactual) and once against
    * the RETRAINED store — new centroids block the semantic stage,
    * the refrozen vocabulary re-tokenizes the packing, the re-screen's
    * evictions re-open exact/near doors their victims had closed
    * (an evicted keeper no longer blocks tonight's duplicate of it).
    * Output: day-2's dispositions and pack addresses under both
    * freezes, joined per doc with a `changed` flag — the end-to-end
    * answer to "what does flipping the freeze change about tomorrow's
    * curation". The gate and contamination stages are text-only /
    * frozen-flag stages, so `short`/`contaminated` are invariant
    * between the arms (spec-pinned, Round16Spec). Scale shape: the
    * q373 chain + the q385 retrain + one extra delta-day DAG — every
    * cross join is still delta × store-members within a cluster, and
    * the carry both arms pack against is the SAME merged artifact
    * (retrain retains pack history: shipped sequences are physical).
    */
  private def qRefreezeLoop(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, day2)) = pipelineDays(s, dir, 2, 3)
    val store1 = absorbPipelineDay(store0, pipelineDeltaDay(store0, docs1))
    // round-17 (guide §2.6): the FROZEN arm's delta day is independent
    // of the retrain — run it concurrently with retrain+refrozen arm
    // (each arm materializes exactly its sequential frames)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fF = Future {
      pipelineDeltaDay(store1, day2).ledger
        .select(col("doc_id"), col("disposition").as("disp_frozen"),
          col("seq_id").as("seq_frozen"),
          col("seq_offset").as("off_frozen"))
    }
    val gF = Future {
      val r = retrainPipelineStore(s, store1)
      pipelineDeltaDay(r, day2).ledger
        .select(col("doc_id"), col("disposition").as("disp_refrozen"),
          col("seq_id").as("seq_refrozen"),
          col("seq_offset").as("off_refrozen"))
    }
    val f = Await.result(fF, Duration.Inf)
    val g = Await.result(gF, Duration.Inf)
    f.join(g, Seq("doc_id"))
      .select(col("doc_id"), col("disp_frozen"), col("disp_refrozen"),
        (col("disp_frozen") =!= col("disp_refrozen")).as("changed"),
        col("seq_frozen"), col("off_frozen"),
        col("seq_refrozen"), col("off_refrozen"))
      .orderBy("doc_id")
  }

  /** Round-16 (q393): the REFREEZE REPACK BILL — the loader-side
    * price of the vocabulary refreeze, per source. A retrain never
    * rewrites shipped sequences (the q379/q385 stance), but it
    * changes how every FUTURE day tokenizes and packs: day 2's kept
    * docs under the old vocab vs the refrozen one differ in which
    * docs survive (the q392 disposition drift), in token counts (the
    * q381/q389 drift classes, now priced at pack granularity), and so
    * in how many new 256-token sequences the night appends to each
    * source's manifest. Output per source: kept-doc counts, packed
    * token totals, distinct new sequence counts under both freezes,
    * and the token delta — the number a capacity planner adds to the
    * q386/q391 migration bills when deciding WHEN to flip a freeze.
    * Same DAG as q392 (chain + retrain + two delta days); the
    * readout is three |sources|-row aggregates. */
  private def qRefreezeRepack(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, day2)) = pipelineDays(s, dir, 2, 3)
    val store1 = absorbPipelineDay(store0, pipelineDeltaDay(store0, docs1))
    def agg(p: DataFrame, tag: String): DataFrame =
      p.groupBy("source").agg(
        count(lit(1)).as(s"nd_$tag"),
        sum(col("len")).as(s"tk_$tag"),
        countDistinct(col("seq_id")).as(s"ns_$tag"))
    // round-17 (guide §2.6): frozen arm ∥ retrain+refrozen arm — the
    // same overlap as qRefreezeLoop
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val faF = Future { agg(pipelineDeltaDay(store1, day2).packed, "f") }
    val gaF = Future {
      agg(pipelineDeltaDay(retrainPipelineStore(s, store1), day2)
        .packed, "g")
    }
    val fa = Await.result(faF, Duration.Inf)
    val ga = Await.result(gaF, Duration.Inf)
    day2.select("source").distinct()
      .join(fa, Seq("source"), "left")
      .join(ga, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("nd_f"), lit(0L)).as("n_docs_frozen"),
        coalesce(col("nd_g"), lit(0L)).as("n_docs_refrozen"),
        coalesce(col("tk_f"), lit(0L)).as("tok_frozen"),
        coalesce(col("tk_g"), lit(0L)).as("tok_refrozen"),
        (coalesce(col("tk_g"), lit(0L)) -
          coalesce(col("tk_f"), lit(0L))).as("tok_delta"),
        coalesce(col("ns_f"), lit(0L)).as("n_seqs_frozen"),
        coalesce(col("ns_g"), lit(0L)).as("n_seqs_refrozen"))
      .orderBy("source")
  }

  /** The loader-manifest columns of packed sequences on the ring
    * placement `shardCol`: the 1-based read rank in (source, seq_id)
    * order within the shard and the token offset where the sequence
    * starts, suffixed `_<suffix>`. */
  private def manifest(shardCol: String, suffix: String): Seq[Column] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy("source", "seq_id")
    Seq(row_number().over(w).cast("long").as(s"seq_rank_$suffix"),
      coalesce(sum(col("n_tokens")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)), lit(0L)).as(s"token_offset_$suffix"))
  }

  /** Round-16 (q386): RING-CHANGE manifest migration — q379 pins the
    * manifest under a DATA delta; this pins it under a FLEET change.
    * The packed sequences are placed on the loader ring BEFORE
    * (16 shards, the q376 geometry — the before-side columns are
    * bit-equal to q376's manifest, spec-pinned) and AFTER growing to
    * 20 shards (the q358 reshard), both in ONE map-only pass (two
    * native ring lookups per row, no join); per sequence the manifest
    * contract on each ring — shard, read rank, resume token offset —
    * plus `moved` (primary changed: bytes must transfer) and
    * `invalidated` (a loader resuming by (shard, token_offset) must
    * re-download: it moved, or sequences leaving its shard shifted
    * its offset). SUM(n_tokens WHERE invalidated) is the reshard's
    * re-download bill in tokens — the number a migration planner
    * multiplies by bytes-per-token; SCALE.md carries it. */
  private def qRingMigration(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val seqs = st.packed.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"))
      .withColumn("k", org.apache.spark.sql.graft.CharFoldHash
        .column(concat(col("source"), lit(":"), col("seq_id"))))
    val both = operators.HashRing.assign(
      operators.HashRing.assign(seqs, "k", nShards = 16,
        vnodesPerShard = 32, shardCol = "shard_before"),
      "k", nShards = 20, vnodesPerShard = 32, shardCol = "shard_after")
    both
      .select(Seq(col("shard_before"), col("shard_after"),
        col("source"), col("seq_id"), col("n_docs"),
        col("n_tokens")) ++
        manifest("shard_before", "before") ++
        manifest("shard_after", "after"): _*)
      .withColumn("moved", col("shard_before") =!= col("shard_after"))
      .withColumn("invalidated", col("moved") ||
        col("token_offset_before") =!= col("token_offset_after"))
      .select("source", "seq_id", "n_docs", "n_tokens",
        "shard_before", "seq_rank_before", "token_offset_before",
        "shard_after", "seq_rank_after", "token_offset_after",
        "moved", "invalidated")
      .orderBy("source", "seq_id")
  }

  /** Round-16 (q391): WEIGHTED fleet-growth migration — the q375
    * capacity-planning A/B (grow the q361 heterogeneous fleet by 64
    * vnodes as ONE big box vs FOUR small ones) replayed at MANIFEST
    * granularity: per scenario and packed sequence, both placements,
    * both resume offsets, and the moved/invalidated verdicts — so the
    * hardware decision is priced in re-downloaded tokens, not just
    * moved keys (q375's number). Same one-pass shape as q386 (two
    * native weighted-ring lookups per row, rings are driver
    * constants); both scenarios share the before ring, so their
    * before columns are identical (spec-pinned), and every moved
    * sequence lands on a NEW shard (the consistent-hashing contract:
    * old shards only lose arcs). */
  private def qWeightedMigration(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val seqs = st.packed.groupBy("source", "seq_id")
      .agg(sum(col("len")).as("n_tokens"))
      .withColumn("k", org.apache.spark.sql.graft.CharFoldHash
        .column(concat(col("source"), lit(":"), col("seq_id"))))
      .localCheckpoint()
    def scen(name: String, after: Seq[Int]): DataFrame =
      operators.HashRing.assignWeighted(
        operators.HashRing.assignWeighted(seqs, "k", q361Capacities,
          "shard_before"), "k", after, "shard_after")
        .select(Seq(lit(name).as("scenario"), col("source"),
          col("seq_id"), col("n_tokens"), col("shard_before"),
          col("shard_after")) ++
          manifest("shard_before", "before") ++
          manifest("shard_after", "after"): _*)
        .withColumn("moved", col("shard_before") =!= col("shard_after"))
        .withColumn("invalidated", col("moved") ||
          col("token_offset_before") =!= col("token_offset_after"))
    scen("one_big", q361Capacities :+ 64)
      .unionByName(scen("four_small",
        q361Capacities ++ Seq(16, 16, 16, 16)))
      .select("scenario", "source", "seq_id", "n_tokens",
        "shard_before", "seq_rank_before", "token_offset_before",
        "shard_after", "seq_rank_after", "token_offset_after",
        "moved", "invalidated")
      .orderBy("scenario", "source", "seq_id")
  }

  /** Round-16 (q387): the K-DAY quota STARVATION audit — the mixing
    * knob's failure mode, surfaced. Three delta days flow through the
    * absorbing loop (q373's machinery, one more day); each day the
    * pending queue (yesterday's backlog first, by the (offered_day,
    * doc_id) FIFO window order) is admitted under HALF the day's
    * per-source pending mass. One row per ever-offered doc:
    * admitted_day (−1 = still backlogged at the horizon), wait_days
    * (admission delay in days; for backlogged docs the age so far),
    * `starved` (re-offered at least once and still pending — the
    * unbounded-backlog signal, budget persistently below offer), and
    * `blocked` (the doc alone exceeds its source's FINAL-day budget —
    * it heads the queue and stalls the whole stratum behind it until
    * budgets grow; documented at the operator,
    * [[operators.Curation.quotaAdmitPrefix]], now measured). The
    * K-day FIFO invariants (admitted_day non-decreasing in priority
    * order, per-day backlog conservation) are scalacheck-pinned in
    * Round16Spec. */
  private def qQuotaStarvation(s: SparkSession, dir: String): DataFrame = {
    val k = 3L
    val (store0, days) = pipelineDays(s, dir, 1, 2, 3)
    var store = store0
    var backlog: DataFrame = null
    var lastAdm: DataFrame = null
    var admitted: Seq[DataFrame] = Seq.empty
    // round-17 (guide §2.6): the absorb and the day's quota admission
    // read disjoint inputs (store ∪ day.kept vs day.packed ∪ backlog)
    // — overlap them; the NEXT day's chain awaits the absorbed store
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    (1L to k).zip(days).foreach { case (d, dayDocs) =>
      val day = pipelineDeltaDay(store, dayDocs)
      val prevStore = store
      val storeF = Future { absorbPipelineDay(prevStore, day) }
      val fresh = dayOffer(day, d)
      val pending = (if (backlog == null) fresh
        else backlog.unionByName(fresh)).localCheckpoint()
      // the budget column comes back on every row, so the final-day
      // blocked check needs no budget re-join
      val adm = Curation.quotaAdmitHalfPending(pending,
          Seq("offered_day", "doc_id"), "n_tokens", "source")
        .localCheckpoint()
      admitted :+= adm.filter(col("admitted"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("offered_day"), lit(d).as("admitted_day"))
      backlog = adm.filter(!col("admitted"))
        .select("source", "doc_id", "n_tokens", "offered_day")
      if (d == k) lastAdm = adm
      store = Await.result(storeF, Duration.Inf)
    }
    val admAll = admitted.reduce(_ unionByName _)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("offered_day"), col("admitted_day"),
        (col("admitted_day") - col("offered_day")).as("wait_days"),
        lit(false).as("starved"), lit(false).as("blocked"))
    // a backlogged doc's stratum is IN the pending frame (the doc
    // itself pends), so its window budget always exists
    val rest = lastAdm.filter(!col("admitted"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("offered_day"), lit(-1L).as("admitted_day"),
        (lit(k) - col("offered_day")).as("wait_days"),
        (col("offered_day") < k).as("starved"),
        (col("n_tokens") > col("budget")).as("blocked"))
    admAll.unionByName(rest).orderBy("doc_id")
  }

  /** Round-16 (q394): the starvation REMEDY, A/B'd — q387 surfaces
    * the mixing knob's failure mode (budget persistently below offer
    * → the backlog grows without bound); the standard fix is budget
    * CARRYOVER: a source's unspent budget rolls into tomorrow, so a
    * day that under-offers lends its slack to the day the backlog
    * spikes. Same 3-day horizon and half-of-pending base budgets as
    * q387; the chain runs ONCE (admission gates the training mix
    * only — the store absorbs every kept doc regardless of policy),
    * then two pure admission folds replay the offers: `fifo` (q387's
    * policy) and `carryover` (effective budget = base + yesterday's
    * unspent; day 1 is identical by construction — there is nothing
    * to carry). One row per (policy, source): offered/admitted/
    * backlog/starved/blocked counts, admitted token mass, and the
    * total wait (admission delay for admitted docs + age-so-far for
    * the horizon backlog) — the fairness-vs-throughput readout a
    * mixing-policy owner compares before flipping the knob. Scale
    * shape: per day one prefix-sum window + one broadcast
    * |sources|-row budget join per policy; the carryover state is a
    * |sources|-row frame threaded through the K-day driver fold,
    * exactly like the pack carry. */
  private def qQuotaCarryover(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val (store0, days) = pipelineDays(s, dir, 1, 2, 3)
    var store = store0
    var offers: Seq[DataFrame] = Seq.empty
    // round-17 (guide §2.6): absorb ∥ the day's offer checkpoint
    // (disjoint inputs; the next day's chain awaits the store)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to k).zip(days).foreach { case (d, dayDocs) =>
      val day = pipelineDeltaDay(store, dayDocs)
      val prevStore = store
      val storeF = Future { absorbPipelineDay(prevStore, day) }
      offers :+= dayOffer(day, d.toLong).localCheckpoint()
      store = Await.result(storeF, Duration.Inf)
    }
    val spine = offers.reduce(_ unionByName _).groupBy("source")
      .agg(count(lit(1)).as("n_offered")).localCheckpoint()
    def fold(carryover: Boolean, policy: String): DataFrame = {
      var backlog: DataFrame = null
      var unspent: DataFrame = null
      var admitted: Seq[DataFrame] = Seq.empty
      var lastAdm: DataFrame = null
      (1 to k).foreach { d =>
        val fresh = offers(d - 1)
        val pending = (if (backlog == null) fresh
          else backlog.unionByName(fresh)).localCheckpoint()
        // the carryover policy adds yesterday's unspent as the
        // |sources|-row extraBudget frame (missing stratum = +0)
        val adm = Curation.quotaAdmitHalfPending(pending,
            Seq("offered_day", "doc_id"), "n_tokens", "source",
            if (!carryover || unspent == null) None
            else Some(unspent))
          .localCheckpoint()
        admitted :+= adm.filter(col("admitted"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("offered_day"), lit(d.toLong).as("admitted_day"))
        backlog = adm.filter(!col("admitted"))
          .select("source", "doc_id", "n_tokens", "offered_day")
        if (carryover) {
          // the effective budget comes back on every adm row, so the
          // unspent carry is one aggregation over adm (budget is
          // constant per stratum: max reads it back)
          unspent = adm.groupBy("source")
            .agg((max(col("budget")) -
              coalesce(sum(when(col("admitted"), col("n_tokens"))),
                lit(0L))).as("_extra")).localCheckpoint()
        }
        if (d == k) lastAdm = adm
      }
      val admAgg = admitted.reduce(_ unionByName _).groupBy("source")
        .agg(count(lit(1)).as("n_admitted"),
          sum(col("n_tokens")).as("tok_admitted"),
          sum(col("admitted_day") - col("offered_day")).as("_wa"))
      // a backlogged doc's stratum budget is on its own adm row (the
      // doc itself is pending)
      val backAgg = lastAdm.filter(!col("admitted"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_backlog"),
          sum(when(col("offered_day") < k, 1L).otherwise(0L))
            .as("n_starved"),
          sum(when(col("n_tokens") > col("budget"), 1L).otherwise(0L))
            .as("n_blocked"),
          sum(lit(k.toLong) - col("offered_day")).as("_wb"))
      spine
        .join(admAgg, Seq("source"), "left")
        .join(backAgg, Seq("source"), "left")
        .select(lit(policy).as("policy"), col("source"),
          col("n_offered"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("tok_admitted"), lit(0L)).as("tok_admitted"),
          coalesce(col("n_backlog"), lit(0L)).as("n_backlog"),
          coalesce(col("n_starved"), lit(0L)).as("n_starved"),
          coalesce(col("n_blocked"), lit(0L)).as("n_blocked"),
          (coalesce(col("_wa"), lit(0L)) +
            coalesce(col("_wb"), lit(0L))).as("sum_wait"))
    }
    // round-17 (guide §2.6): the two admission folds are pure replays
    // of the same checkpointed offers — run them concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fifoF = Future { fold(carryover = false, "fifo") }
    val carryoverF = Future { fold(carryover = true, "carryover") }
    Await.result(fifoF, Duration.Inf)
      .unionByName(Await.result(carryoverF, Duration.Inf))
      .orderBy("policy", "source")
  }

  /** The store's four mutable artifacts plus the frozen ones, written
    * as parquet directories under `dir` — the persistence layer the
    * absorb loop's SCALE notes assume ("in production the store id
    * sets are bucketed parquet"). docs partition by source (the strata
    * the loop's packing, quotas, and manifests all key on — a cold
    * reader prunes to the stratum it resumes); the remaining artifacts
    * are id-keyed appends at fixture scale (production buckets them by
    * their join key: doc_id for sigs, id for members). */
  private[graft] def persistPipelineStore(st: PipelineStore,
      dir: String): Unit = {
    // source becomes a Hive partition VALUE: an empty string would
    // round-trip as __HIVE_DEFAULT_PARTITION__ → null and silently
    // corrupt every downstream source-keyed join — fail loudly
    // instead (the bounded-guard convention); numeric-looking
    // sources are handled on the read side (explicit schema defeats
    // partition-column type inference)
    require(st.docs.filter(col("source").isNull ||
        col("source") === "").limit(1).count() == 0L,
      "persistPipelineStore: docs carry a null/empty source — not " +
        "representable as a partition value")
    // cluster by the partition key before the write (guide §6): an
    // un-clustered write emits one file per (input split × source) —
    // the many-small-files problem at scale and ~640 commit
    // round-trips at fixture scale; one hash exchange on source
    // yields one file per stratum per non-empty shuffle partition
    // round-17 (guide §2.6): the eight artifact writes are
    // independent jobs over disjoint output directories — submit them
    // concurrently so the commit round-trips overlap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Future {
      st.docs.repartition(col("source"))
        .write.mode("overwrite").partitionBy("source")
        .parquet(s"$dir/docs")
    } +: Seq("members" -> st.members, "cents" -> st.cents,
      "vocab" -> st.vocab, "carry" -> st.carry, "sigs" -> st.sigs,
      "contam" -> st.contamDrop, "texthash" -> st.textHash)
      .map { case (n, df) =>
        Future { df.write.mode("overwrite").parquet(s"$dir/$n") } }
    writes.foreach(Await.result(_, Duration.Inf))
  }

  /** Reload a persisted store COLD (quant re-derived from the
    * embeddings table — it is a projection, not state). */
  private[graft] def loadPipelineStore(s: SparkSession, dir: String,
      quant: DataFrame): PipelineStore = {
    def r(name: String) = s.read.parquet(s"$dir/$name")
    // explicit schema: the partition column must come back as STRING
    // even when every source value looks numeric (inference would
    // re-type it and break source-keyed joins against the oracle)
    val docs = s.read
      .schema("doc_id BIGINT, text STRING, source STRING")
      .parquet(s"$dir/docs")
      .select("doc_id", "text", "source")
    val vocab = r("vocab")
    PipelineStore(
      docs, r("members"),
      r("cents"), vocab, r("carry"), r("sigs"), r("contam"),
      quant, r("texthash"), UnigramSegment.collectPieces(vocab))
  }

  /** Round-16 (q395): the nightly RESTARTED FROM DISK — the loop's
    * artifacts are claimed parquet-persistable in every SCALE note;
    * this makes the claim a gated query. Days 1–2 absorb in memory,
    * the store is then written to parquet ([[persistPipelineStore]]:
    * docs partitioned by source, the artifacts as id-keyed files) and
    * reloaded COLD ([[loadPipelineStore]]), and day 3 runs entirely
    * off the reloaded store. The output is day 3's q368-shaped
    * ledger; the DuckDB oracle replays the horizon WITHOUT any
    * persistence — so the gate pins persistence TRANSPARENCY
    * (schema, types, and content survive the round trip; any
    * corruption hash-mismatches). Store equality and ledger
    * bit-equality are additionally spec-pinned (Round16Spec). Scale
    * shape: unchanged from q373/q387 — the round trip adds one
    * map-only write and one pruned scan per artifact, no shuffle. */
  private def qStoreRestart(s: SparkSession, dir: String): DataFrame = {
    val (store0, Seq(docs1, docs2, docs3)) = pipelineDays(s, dir, 1, 2, 3)
    val store = Seq(docs1, docs2).foldLeft(store0) { (st, dayDocs) =>
      absorbPipelineDay(st, pipelineDeltaDay(st, dayDocs))
    }
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_store_rt").toString
    persistPipelineStore(store, tmp)
    val cold = loadPipelineStore(s, tmp, store.quant)
    pipelineDeltaDay(cold, docs3).ledger.orderBy("doc_id")
  }

  /** Round-16 (q396): the NIGHTLY REPORT — the whole night as one
    * query, with the retrain DECISION actually taken. One delta day
    * (the q370 geometry) flows through the chain and is absorbed;
    * the q378 drift trigger is then evaluated (store-member vs
    * absorbed-day mean-d2 under the frozen centroids, any cluster
    * past 1.25×) and, ONLY if it fires, the q385 retrain runs on the
    * grown store — the one-row decision collect is the nightly
    * coordinator's branch, exactly the bounded driver action a real
    * orchestrator performs. The output is the operator's report: one
    * (metric, value) row per stage — the ledger's disposition counts,
    * sequences touched and tokens packed, the trigger verdict, the
    * retrain's reassignment/eviction counts (zero when frozen), and
    * the night's quota admission (half-of-offer budgets, the q383
    * single-day rule). The DuckDB oracle replays every scalar,
    * selecting the retrain metrics through the same trigger CASE —
    * so the gate pins the DECISION, not just the arms. Scale shape:
    * every scalar is a 1-row aggregate over frames the chain already
    * bounds; the branch collect is 1 row. */
  private def qNightlyReport(s: SparkSession, dir: String): DataFrame =
    nightlyReportFrom(s, dir, dayScale = 1)

  /** Round-16 (q397): the ENCODER-SHIFT night — the q396 report with
    * tonight's vectors arriving at 2× quantized scale (a
    * deterministic domain-shift simulation, the q345 "legacyprefix"
    * convention: the upstream embedding model changed and nobody
    * renormalized). The gate/exact/near stages are text-only and so
    * scale-invariant (spec-pinned); the semantic stage's cosine
    * VERDICT is scale-invariant too, but its cluster BLOCKING is not
    * (2v can sit nearest a different frozen centroid), so the kept
    * set may legitimately drift. The d2 drift trigger fires, and the
    * retrain branch — dead code on the calm q396 night — actually
    * executes: Lloyd re-trains on the mixed-scale corpus and the
    * report's reassignment/eviction rows go non-zero. Together
    * q396/q397 gate both arms of the nightly decision end-to-end. */
  private def qEncoderShiftNight(s: SparkSession, dir: String): DataFrame =
    nightlyReportFrom(s, dir, dayScale = 2)

  /** Round-16 (q398): TWO NIGHTS, DECISION CHAINED — the last arrow
    * of the loop diagram run end-to-end: night 1 is an encoder-shift
    * night (%7=2 vectors ×2) whose q378 trigger FIRES, the q385
    * retrain actually executes, and night 2 (%7=3) then runs against
    * WHICHEVER store the decision produced (here: the refrozen one —
    * new centroids, refrozen vocab, re-screened members, retained
    * carry). q392 ran the continue-after-refreeze arm
    * unconditionally and q396/q397 pinned a single night's decision;
    * this chains decision → retrain → next night in one query. The
    * DuckDB oracle computes the night-1 trigger itself and selects
    * every night-2 metric through a CASE over BOTH candidate stores
    * (frozen and refrozen night-2 chains both replayed), so the gate
    * pins the chained decision, not a hard-coded path. Output: the
    * q396 report per night, night-tagged (night 2's retrain rows are
    * 0 — the horizon ends there; its trigger verdict is still
    * reported). Scale shape: the q392 DAG plus one |clusters|-row
    * trigger aggregate per night and the 1-row decision collect. */
  private def qNightlyLoop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, Seq(docs1, docs2)) = pipelineDays(s, dir, 2, 3)
    val store0 = base.copy(quant =
      scaleDayQuant(base.quant, 2L, 2).localCheckpoint())
    val day1 = pipelineDeltaDay(store0, docs1)
    // round-17 (guide §2.6): the absorb and the drift trigger read
    // disjoint inputs (store0 ∪ day1.kept) — overlap them; night 2
    // needs the absorbed store on BOTH branches here, so the absorb
    // is live work either way (unlike nightlyReportFrom's calm arm)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val store1F = Future { absorbPipelineDay(store0, day1) }
    val fired1 = driftTriggerFired(store0, day1.kept)
    val store1 = Await.result(store1F, Duration.Inf)
    val (store2, re1, ev1) =
      if (!fired1) (store1, 0L, 0L) else retrainWithCounts(s, store1)
    // night 1's report needs nothing from night 2 — collect it
    // concurrently with the whole night-2 chain (§2.6)
    val m1F = Future { nightMetrics(s, day1, fired1, re1, ev1) }
    val day2 = pipelineDeltaDay(store2, docs2)
    val fired2 = driftTriggerFired(store2, day2.kept)
    val m2 = nightMetrics(s, day2, fired2, 0L, 0L)
    (Await.result(m1F, Duration.Inf)
        .map { case (m, v) => (1L, m, v) } ++
      m2.map { case (m, v) => (2L, m, v) })
      .toDF("night", "metric", "value").orderBy("night", "metric")
  }

  /** Tonight's vectors at ×`scale` — the encoder-shift perturbation
    * (q397/q398): day ids (doc_id % 7 == `dayMod`) scale, the store
    * side does not. */
  private def scaleDayQuant(quant: DataFrame, dayMod: Long,
      scale: Int): DataFrame =
    quant.withColumn("q",
      when(col("id") % 7 === dayMod,
        transform(col("q"), x => x * lit(scale.toLong)))
        .otherwise(col("q")))

  /** The q378 drift rule as the nightly's boolean: does ANY cluster of
    * [[absorbDrift]]'s frame flag a retrain. */
  private def driftTriggerFired(st: PipelineStore,
      kept: DataFrame): Boolean =
    absorbDrift(st, kept).filter(col("retrain")).limit(1).count() > 0

  /** Execute the retrain and count what it changed: (retrained store,
    * members whose cluster moved, docs the re-screen evicted). */
  private def retrainWithCounts(s: SparkSession,
      store1: PipelineStore): (PipelineStore, Long, Long) = {
    val r = retrainPipelineStore(s, store1)
    val sV = store1.quant.join(
      store1.docs.select(col("doc_id").as("id")), Seq("id"))
    val fz = IvfIndex.assignPortableInlined(sV, store1.cents)
      .select(col("id"), col("cluster_id").as("fc"))
    val rz = IvfIndex.assignPortableInlined(sV, r.cents)
      .select(col("id"), col("cluster_id").as("rc"))
    // round-16: one driver action for the three counters (the q362
    // scalar-collapse convention — the frames are checkpointed, the
    // aggregates are one-row)
    val row = fz.join(rz, Seq("id")).filter(col("fc") =!= col("rc"))
      .agg(count(lit(1)).as("moved"))
      .crossJoin(store1.docs.agg(count(lit(1)).as("n1")))
      .crossJoin(r.docs.agg(count(lit(1)).as("nr")))
      .head
    (r, row.getLong(0), row.getLong(1) - row.getLong(2))
  }

  /** One night's 15-metric operator report (shared by q396/q397/q398)
    * — every value is a 1-row/≤6-row bounded aggregate over frames
    * the delta chain already bounds. */
  private def nightMetrics(s: SparkSession, day: PipelineDeltaDay,
      fired: Boolean, nReassigned: Long,
      nEvicted: Long): Seq[(String, Long)] = {
    // round-17: half-of-offer budgets ride the admission window (the
    // old shape aggregated budgets separately and broadcast them)
    val adm = Curation.quotaAdmitHalfPending(
      day.packed.select(col("source"), col("doc_id"),
        col("len").as("n_tokens")),
      Seq("doc_id"), "n_tokens", "source")
    // round-16: the whole report is ONE driver action (the q362
    // scalar-collapse convention): disposition counts become
    // conditional sums in a single pass over the ledger, the pack and
    // admission tallies one pass each, cross-joined into one row —
    // the previous shape paid ~9 sequential jobs for the same values
    def dsum(name: String) = coalesce(
      sum(when(col("disposition") === name, 1L).otherwise(0L)), lit(0L))
    val row = day.ledger.agg(count(lit(1)).as("offered"),
        dsum("short").as("g"), dsum("exact_dup").as("e"),
        dsum("near_dup").as("nd"), dsum("semantic_dup").as("sd"),
        dsum("contaminated").as("ct"), dsum("kept").as("k"))
      .crossJoin(day.packed.agg(
        // countDistinct skips null tuples where the old
        // distinct().count() kept them — safe here because packed rows
        // carry non-null (source, seq_id) by construction (source is
        // a non-null input column, seq_id is assigned by the pack
        // fold); advisor-noted contract, asserted at persist time
        countDistinct(col("source"), col("seq_id")).as("seqs"),
        coalesce(sum(col("len")), lit(0L)).as("toks")))
      .crossJoin(adm.agg(
        coalesce(sum(when(col("admitted"), 1L).otherwise(0L)), lit(0L))
          .as("da"),
        coalesce(sum(when(!col("admitted"), 1L).otherwise(0L)), lit(0L))
          .as("db"),
        coalesce(sum(when(col("admitted"), col("n_tokens"))),
          lit(0L)).as("ta")))
      .head
    Seq(
      "offered" -> row.getLong(0),
      "gated_out" -> row.getLong(1), "exact_dup" -> row.getLong(2),
      "near_dup" -> row.getLong(3),
      "semantic_dup" -> row.getLong(4),
      "contaminated" -> row.getLong(5), "kept" -> row.getLong(6),
      "seqs_touched" -> row.getLong(7),
      "tokens_packed" -> row.getLong(8),
      "trigger_fired" -> (if (fired) 1L else 0L),
      "members_reassigned" -> nReassigned,
      "members_evicted" -> nEvicted,
      "docs_admitted" -> row.getLong(9),
      "docs_backlogged" -> row.getLong(10),
      "tokens_admitted" -> row.getLong(11))
  }

  private def nightlyReportFrom(s: SparkSession, dir: String,
      dayScale: Int): DataFrame = {
    import s.implicits._
    val (base, Seq(dayDocs)) = pipelineDays(s, dir, 3)
    val store0 = if (dayScale == 1) base
      else base.copy(quant =
        scaleDayQuant(base.quant, 3L, dayScale).localCheckpoint())
    val day = pipelineDeltaDay(store0, dayDocs)
    // the absorbed store feeds ONLY the retrain arm here: decide
    // first, absorb only when the retrain actually runs
    val fired = driftTriggerFired(store0, day.kept)
    val (nReassigned, nEvicted) =
      if (!fired) (0L, 0L)
      else {
        val store1 = absorbPipelineDay(store0, day)
        val (_, re, ev) = retrainWithCounts(s, store1); (re, ev)
      }
    nightMetrics(s, day, fired, nReassigned, nEvicted)
      .toDF("metric", "value").orderBy("metric")
  }

  /** Round-16 (q388): epoch-order shuffle QUALITY — q382's seeded
    * per-epoch orders are deterministic by construction; this
    * measures whether they actually LOOK shuffled. Per shard:
    * the Spearman footrule machinery between the two epoch orders —
    * Σd² of each sequence's (rank₀ − rank₁) and the integer rho in
    * ppm (1e6 − 6e6·Σd² / n(n²−1); ≈0 for independent orders, 1e6 for
    * identical — identical orders across epochs would mean the seed
    * does nothing) — and the longest same-SOURCE run in each epoch's
    * read order (source-mix clumping: a run of length ≫ 1 means a
    * shard window trains on one source for many consecutive steps).
    * All windows run over |sequences|-row summaries per shard
    * (corpus-size independent, the q376 stance); the rollup is
    * |shards| rows. */
  private def qEpochQuality(s: SparkSession, dir: String): DataFrame = {
    val st = pipelineStages(s, dir)
    val assigned = assignSeqRing(st.packed.groupBy("source", "seq_id")
        .agg(sum(col("len")).as("n_tokens")))
      .withColumn("epoch", explode(typedLit(Seq(0L, 1L))))
      .withColumn("ef", org.apache.spark.sql.graft.CharFoldHash.column(
        concat(lit("epoch:"), col("epoch"), lit(":"), col("source"),
          lit(":"), col("seq_id"))))
      .withColumn("pos", operators.HashRing.mixColumn(col("ef")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "epoch")
      .orderBy("pos", "source", "seq_id")
    val ranked = assigned
      .withColumn("read_rank", row_number().over(w).cast("long"))
      .localCheckpoint()
    // cross-epoch footrule: one |sequences|-row self-join on the
    // sequence identity (its shard is epoch-independent)
    val e0 = ranked.filter(col("epoch") === 0L)
      .select(col("shard"), col("source"), col("seq_id"),
        col("read_rank").as("r0"))
    val e1 = ranked.filter(col("epoch") === 1L)
      .select(col("source"), col("seq_id"), col("read_rank").as("r1"))
    val foot = e0.join(e1, Seq("source", "seq_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"),
        sum((col("r0") - col("r1")) * (col("r0") - col("r1")))
          .as("sum_d2"))
      .select(col("shard"), col("n_seqs"), col("sum_d2"),
        // decimal(38,0) keeps 6e6·Σd² exact (Σd² ≤ n³ overflows the
        // 6e6-scaled long already at n ≈ 115k sequences per shard;
        // ANSI mode would throw) — div on decimals is Spark's
        // IntegralDivide, bit-equal to the oracle's HUGEINT //
        when(col("n_seqs") >= 2, expr(
          """CAST(1000000 - CAST(6000000 AS DECIMAL(38,0)) * sum_d2
            |  DIV (CAST(n_seqs AS DECIMAL(38,0))
            |    * (n_seqs * n_seqs - 1)) AS BIGINT)""".stripMargin))
          .otherwise(lit(-1L)).as("rho_ppm"))
    // longest same-source run per (shard, epoch): gaps-and-islands
    // over the rank order — rank − per-source rank is constant within
    // a consecutive same-source run
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "epoch", "source").orderBy("read_rank")
    val runs = ranked
      .withColumn("grp",
        col("read_rank") - row_number().over(wSrc).cast("long"))
      .groupBy("shard", "epoch", "source", "grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("shard", "epoch").agg(max(col("run_len")).as("max_run"))
    val run0 = runs.filter(col("epoch") === 0L)
      .select(col("shard"), col("max_run").as("max_run_e0"))
    val run1 = runs.filter(col("epoch") === 1L)
      .select(col("shard"), col("max_run").as("max_run_e1"))
    foot.join(run0, Seq("shard")).join(run1, Seq("shard"))
      .select("shard", "n_seqs", "sum_d2", "rho_ppm",
        "max_run_e0", "max_run_e1")
      .orderBy("shard")
  }

  /** Round-16 (q389): the DE-DEGENERATED tokenizer-drift readout —
    * q381's registered output is all-`unchanged` because the fixture
    * corpus has a CLOSED vocabulary across every day split (probed at
    * thresholds 2..200, SCALE.md round 15 "fixture honesty"); the one
    * slice the fixture genuinely differentiates is the COLD-START
    * boundary: the vocabulary frozen at bootstrap, when the store
    * held its FIRST document, vs retrained on the full grown corpus.
    * Same audit, same classes, same oracle machinery as q381 — but
    * two classes carry real mass here (`fewer_pieces` picks up the
    * words the bootstrap vocab could only span char-by-char), so the
    * oracle checks a non-trivial class split end to end. q381 stays
    * registered as the production-shaped day-boundary audit. */
  private def qTokenizerDriftBoot(s: SparkSession,
      dir: String): DataFrame = {
    val gated = pipelineGate(pipelineDocs(s, dir))
    val boot = gated
      .join(gated.agg(min(col("doc_id")).as("doc_id")), Seq("doc_id"))
    tokenizerDriftFrom(s, boot, gated)
  }

  /** Round-15: SEGMENTED CONTINUED packing as a registered query —
    * the over-bound-DELTA path of the daily refresh
    * ([[operators.Curation.packSequencesSegmentedContinued]]):
    * yesterday (even doc_ids) packs with the exact per-stratum fold
    * and leaves each stratum's carry; today (odd ids) packs in 8-doc
    * segments, the FIRST segment of each stratum seeded from the
    * carry (absolute sequence ids), later segments spliced through
    * the per-segment summary window. Same q353/q364 geometry
    * (capacity 2000, segment 8), so the three packing forms are
    * directly comparable on one fixture. */
  private def qPackSegContinued(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("source"))
    val y = docs.filter(col("doc_id") % 2 === 0)
    val d = docs.filter(col("doc_id") % 2 =!= 0)
    val carry = Curation.packCarry(
      Curation.packSequences(y, "doc_id", "n_chars", "source", 2000L),
      "doc_id", "source")
    Curation.packSequencesSegmentedContinued(d, "doc_id", "n_chars",
        "source", capacity = 2000L, segmentRows = 8L, carry)
      .select(col("source"), col("doc_id"), col("len"), col("seq_id"),
        col("seq_offset"))
      .orderBy("source", "doc_id")
  }

  private def qReplicatedReshard(s: SparkSession, dir: String): DataFrame =
    operators.HashRing.replicatedReshardAudit(Tables.documents(s, dir),
      "doc_id", nShards = 16, nShardsAfter = 20, vnodesPerShard = 32,
      replicas = 3)

  /** Round-13: MinHash band-geometry sweep — measured candidate
    * count / recall / precision for every banding (8×1, 4×2, 2×4,
    * 1×8) of ONE k=8 portable signature against the exhaustive
    * 3-gram Jaccard ≥ 1/2 truth set
    * ([[operators.MinHashLSH.bandSweepAudit]]): the empirical
    * S-curve that sizes a MinHash deployment. */
  private def qLshBandSweep(s: SparkSession, dir: String): DataFrame =
    operators.MinHashLSH.bandSweepAudit(Tables.documents(s, dir),
      "doc_id", "text")

  /** Round-14: band-geometry CHOOSER — the q359 sweep folded into the
    * one-row decision a deployment needs (the q208_best_f1
    * convention): among the measured bandings, the max-recall config
    * subject to a 50% precision floor, ties broken toward fewer
    * candidate pairs then more bands. Shares q359's single-signature
    * sweep; the selection is one 4-row sort. */
  private def qBandChooser(s: SparkSession, dir: String): DataFrame =
    operators.MinHashLSH.bandSweepAudit(Tables.documents(s, dir),
        "doc_id", "text")
      .withColumn("qualifies", col("precision_ppm") >= 500000L)
      .orderBy(col("qualifies").desc, col("recall_ppm").desc,
        col("n_candidates").asc, col("bands").desc)
      .limit(1)

  /** Round-14: SemDeDup τ CHOOSER — the q356 sensitivity sweep folded
    * into its decision row: the most AGGRESSIVE τ (max flagged)
    * subject to retaining ≥ 50% of the corpus, ties toward smaller τ.
    * The "pick the threshold before the 100 TB run" step made
    * actionable without a human reading the curve. */
  private def qTauChooser(s: SparkSession, dir: String): DataFrame = {
    // round-17: the sweep already counted the corpus — no second job
    val (sweep, nVecs) = semDedupTauSweepWithCount(s, dir)
    sweep
      .withColumn("kept_ppm", expr(s"n_kept * 1000000L div ${nVecs}L"))
      .withColumn("qualifies", col("kept_ppm") >= 500000L)
      .orderBy(col("qualifies").desc, col("n_flagged").desc,
        expr("tau_num * 1000000L div tau_den").asc)
      .limit(1)
  }

  /** Round-10: t-closeness audit — the anonymity ladder's third rung
    * (after q161 k-anonymity and q169 l-diversity): per
    * (nation, segment) class, the quantized 1-D earth-mover distance
    * between its account-balance-band distribution and the table's,
    * flagged at t = 0.25. Exact integer replay. */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    operators.Privacy.tCloseness(Tables.customer(s, dir),
        Seq("c_nationkey" -> col("c_nationkey"),
          "c_mktsegment" -> col("c_mktsegment")),
        floor(col("c_acctbal") / 2000).cast("long"), tPpm = 250000L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Blocklist screen over the documents table: matched terms
    * (sorted, comma-joined), hit count, flag. Map-only — the list is
    * a literal array, so the corpus never shuffles. */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame =
    operators.Curation.blocklistFlag(Tables.documents(s, dir),
        "doc_id", "text", Seq("dup", "slow", "skew"))
      .orderBy("doc_id")

  /** Hard-negative mining for every 20th vector: top-5 nearest
    * neighbors restricted to a DIFFERENT label (the contrastive
    * negatives a retriever trains against). Brute-force kernel with
    * the label inequality fused into the scan. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val corpus = emb.select(col("vec_id").as("cid"),
      col("embedding").as("cvec"), col("label").as("clabel"))
    operators.Similarity.hardNegatives(s, queries, corpus, k = 5)
      .select("query_id", "rank", "neighbor_id", "neg_label")
      .orderBy("query_id", "rank")
  }

  /** Round-robin interleave of the documents corpus across sources:
    * per-source round number plus the scalable global training-order
    * position (globalRowIds, not a single-partition window). */
  private def qInterleave(s: SparkSession, dir: String): DataFrame =
    operators.Curation.interleaveOrder(
        Tables.documents(s, dir).select("doc_id", "source"),
        "source", "doc_id")
      .select("doc_id", "source", "round", "global_pos")
      .orderBy("global_pos")

  /** NDCG@10 of value-ordered event ranking per user, relevance =
    * purchase events — "does engagement value predict conversion".
    * Ordered-fold DCG (q148 convention) so the doubles are
    * oracle-exact. */
  private def qNdcg(s: SparkSession, dir: String): DataFrame =
    operators.Metrics.ndcgAtK(
        Tables.events(s, dir).withColumn("rel",
          when(col("event_type") === "purchase", 1).otherwise(0)),
        "user_id", "event_id", "value", "rel", k = 10)
      .orderBy("user_id")

  /** Per-priority ROC-AUC of order price as a finished-status
    * classifier — the grouped Mann–Whitney rank-sum with integer tie
    * averaging. */
  private def qRocAuc(s: SparkSession, dir: String): DataFrame =
    operators.Metrics.rocAuc(
        Tables.orders(s, dir).withColumn("is_f",
          col("o_orderstatus") === "F"),
        "o_orderpriority", "o_totalprice", "is_f")
      .orderBy("o_orderpriority")

  /** Reliability-diagram bins of order price as a finished-status
    * classifier: 10 equal-width bins over min-max-normalized price,
    * per-bin accuracy vs confidence (decimal-exact score sums). */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    operators.Metrics.calibrationBins(
        Tables.orders(s, dir).withColumn("is_f",
          col("o_orderstatus") === "F"),
        "o_totalprice", "is_f", bins = 10)
      .orderBy("bin")

  /** Delta-join maintenance: the insert-delta of orders ⋈ lineitem
    * from disjoint base/delta splits — three delta-sized joins, no
    * full recompute. Oracle computes full(∪)⋈full(∪) EXCEPT ALL
    * base⋈base, proving the bag-algebra identity on real data. */
  private def qJoinDelta(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    operators.IncrementalAgg.joinDelta(
        o.filter(col("o_orderkey") % 7 =!= 0),
        o.filter(col("o_orderkey") % 7 === 0),
        l.filter(col("o_orderkey") % 5 =!= 0),
        l.filter(col("o_orderkey") % 5 === 0),
        "o_orderkey")
      .orderBy("o_orderkey", "l_linenumber")
  }

  /** l-diversity audit on the q161 release: a class can clear k = 5
    * yet hold one distinct market value — sensitive attribute here is
    * the account-balance kilobucket, quasi-identifiers coarsened to
    * (nation, segment). */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    operators.Privacy.lDiversity(Tables.customer(s, dir),
        Seq("c_nationkey" -> col("c_nationkey"),
          "c_mktsegment" -> col("c_mktsegment")),
        floor(col("c_acctbal") / 1000).cast("long"), l = 3)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Quantile normalization of event values across event types: each
    * type's distribution maps onto the pooled one by exact integer
    * rank matching — the cross-source feature equalizer. */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    operators.Stats.quantileNormalize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "event_id", "value")
      .select("event_id", "event_type", "value", "norm_value")
      .orderBy("event_id")

  /** GPT-style context packing over the documents corpus: 512-token
    * windows, per-doc window span and boundary-straddle flag — the
    * packing-efficiency audit, off a scalable two-phase prefix scan
    * (no single-partition window). */
  private def qContextPack(s: SparkSession, dir: String): DataFrame =
    operators.Curation.contextPack(Tables.documents(s, dir),
        "doc_id", "text", budget = 512)
      .select("doc_id", "n_tokens", "cum", "start_w", "end_w", "straddles")
      .orderBy("doc_id")

  /** Semantic benchmark decontamination: corpus vectors flagged by
    * max cosine ≥ 0.95 against the held-out eval vectors (every 50th
    * id); map-only broadcast kernel, true max reported. */
  private def qSemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    operators.Similarity.decontaminateByEmbedding(s, corpus, bench, 0.95)
      .orderBy("vec_id")
  }

  /** The composed corpus-curation user story: quality gate (≥ 40
    * tokens) → exact dedup (min-id keeper) → blocklist ('dup') →
    * 512-token context packing, one audit row per input doc with
    * its disposition and (for kept docs) window span. */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame =
    operators.Curation.corpusPipeline(Tables.documents(s, dir),
        "doc_id", "text", minTokens = 40, blocklist = Seq("dup"),
        budget = 512)
      .orderBy("doc_id")

  /** Benford first-digit audit of order prices — the data-quality
    * screen for financial-shaped columns; digit from the
    * integer-string, shares lnp9-quantized. */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    operators.Stats.benford(Tables.orders(s, dir), "o_totalprice")
      .orderBy("digit")

  private def sqliteTable(s: SparkSession, table: String): DataFrame =
    s.read.format("graft.sources.sqlite.SqliteSource")
      .option("path", graft.sources.sqlite.SqliteSource.referenceDbPath)
      .option("table", table).load()

  /** S5 closure: scan the reference's REAL SQLite warehouse
    * (`510FinalProject.db`, Scraper.py:247-251) through the native
    * DSv2 reader and emit a per-table summary — row count, sum of the
    * first integer-affinity column (rowid aliases included), total
    * text length, and the 1/1024-quantized sum of every REAL column.
    * The oracle pins the independently-extracted expected values, so
    * a hash match proves correct ingestion of every table. */
  private def qSqliteScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tables = Seq("emotion_table", "episode_emotion_table",
      "episode_table", "strain_flavor_table", "strain_id_table",
      "strain_medical_table", "strain_neg_table", "strain_pos_table",
      "strain_race_table", "strain_review_table",
      "strain_to_negative_table", "strain_to_positive_table", "test_table")
    tables.map { t =>
      val df = sqliteTable(s, t)
      val longs = df.schema.fields.filter(_.dataType == LongType).map(_.name)
      val texts = df.schema.fields.filter(_.dataType == StringType).map(_.name)
      val reals = df.schema.fields.filter(_.dataType == DoubleType).map(_.name)
      // each per-column sum gets its OWN coalesce: one all-NULL column
      // must not null out (and thereby zero) the whole total
      def sumOf(cs: Seq[Column]): Column =
        if (cs.isEmpty) lit(0L)
        else cs.map(c => coalesce(sum(c), lit(0L))).reduce(_ + _)
      val idSum = sumOf(longs.headOption.map(c => col(c)).toSeq)
      val textLen = sumOf(texts.map(c => length(col(c)).cast("long")))
      val realQ = sumOf(reals.map(c => floor(col(c) * 1024)))
      df.agg(
        count(lit(1)).as("n_rows"),
        idSum.cast("long").as("id_sum"),
        textLen.cast("long").as("text_len"),
        realQ.cast("long").as("real_q"))
        .select(lit(t).as("tbl"), col("n_rows"), col("id_sum"),
          col("text_len"), col("real_q"))
    }.reduce(_ unionAll _).orderBy("tbl")
  }

  /** Row-level ingestion proof: the reference's episode dimension
    * joined to its wide emotion fact INSIDE the engine, emotion scores
    * 1/1024-quantized (floor(x·1024) of the stored double is
    * engine-exact); the oracle carries all 41 expected rows as
    * literals extracted independently of the reader under test. */
  private def qSqliteJoin(s: SparkSession, dir: String): DataFrame =
    sqliteTable(s, "episode_table")
      .join(sqliteTable(s, "episode_emotion_table"), Seq("episode_id"))
      .select(col("episode_id"), col("episode_name"),
        floor(col("happy") * 1024).as("happy_q"),
        floor(col("excited") * 1024).as("excited_q"))
      .orderBy("episode_id")

  /** S6-closure twin of q177/q178: the reference's warehouse is a
    * WRITABLE SQLite db (Scraper.py:261,282,313,382 CREATE/INSERT) —
    * this closes the round trip with the from-scratch
    * [[graft.sources.sqlite.SqliteWriter]]: a bounded customer slice
    * (rowid-alias key, NULL-bearing text, REAL, multi-leaf b-tree with
    * an interior root) plus the nation dim are written to a fresh .db
    * and read back through the SAME DSv2 source that reads the real
    * reference file; the output is the re-read rows themselves, so the
    * oracle (the identical projection straight off parquet) pins
    * value-exact fidelity through encode→page-layout→decode. The
    * collect is bounded by the query contract (custkey ≤ 1000). */
  private def qSqliteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.sqlite.SqliteWriter
    val cust = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment"),
        col("c_acctbal").as("acctbal"))
      .orderBy("c_custkey")
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"))
      .orderBy("n_nationkey")
    val db = java.nio.file.Files.createTempDirectory("graft_sqlite_rt")
      .resolve("rt.db").toString
    SqliteWriter.write(db, Seq(
      SqliteWriter.TableSpec("customer_rt", cust.schema,
        cust.collect().toSeq, rowidAlias = Some(0)),
      SqliteWriter.TableSpec("nation_rt", nat.schema,
        nat.collect().toSeq)))
    def back(t: String) = s.read
      .format("graft.sources.sqlite.SqliteSource")
      .option("path", db).option("table", t).load()
    back("customer_rt")
      .join(back("nation_rt"), col("nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("bal_c"),
        col("segment"), col("acctbal"), col("n_name"))
      .orderBy("c_custkey")
  }

  /** The sharded twin of q339 — the sink's 100 TB shape driven
    * through the gate: [[graft.sources.sqlite.SqliteWriter
    * .writeSharded]] writes one independent .db per partition inside
    * foreachPartition (executor-parallel, no driver collect), the
    * shards are re-read through the DSv2 source and unioned, and the
    * per-nation rollup must equal the parquet replay — a lost shard,
    * a dropped row, or a mis-encoded value breaks the aggregate. */
  private def qSqliteSharded(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.sqlite.SqliteWriter
    val cust = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_sqlite_shard").toString
    SqliteWriter.writeSharded(cust.repartition(4, col("c_custkey")),
      out, "customer_rt", rowidAlias = Some(0))
    val shards = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".db")).map(_.getPath).sorted
    val back = shards.map { p =>
      s.read.format("graft.sources.sqlite.SqliteSource")
        .option("path", p).option("table", "customer_rt").load()
    }.reduce(_.unionByName(_))
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("nationkey"),
        col("n_name"))
    back.join(broadcast(nat), Seq("nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("bal_c")).as("sum_bal_c"),
        sum(when(col("segment").isNull, 1L).otherwise(0L))
          .as("n_null_seg"))
      .orderBy("n_name")
  }

  /** Deterministic raw-URL synthesis for q179 (the StrainApi
    * zero-egress convention: the INPUT is synthesized from the row
    * key so the oracle can derive the same strings; the OPERATOR —
    * canonicalization — is the real thing). Variants exercised:
    * scheme http/https, www prefix, trailing slash, scrambled query
    * param order, utm tracking params, fragments. */
  private def synthUrl(docId: Column, source: Column): Column = {
    val scheme = when(docId % 3 === 0, "https").otherwise("http")
    val www = when(docId % 2 === 0, "www.").otherwise("")
    val trail = when(docId % 11 === 0, "/").otherwise("")
    val a = concat(lit("a="), (docId % 3).cast("string"))
    val b = concat(lit("b="), (docId % 4).cast("string"))
    val params = when(docId % 5 === 0, concat(b, lit("&"), a))
      .otherwise(concat(a, lit("&"), b))
    val tracking = when(docId % 2 === 0, "&utm_source=x").otherwise("")
    val frag = when(docId % 7 === 0, "#frag").otherwise("")
    concat(scheme, lit("://"), www, source, lit(".example.com/a/"),
      (docId % 50).cast("string"), trail, lit("?"), params, tracking, frag)
  }

  /** URL-level dedup over canonical URLs (crawl-pipeline step zero):
    * synthesize messy raw URLs deterministically, canonicalize with
    * [[operators.UrlOps.canonicalize]], group. The oracle replays both
    * halves with the same regex/list primitives. */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame =
    operators.UrlOps.urlDedupGroups(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          synthUrl(col("doc_id"), col("source")).as("url")),
      "doc_id", "url")
      .orderBy("canon_url")

  /** PRF pseudonymization with referential integrity: customers
    * tokenized (raw key DROPPED from the release), orders joined on
    * the original key BEFORE the projection, so the output proves the
    * pseudonym preserves the join while never exposing c_custkey. */
  private def qPseudonymize(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("ck"),
        graft.operators.Privacy.pseudonym(col("c_custkey"), "user_", 7L)
          .as("pseud"))
    Tables.orders(s, dir)
      .join(cust, col("o_custkey") === col("ck"))
      .groupBy("pseud")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
      .orderBy("pseud")
  }

  /** FastText-shaped hashed linear quality scorer — zero-shuffle
    * map-side inference, integer weights (PRF stand-ins; learned
    * weights are a literal swap), DuckDB-exact. */
  private def qLinearScorer(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.linearScore(Tables.documents(s, dir),
        "doc_id", "text", buckets = 64)
      .orderBy("doc_id")

  /** Matryoshka truncation audit: overlap@5 between full-dim and
    * 16-dim brute-force neighborhoods per query vector. */
  private def qMatryoshka(s: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaRecall(Tables.embeddings(s, dir),
        truncDims = 16, k = 5, queryMod = 20)
      .orderBy("query_id")

  /** Deterministic PII injection for q183 (the synthUrl convention:
    * the INPUT is synthesized from the row key so the oracle derives
    * identical strings; the OPERATOR — regex scrub — is the real
    * thing). Roughly a third of docs get an email, a quarter a phone,
    * a fifth an IPv4; moduli overlap so some docs carry all three. */
  private def synthPii(docId: Column, text: Column): Column = {
    val email = when(docId % 3 === 0,
      concat(lit(" mail user"), (docId % 100).cast("string"),
        lit("@box"), (docId % 10).cast("string"), lit(".example.org")))
      .otherwise("")
    val phone = when(docId % 4 === 0,
      concat(lit(" call 555-"),
        lpad((docId % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((docId * 7) % 10000).cast("string"), 4, "0")))
      .otherwise("")
    val ip = when(docId % 5 === 0,
      concat(lit(" from 10."), (docId % 256).cast("string"), lit("."),
        ((docId * 3) % 256).cast("string"), lit("."),
        ((docId * 13) % 256).cast("string")))
      .otherwise("")
    concat(text, email, phone, ip)
  }

  /** Typed PII scrub over deterministically-injected emails/phones/
    * IPs: per-category mask tokens + counts (contrast q55's single
    * digit-run redaction); oracle replays both the synthesis and the
    * three ordered regex passes. */
  private def qPiiTyped(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.piiScrub(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          synthPii(col("doc_id"), col("text")).as("text")),
      "doc_id", "text")
      .orderBy("doc_id")

  /** Fixed-stride token chunking (RAG sharding): 8-token windows
    * every 6 tokens — overlapping context, shorter tail chunk. */
  private def qTokenChunks(s: SparkSession, dir: String): DataFrame =
    operators.Curation.tokenChunks(Tables.documents(s, dir),
        "doc_id", "text", width = 8, stride = 6)
      .orderBy("doc_id", "chunk_id")

  /** Reciprocal-rank fusion of two document rankings — quality logit
    * descending (negated key) ⊕ brevity (n_chars ascending) — in
    * exact integer fixed point. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = operators.TextAnalysis.linearScore(docs, "doc_id", "text",
        buckets = 64)
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    operators.Metrics.rrfFusion(scored, "doc_id",
        -col("logit"), col("n_chars").cast("long"), k = 60)
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
  }

  /** Paragraph-level first-owner dedup: 8-token paragraphs, global
    * first occurrence survives, text rebuilt from survivors. */
  private def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.paragraphDedup(Tables.documents(s, dir),
        "doc_id", "text", paraLen = 8)
      .orderBy("doc_id")

  /** DSIR importance weights: hashed-unigram target-vs-raw ratios
    * (target = source 'src0'), integer fixed point throughout. */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    operators.Curation.dsirWeights(Tables.documents(s, dir),
        "doc_id", "text", col("source") === "src0", buckets = 64)
      .orderBy("doc_id")

  /** Portable-arithmetic hyperplane LSH — the oracle-checked twin of
    * q23 (the q132 convention applied to ANN): fixed-point-quantized
    * vectors, PRF-literal planes, integer dot-product ranking, so the
    * DuckDB oracle replays bucketing AND ranking bit-for-bit. */
  private def qLshOracle(s: SparkSession, dir: String): DataFrame =
    Similarity.lshPortableTopK(Tables.embeddings(s, dir), dims = 64,
        nPlanes = 8, k = 5, queryMod = 20)
      .orderBy("query_id", "rank")

  /** Portable-arithmetic IVF — the oracle-checked twin of q46: integer
    * Lloyd training (2 iterations, k=4, floor-mean updates), integer
    * probed search (nProbe=2, top-5 by integer dot). The DuckDB oracle
    * unrolls both iterations as CTEs (the q102 pattern). */
  private def qIvfOracle(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.quantize16(col("embedding")).as("q"))
    val centroids = IvfIndex.trainPortable(s,
      qv.select(col("vec_id").as("id"), col("q")), k = 4, iters = 2)
    IvfIndex.searchPortable(
      qv.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("q").as("qq")),
      qv.select(col("vec_id").as("cid"), col("q").as("cq")),
      centroids, nProbe = 2, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Precision-recall threshold sweep of the hashed linear scorer's
    * integer logits against a length-based gold label — the curve a
    * quality-filter threshold gets picked from. */
  private def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = operators.TextAnalysis.linearScore(docs, "doc_id", "text",
        buckets = 64)
      .join(docs.select(col("doc_id"), (col("n_chars") >= 400).as("gold")),
        Seq("doc_id"))
    operators.Metrics.prCurve(scored, "logit", "gold")
      .orderBy(col("thr").desc)
  }

  /** Cohen's kappa between two deterministic length raters (char
    * bands vs whitespace-token bands) — the labeling-QA agreement
    * check, exact integer throughout. */
  private def qCohenKappa(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(filter(split(lower(col("text")), " "), w => w =!= ""))
    val rated = Tables.documents(s, dir).select(
      when(col("n_chars") < 250, "short")
        .when(col("n_chars") < 400, "mid").otherwise("long").as("rater_a"),
      when(nToks < 45, "short")
        .when(nToks < 70, "mid").otherwise("long").as("rater_b"))
    operators.Metrics.cohenKappa(rated, "rater_a", "rater_b")
  }

  /** Temperature-scaled (α = 1/2) source sampling: a 150-document
    * budget apportioned by exact largest remainder over isqrt counts,
    * applied in scrambled-key order. */
  private def qAlphaSample(s: SparkSession, dir: String): DataFrame =
    operators.Curation.alphaQuotaSample(Tables.documents(s, dir),
        "doc_id", "source", budget = 150L)
      .select(col("doc_id"), col("source"), col("samp_rank"), col("quota"))
      .orderBy("source", "samp_rank")

  /** Per-document lexical diversity with a low-diversity junk flag
    * (Simpson effective vocabulary ≤ 12 ≈ the old 2.5-nat entropy
    * cut). Round 8: all-integer publication ([[operators.TextAnalysis
    * .tokenDiversity]]) — the entropy value itself stays an
    * engine-API column ([[operators.TextAnalysis.tokenEntropy]])
    * because a double→DECIMAL cast is not driver-hashable (two rounds
    * of failed guard widening, see the operator docblocks). */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.tokenDiversity(Tables.documents(s, dir),
        "doc_id", "text", maxEffVocab = 12)
      .orderBy("doc_id")

  /** Split-leakage audit: q147's lossless near-dup pairs that straddle
    * the per-lang 80/10/10 split — the memorization-hygiene check. */
  private def qSplitLeakage(s: SparkSession, dir: String): DataFrame =
    operators.Curation.splitLeakage(Tables.documents(s, dir),
        "doc_id", "text", strata = Seq("lang"), n = 3,
        thresholdNum = 3, thresholdDen = 5)
      .orderBy("a", "b")

  /** Zone-map data-skipping audit over orders, natural (orderkey)
    * layout vs custkey-clustered layout, same 500-row files and the
    * same custkey-band predicate — the delta is the layout's value. */
  private def qZoneMaps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val natural = operators.ZOrder.zoneMapAudit(
      orders.select(col("o_orderkey").as("k"), col("o_custkey")),
      "k", "o_custkey", rowsPerFile = 500L, lo = 100L, hi = 300L)
      .withColumn("layout", lit("natural"))
    // unique clustered sort key: custkey in the high bits, orderkey low
    val clustered = operators.ZOrder.zoneMapAudit(
      orders.select((col("o_custkey") * 1000000000L + col("o_orderkey"))
        .as("k"), col("o_custkey")),
      "k", "o_custkey", rowsPerFile = 500L, lo = 100L, hi = 300L)
      .withColumn("layout", lit("clustered"))
    natural.unionByName(clustered).orderBy("layout", "file_id")
  }

  /** Stratified 5-fold cross-validation assignment over (lang)
    * strata, deterministic scrambled-key round-robin. */
  private def qStratifiedKfold(s: SparkSession, dir: String): DataFrame =
    operators.Curation.stratifiedKFold(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", Seq("lang"), k = 5)
      .orderBy("doc_id")

  /** Bradley–Terry nation strengths from monthly revenue head-to-head
    * contests (2 integer MM iterations, the q102 unrolled-oracle
    * pattern): which nations consistently out-sell which. */
  private def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val contests = rev.as("x").join(rev.as("y"),
        col("x.m") === col("y.m") && col("x.nk") < col("y.nk"))
      .select(
        when(col("x.rev") > col("y.rev"), col("x.nk"))
          .when(col("y.rev") > col("x.rev"), col("y.nk"))
          .otherwise(least(col("x.nk"), col("y.nk"))).as("winner"),
        when(col("x.rev") > col("y.rev"), col("y.nk"))
          .when(col("y.rev") > col("x.rev"), col("x.nk"))
          .otherwise(greatest(col("x.nk"), col("y.nk"))).as("loser"))
    operators.BradleyTerry.strengths(contests, "winner", "loser", iters = 2)
      .withColumnRenamed("player", "nationkey")
      .orderBy(col("p").desc, col("nationkey"))
  }

  /** Top-40 PMI collocations over the corpus (min pair count 5) —
    * multi-word-expression mining for tokenizer/phrase decisions. */
  private def qPmiCollocations(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.pmiCollocations(Tables.documents(s, dir),
      "doc_id", "text", minCount = 5, topK = 40)

  /** Good–Turing unseen-vocabulary mass per source (hapax counts,
    * exact ppm) — the open-vocabulary / diversity signal. */
  private def qHapaxMass(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.hapaxMass(Tables.documents(s, dir),
        "doc_id", "text", "source")
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** Markov next-event top-1 accuracy on held-out users (user % 5 = 0)
    * — the sequence-model baseline eval with a disjoint train split. */
  private def qMarkovEval(s: SparkSession, dir: String): DataFrame =
    operators.Metrics.markovNextEventEval(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id")
      .orderBy("event_type")

  /** Label-propagation communities over the k-NN-sparsified trade
    * graph (top-3 out-edges per nation by volume, 2 synchronous
    * rounds, ties to smallest label). */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("w").desc, col("dst").asc)
    val sparse = tradeEdges(s, dir)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select("src", "dst")
    operators.LabelProp.run(sparse, iters = 2)
      .select(col("node").as("nationkey"), col("label").as("community"))
      .orderBy("nationkey")
  }

  /** Round-8: Newman modularity of the q199 communities over the same
    * sparsified trade graph — exact-integer per-community q_num/q_den
    * (Q = Σ q_num / q_den), the "did the clustering cut the graph
    * well" audit. */
  private def qModularity(s: SparkSession, dir: String): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("w").desc, col("dst").asc)
    val sparse = tradeEdges(s, dir)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select("src", "dst")
    operators.LabelProp.modularity(sparse,
        operators.LabelProp.run(sparse, iters = 2))
      .orderBy("community")
  }

  /** Poisson-bootstrap replicate means of the order value (B = 32,
    * PRF weights) — the one-pass distributed bootstrap. */
  private def qBootstrapMeans(s: SparkSession, dir: String): DataFrame =
    operators.Stats.bootstrapMeans(Tables.orders(s, dir),
        "o_orderkey", "o_totalprice", b = 32, seed = 20240813L)
      .orderBy("b")

  /** Welch's t-test: urgent vs low-priority order values — the A/B
    * significance readout as one exact-moment aggregation. */
  private def qWelchTtest(s: SparkSession, dir: String): DataFrame =
    operators.Metrics.welchTTest(
      Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_orderpriority") === "1-URGENT").as("arm"),
          col("o_totalprice")),
      "arm", "o_totalprice")

  /** Content-defined chunking (rolling-hash boundaries, ~8-token
    * chunks) — the insertion-resilient chunking fixed-stride q184
    * cannot give. */
  private def qContentChunks(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.contentChunks(Tables.documents(s, dir),
        "doc_id", "text", window = 4, avgLen = 8)
      .orderBy("doc_id", "chunk_id")

  /** Reciprocal nearest-neighbor pairs within the eval vector subset
    * — the hub-resistant semantic-dedup/bitext pairing criterion. */
  private def qMutualNn(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopOne(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding")
      .select(col("a"), col("b"))
      .orderBy("a")

  /** Heaps-law vocabulary-growth curve in doc_id order — is the
    * corpus still discovering types, or saturated? */
  private def qVocabGrowth(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.vocabGrowth(Tables.documents(s, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Top-30 burstiest tokens (exact integer VMR, df ≥ 5) — topical/
    * template terms vs Poisson-scattered glue. */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.burstiness(Tables.documents(s, dir),
      "doc_id", "text", minDf = 5, topK = 30)

  /** Top-30 trending tokens between the old and recent corpus halves
    * — names the vocabulary behind a drift alarm. */
  private def qTrendingTokens(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.trendingTokens(Tables.documents(s, dir),
      "doc_id", "text", minNew = 5, topK = 30)

  /** kNN-distance embedding outliers (5th-NN cosine < 0.35) over the
    * eval vector subset — surfacing junk/novel vectors. */
  private def qKnnOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.knnOutliers(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, maxSim = 0.35)
      .orderBy("query_id")

  /** The q188 sweep's argmax-F1 operating point — the one-row answer
    * "set the filter threshold here". */
  private def qBestF1(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = operators.TextAnalysis.linearScore(docs, "doc_id", "text",
        buckets = 64)
      .join(docs.select(col("doc_id"), (col("n_chars") >= 400).as("gold")),
        Seq("doc_id"))
    operators.Metrics.bestF1Threshold(scored, "logit", "gold")
  }

  /** Per-stage dedup mass ledger: raw → exact → paragraph, docs and
    * tokens surviving each stage. */
  private def qDedupImpact(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.dedupImpact(Tables.documents(s, dir),
      "doc_id", "text", paraLen = 8)

  // ------------------------------------------------------------ registration

  /** One registered query: its driver-contract name, its builder, and the
    * DuckDB oracle SQL the driver hash-compares the builder's result with
    * (the same parquet tables, registered under their bare names). */
  final case class Query(name: String,
      build: (SparkSession, String) => DataFrame, oracleSql: String)

  /** The driver contract, in registration order: each query is named once,
    * next to its builder and its oracle. Lazy, so the oracle strings are
    * built on first use of the contract, not whenever a spec calls an
    * operator helper on this object. */
  private[graft] lazy val registry: Seq[Query] = Seq(
    Query("q01_pricing_summary", qPricingSummary, OracleSql.q01),
    Query("q02_topk_nested_limit", qTopkNestedLimit, OracleSql.q02),
    Query("q03_dim_join_agg", qDimJoinAgg, OracleSql.q03),
    Query("q04_parts_no_lineitem", qPartsNoLineitem, OracleSql.q04),
    Query("q05_big_order_customers", qBigOrderCustomers, OracleSql.q05),
    Query("q06_top2_per_brand", qTop2PerBrand, OracleSql.q06),
    Query("q07_unpivot_emotions", qUnpivotEmotions, OracleSql.q07),
    Query("q08_match_reverse", qMatchReverse, OracleSql.q08),
    Query("q09_greedy_match", qGreedyMatch, OracleSql.q09),
    Query("q10_slug_normalize", qSlugNormalize, OracleSql.q10),
    Query("q11_bridge_explode", qBridgeExplode, OracleSql.q11),
    Query("q12_mean_emotion_vector", qMeanEmotionVector, OracleSql.q12),
    Query("q13_events_enriched", qEventsEnriched, OracleSql.q13),
    Query("q14_user_sessions", qUserSessions, OracleSql.q14),
    Query("q15_dedup_exact", qDedupExact, OracleSql.q15),
    Query("q16_token_stats", qTokenStats, OracleSql.q16),
    Query("q17_quality_score", qQualityScore, OracleSql.q17),
    Query("q18_lang_id", qLangId, OracleSql.q18),
    Query("q19_ngram_sim_pairs", qNgramSimPairs, OracleSql.q19),
    Query("q20_media_meta", qMediaMeta, OracleSql.q20),
    Query("q21_stream_daily", qStreamDaily, OracleSql.q21),
    Query("q22_ann_brute", qAnnBrute, OracleSql.q22),
    // round-7 promotion: q23/q24/q25/q46 primaries are now the
    // portable constructions, so they share their twins' oracle SQL
    // verbatim (q175/q132/q133/q176) and graduate from rows-only to
    // fully hash-checked.
    Query("q23_ann_lsh", qAnnLsh, OracleSql.q175),
    Query("q24_minhash_near_dups", qMinhashNearDups, OracleSql.q132),
    Query("q25_simhash_pairs", qSimhashPairs, OracleSql.q133),
    Query("q26_fingerprint", qFingerprint, OracleSql.q26),
    Query("q27_upsert_suppliers", qUpsertSuppliers, OracleSql.q27),
    Query("q28_emotion_scores", qEmotionScores, OracleSql.q28),
    Query("q29_text_match_pipeline", qTextMatchPipeline, OracleSql.q29),
    Query("q30_json_bridge", qJsonBridge, OracleSql.q30),
    Query("q31_salted_agg", qSaltedAgg, OracleSql.q31),
    Query("q32_embedding_dedup", qEmbeddingDedup, OracleSql.q32),
    Query("q33_episode_lookup", qEpisodeLookup, OracleSql.q33),
    Query("q34_strain_lookup", qStrainLookup, OracleSql.q34),
    Query("q35_label_centroids", qLabelCentroids, OracleSql.q35),
    Query("q36_session_windows", qSessionWindows, OracleSql.q36),
    Query("q37_frame_sample", qFrameSample, OracleSql.q37),
    Query("q38_asof_purchase", qAsofPurchase, OracleSql.q38),
    Query("q39_rollup_revenue", qRollupRevenue, OracleSql.q39),
    Query("q40_running_revenue", qRunningRevenue, OracleSql.q40),
    Query("q41_percentiles", qPercentiles, OracleSql.q41),
    Query("q42_dedup_normalized", qDedupNormalized, OracleSql.q42),
    Query("q43_hourly_profile", qHourlyProfile, OracleSql.q43),
    Query("q44_name_similarity", qNameSimilarity, OracleSql.q44),
    Query("q45_pivot_lang_counts", qPivotLangCounts, OracleSql.q45),
    // round-7 promotion (see q23): shares q176's oracle
    Query("q46_ivf_ann", qIvfAnn, OracleSql.q176),
    Query("q47_dup_clusters", qDupClusters, OracleSql.q47),
    Query("q48_salted_join", qSaltedJoin, OracleSql.q48),
    Query("q49_approx_distinct", qApproxDistinct, OracleSql.q49),
    Query("q50_price_bands", qPriceBands, OracleSql.q50),
    Query("q51_events_json_typed", qEventsJsonTyped, OracleSql.q51),
    Query("q52_quality_filter", qQualityFilter, OracleSql.q52),
    Query("q53_cube_counts", qCubeCounts, OracleSql.q53),
    Query("q54_quota_sample", qQuotaSample, OracleSql.q54),
    Query("q55_pii_scrub", qPiiScrub, OracleSql.q55),
    Query("q56_tfidf_top_terms", qTfIdfTopTerms, OracleSql.q56),
    Query("q57_shard_packing", qShardPacking, OracleSql.q57),
    Query("q58_dedup_reps", qDedupReps, OracleSql.q58),
    Query("q59_stream_enrich", qStreamEnrich, OracleSql.q59),
    Query("q60_stream_dedup", qStreamDedup, OracleSql.q60),
    Query("q61_sql_surface", qSqlSurface, OracleSql.q61),
    Query("q62_approx_quantiles", qApproxQuantiles, OracleSql.q62),
    Query("q63_csv_roundtrip", qCsvRoundtrip, OracleSql.q63),
    Query("q64_catalog", qCatalog, OracleSql.q64),
    Query("q65_map_explode", qMapExplode, OracleSql.q65),
    Query("q66_html_extract", qHtmlExtract, OracleSql.q66),
    Query("q67_dsv2_source", qDsv2Source, OracleSql.q67),
    Query("q68_stream_interval_join", qStreamIntervalJoin, OracleSql.q68),
    Query("q69_decontaminate", qDecontaminate, OracleSql.q69),
    // q70 is the native-operator twin of q38: same oracle by design
    Query("q70_asof_native", qAsofNative, OracleSql.q38),
    Query("q71_repetition_signals", qRepetitionSignals, OracleSql.q71),
    Query("q72_mixture_sample", qMixtureSample, OracleSql.q72),
    Query("q73_chunk_windows", qChunkWindows, OracleSql.q73),
    Query("q74_scd2_intervals", qScd2, OracleSql.q74),
    Query("q75_winsorize", qWinsorize, OracleSql.q75),
    Query("q76_zscore", qZscore, OracleSql.q76),
    Query("q77_incremental_dedup", qIncrementalDedup, OracleSql.q77),
    Query("q78_split", qSplit, OracleSql.q78),
    Query("q79_substring_spans", qSubstringSpans, OracleSql.q79),
    Query("q80_unigram_logprob", qUnigramLogprob, OracleSql.q80),
    Query("q81_funnel", qFunnel, OracleSql.q81),
    Query("q82_cohort_retention", qCohortRetention, OracleSql.q82),
    Query("q83_vocab_coverage", qVocabCoverage, OracleSql.q83),
    Query("q84_int8_quant", qInt8Quant, OracleSql.q84),
    Query("q85_bm25", qBm25, OracleSql.q85),
    Query("q86_source_overlap", qSourceOverlap, OracleSql.q86),
    Query("q87_novelty", qNovelty, OracleSql.q87),
    Query("q88_column_stats", qColumnStats, OracleSql.q88),
    Query("q89_equidepth_hist", qEquiDepthHist, OracleSql.q89),
    Query("q90_funnel_latency", qFunnelLatency, OracleSql.q90),
    Query("q91_block_dedup", qBlockDedup, OracleSql.q91),
    Query("q92_semantic_dedup", qSemanticDedup, OracleSql.q92),
    Query("q93_weighted_sample", qWeightedSample, OracleSql.q93),
    Query("q94_global_ids", qGlobalIds, OracleSql.q94),
    Query("q95_heavy_hitters", qHeavyHitters, OracleSql.q95),
    // q96 (round 8): registration swapped to the per-source
    // compressibility rollup so the row oracle-hashes. The raw zlib
    // DEFLATE rows can never hash (DuckDB has no zlib surface, and a
    // reimplementation would pin zlib's match heuristics, not the
    // operator); compressionRatio stays the engine API, Deflater-
    // pinned in ScalaTest. Decision recorded in COVERAGE.md.
    Query("q96_compression_ratio", qCompressionRatio, OracleSql.q96n),
    Query("q97_stream_type_stats", qStreamTypeStats, OracleSql.q97),
    Query("q98_grouped_heavy_hitters", qGroupedHeavyHitters, OracleSql.q98),
    Query("q99_bloom_prune", qBloomPrune, OracleSql.q99),
    Query("q100_span_removal", qSpanRemoval, OracleSql.q100),
    Query("q101_zorder_cells", qZorderCells, OracleSql.q101),
    Query("q102_pagerank", qPageRank, OracleSql.q102),
    Query("q103_cms_verify", qCmsVerify, OracleSql.q103),
    Query("q104_bucketed_join", qBucketedJoin, OracleSql.q104),
    Query("q105_data_quality", qDataQuality, OracleSql.q105),
    Query("q106_cdc_apply", qCdcApply, OracleSql.q106),
    Query("q107_triangle_count", qTriangleCount, OracleSql.q107),
    Query("q108_jaro_winkler", qJaroWinklerPairs, OracleSql.q108),
    Query("q109_bfs_hops", qBfsHops, OracleSql.q109),
    Query("q110_date_spine", qDateSpine, OracleSql.q110),
    Query("q111_trailing_avg", qTrailingAvg, OracleSql.q111),
    Query("q112_lexical_diversity", qLexicalDiversity, OracleSql.q112),
    Query("q113_lang_trigrams", qLangTrigrams, OracleSql.q113),
    Query("q114_grouping_sets", qGroupingSets, OracleSql.q114),
    Query("q115_value_deciles", qValueDeciles, OracleSql.q115),
    Query("q116_snapshot_diff", qSnapshotDiff, OracleSql.q116),
    Query("q117_mad_outliers", qMadOutliers, OracleSql.q117),
    Query("q118_phrase_search", qPhraseSearch, OracleSql.q118),
    Query("q119_concurrent_sessions", qConcurrentSessions, OracleSql.q119),
    Query("q120_skyline", qSkyline, OracleSql.q120),
    Query("q121_incremental_agg", qIncrementalAgg, OracleSql.q121),
    Query("q122_fk_violations", qFkViolations, OracleSql.q122),
    Query("q123_copurchase", qCopurchase, OracleSql.q123),
    Query("q124_rolling_actives", qRollingActives, OracleSql.q124),
    Query("q125_event_paths", qEventPaths, OracleSql.q125),
    Query("q126_anti_entropy", qAntiEntropy, OracleSql.q126),
    Query("q127_sliding_windows", qSlidingWindows, OracleSql.q127),
    Query("q128_jsonl_roundtrip", qJsonlRoundtrip, OracleSql.q128),
    Query("q129_bpe_merges", qBpeMerges, OracleSql.q129),
    // q130 is the streaming twin of q127: same oracle by design
    Query("q130_stream_sliding", qStreamSliding, OracleSql.q127),
    Query("q131_bpe_encode", qBpeEncode, OracleSql.q131),
    Query("q132_minhash_oracle", qMinhashOracle, OracleSql.q132),
    Query("q133_simhash_oracle", qSimhashOracle, OracleSql.q133),
    Query("q134_rfm_segments", qRfmSegments, OracleSql.q134),
    Query("q135_attribution", qAttribution, OracleSql.q135),
    Query("q136_segment_percentiles", qSegmentPercentiles, OracleSql.q136),
    Query("q137_association_rules", qAssociationRules, OracleSql.q137),
    Query("q138_cascade_delete", qCascadeDelete, OracleSql.q138),
    Query("q139_dsv2_sink", qDsv2Sink, OracleSql.q139),
    Query("q140_ship_latency", qShipLatency, OracleSql.q140),
    Query("q141_ltv_cohorts", qLtvCohorts, OracleSql.q141),
    Query("q142_bounce_rate", qBounceRate, OracleSql.q142),
    Query("q143_degree_profile", qDegreeProfile, OracleSql.q143),
    Query("q144_abc_analysis", qAbcAnalysis, OracleSql.q144),
    Query("q145_concentration_hhi", qConcentrationHhi, OracleSql.q145),
    Query("q146_priority_mix", qPriorityMix, OracleSql.q146),
    Query("q147_prefix_jaccard", qPrefixJaccard, OracleSql.q147),
    Query("q148_ewma", qEwma, OracleSql.q148),
    Query("q149_group_mode", qGroupMode, OracleSql.q149),
    Query("q150_regression", qRegression, OracleSql.q150),
    Query("q151_gap_fill", qGapFill, OracleSql.q151),
    Query("q152_perplexity_filter", qPerplexityFilter, OracleSql.q152),
    Query("q153_psi_drift", qPsiDrift, OracleSql.q153),
    Query("q154_kl_source_drift", qKlSourceDrift, OracleSql.q154),
    Query("q155_markov_transitions", qMarkovTransitions, OracleSql.q155),
    Query("q156_kaplan_meier", qKaplanMeier, OracleSql.q156),
    Query("q157_ecdf_transform", qEcdfTransform, OracleSql.q157),
    Query("q158_weighted_median", qWeightedMedian, OracleSql.q158),
    Query("q159_dp_counts", qDpCounts, OracleSql.q159),
    Query("q160_containment", qContainment, OracleSql.q160),
    Query("q161_k_anonymity", qKAnonymity, OracleSql.q161),
    Query("q162_blocklist", qBlocklist, OracleSql.q162),
    Query("q163_hard_negatives", qHardNegatives, OracleSql.q163),
    Query("q164_interleave", qInterleave, OracleSql.q164),
    Query("q165_ndcg", qNdcg, OracleSql.q165),
    Query("q166_roc_auc", qRocAuc, OracleSql.q166),
    Query("q167_calibration", qCalibration, OracleSql.q167),
    Query("q168_join_delta", qJoinDelta, OracleSql.q168),
    Query("q169_l_diversity", qLDiversity, OracleSql.q169),
    Query("q170_quantile_norm", qQuantileNorm, OracleSql.q170),
    Query("q171_context_pack", qContextPack, OracleSql.q171),
    Query("q172_semantic_decontam", qSemanticDecontaminate, OracleSql.q172),
    Query("q173_corpus_pipeline", qCorpusPipeline, OracleSql.q173),
    Query("q174_benford", qBenford, OracleSql.q174),
    Query("q175_lsh_oracle", qLshOracle, OracleSql.q175),
    Query("q176_ivf_oracle", qIvfOracle, OracleSql.q176),
    Query("q177_sqlite_scan", qSqliteScan, OracleSql.q177),
    Query("q178_sqlite_join", qSqliteJoin, OracleSql.q178),
    Query("q179_url_dedup", qUrlDedup, OracleSql.q179),
    Query("q180_pseudonymize", qPseudonymize, OracleSql.q180),
    Query("q181_linear_scorer", qLinearScorer, OracleSql.q181),
    Query("q182_matryoshka", qMatryoshka, OracleSql.q182),
    Query("q183_pii_typed", qPiiTyped, OracleSql.q183),
    Query("q184_token_chunks", qTokenChunks, OracleSql.q184),
    Query("q185_rrf_fusion", qRrfFusion, OracleSql.q185),
    Query("q186_paragraph_dedup", qParagraphDedup, OracleSql.q186),
    Query("q187_dsir_weights", qDsirWeights, OracleSql.q187),
    Query("q188_pr_curve", qPrCurve, OracleSql.q188),
    Query("q189_cohen_kappa", qCohenKappa, OracleSql.q189),
    Query("q190_alpha_sample", qAlphaSample, OracleSql.q190),
    Query("q191_token_entropy", qTokenEntropy, OracleSql.q191),
    Query("q192_split_leakage", qSplitLeakage, OracleSql.q192),
    Query("q193_zone_maps", qZoneMaps, OracleSql.q193),
    Query("q194_stratified_kfold", qStratifiedKfold, OracleSql.q194),
    Query("q195_bradley_terry", qBradleyTerry, OracleSql.q195),
    Query("q196_pmi_collocations", qPmiCollocations, OracleSql.q196),
    Query("q197_hapax_mass", qHapaxMass, OracleSql.q197),
    Query("q198_markov_eval", qMarkovEval, OracleSql.q198),
    Query("q199_label_prop", qLabelProp, OracleSql.q199),
    Query("q200_bootstrap_means", qBootstrapMeans, OracleSql.q200),
    Query("q201_welch_ttest", qWelchTtest, OracleSql.q201),
    Query("q202_content_chunks", qContentChunks, OracleSql.q202),
    Query("q203_mutual_nn", qMutualNn, OracleSql.q203),
    Query("q204_vocab_growth", qVocabGrowth, OracleSql.q204),
    Query("q205_burstiness", qBurstiness, OracleSql.q205),
    Query("q206_trending_tokens", qTrendingTokens, OracleSql.q206),
    Query("q207_knn_outliers", qKnnOutliers, OracleSql.q207),
    Query("q208_best_f1", qBestF1, OracleSql.q208),
    Query("q209_dedup_impact", qDedupImpact, OracleSql.q209),
    // q210 is the watermark-bounded twin of q60: single-batch drive ⇒
    // no state evicts mid-run ⇒ identical result, same oracle.
    Query("q210_stream_wm_dedup", qStreamWmDedup, OracleSql.q60),
    Query("q211_compress_proxy", qCompressProxy, OracleSql.q211),
    Query("q212_canonical_quality", qCanonicalByQuality, OracleSql.q212),
    Query("q213_benchmark_decontam", qBenchmarkDecontam, OracleSql.q213),
    Query("q214_image_pixels", qImagePixels, OracleSql.q214),
    Query("q215_audio_pcm", qAudioPcm, OracleSql.q215),
    Query("q216_gif_frames", qGifFrames, OracleSql.q216),
    Query("q217_audio_frames", qAudioFrames, OracleSql.q217),
    Query("q218_image_dhash", qImageDHash, OracleSql.q218),
    Query("q219_sorted_neighborhood", qSortedNeighborhood, OracleSql.q219),
    Query("q220_script_profile", qScriptProfile, OracleSql.q220),
    Query("q221_modularity", qModularity, OracleSql.q221),
    Query("q222_audio_zcr", qAudioZcr, OracleSql.q222),
    Query("q223_suffix_ranks", qSuffixRanks, OracleSql.q223),
    Query("q224_repeated_spans", qRepeatedSpans, OracleSql.q224),
    Query("q225_record_linkage", qRecordLinkage, OracleSql.q225),
    Query("q226_pq_codes", qPqCodes, OracleSql.q226),
    Query("q227_pq_adc", qPqAdc, OracleSql.q227),
    Query("q228_image_neardup", qImageNearDup, OracleSql.q228),
    Query("q229_coreset", qCoreset, OracleSql.q229),
    Query("q230_jl_audit", qJlAudit, OracleSql.q230),
    Query("q231_luhn_scan", qLuhnScan, OracleSql.q231),
    Query("q232_hilbert_cells", qHilbertCells, OracleSql.q232),
    Query("q233_hll_registers", qHllRegisters, OracleSql.q233),
    Query("q234_confusables", qConfusables, OracleSql.q234),
    Query("q235_padding_audit", qPaddingAudit, OracleSql.q235),
    Query("q236_hits", qHits, OracleSql.q236),
    Query("q237_corpus_report", qCorpusReport, OracleSql.q237),
    Query("q238_ivfadc", qIvfAdc, OracleSql.q238),
    Query("q239_em_fit", qEmFit, OracleSql.q239),
    Query("q240_mined_span_removal", qMinedSpanRemoval, OracleSql.q240),
    Query("q241_png_profiles", qPngProfiles, OracleSql.q241),
    Query("q242_ivfadc_residual", qIvfAdcResidual, OracleSql.q242),
    Query("q243_cm_registers", qCmRegisters, OracleSql.q243),
    Query("q244_seasonal_mase", qSeasonalMase, OracleSql.q244),
    Query("q245_cusum_drift", qCusumDrift, OracleSql.q245),
    Query("q246_bloom_registers", qBloomRegisters, OracleSql.q246),
    Query("q247_bloom_reduce", qBloomReduce, OracleSql.q247),
    Query("q248_kcore", qKCore, OracleSql.q248),
    Query("q249_winnow_fps", qWinnowFps, OracleSql.q249),
    Query("q250_winnow_pairs", qWinnowPairs, OracleSql.q250),
    Query("q251_cm_join_size", qCmJoinSize, OracleSql.q251),
    Query("q252_scd2_runs", qScd2Runs, OracleSql.q252),
    Query("q253_textrank", qTextRank, OracleSql.q253),
    Query("q254_personalized_pr", qPersonalizedPr, OracleSql.q254),
    Query("q255_max_coverage", qMaxCoverage, OracleSql.q255),
    Query("q256_jpeg_pixels", qJpegPixels, OracleSql.q256),
    Query("q257_orc_roundtrip", qOrcRoundtrip, OracleSql.q257),
    Query("q258_loo_encoding", qLooEncoding, OracleSql.q258),
    Query("q259_feature_hash", qFeatureHash, OracleSql.q259),
    Query("q260_bleu_pairs", qBleuPairs, OracleSql.q260),
    Query("q261_sssp", qSssp, OracleSql.q261),
    Query("q262_hyperball", qHyperBall, OracleSql.q262),
    Query("q263_random_walks", qRandomWalks, OracleSql.q263),
    Query("q264_mmr_select", qMmrSelect, OracleSql.q264),
    Query("q265_jpeg_color", qJpegColor, OracleSql.q265),
    Query("q266_er_pipeline", qErPipeline, OracleSql.q266),
    Query("q267_partition_pruning", qPartitionPruning, OracleSql.q267),
    Query("q268_sketch_rollup", qSketchRollup, OracleSql.q268),
    Query("q269_unigram_segment", qUnigramSegment, OracleSql.q269),
    Query("q270_schema_evolution", qSchemaEvolution, OracleSql.q270),
    Query("q271_mv_rewrite", qMvRewrite, OracleSql.q271),
    Query("q272_stream_hll", qStreamHll, OracleSql.q272),
    Query("q273_jpeg_420", qJpeg420, OracleSql.q273),
    Query("q274_chi2_terms", qChi2Terms, OracleSql.q274),
    Query("q275_exact_median", qExactMedian, OracleSql.q275),
    Query("q276_seq_pairs", qSeqPairs, OracleSql.q276),
    Query("q277_fairness_audit", qFairnessAudit, OracleSql.q277),
    Query("q278_harmonic_centrality", qHarmonicCentrality, OracleSql.q278),
    Query("q279_walk_pmi", qWalkPmi, OracleSql.q279),
    Query("q280_dedup_recall", qDedupRecall, OracleSql.q280),
    Query("q281_stream_outer_join", qStreamOuterJoin, OracleSql.q281),
    Query("q282_lagged_xcorr", qLaggedXcorr, OracleSql.q282),
    Query("q283_hll_accuracy", qHllAccuracy, OracleSql.q283),
    Query("q284_cumulative_distinct", qCumulativeDistinct, OracleSql.q284),
    Query("q285_lsh_multiprobe", qLshMultiProbe, OracleSql.q285),
    Query("q286_adc_rerank", qAdcRerank, OracleSql.q286),
    Query("q287_ks_drift", qKsDrift, OracleSql.q287),
    Query("q288_theil_sen", qTheilSen, OracleSql.q288),
    Query("q289_seasonal_anomalies", qSeasonalAnomalies, OracleSql.q289),
    // q290 shares q257's oracle by design: same projection, the
    // container (XML vs ORC) never changes the answer
    Query("q290_xml_roundtrip", qXmlRoundtrip, OracleSql.q257),
    // q291 shares q256's oracle by design: same DC closed form, the
    // scan structure (progressive vs baseline) never changes the
    // reconstruction
    Query("q291_jpeg_progressive", qJpegProgressive, OracleSql.q256),
    Query("q292_stream_full_outer", qStreamFullOuterJoin, OracleSql.q292),
    Query("q293_unigram_em", qUnigramEm, OracleSql.q293),
    Query("q294_pattern_scan", qPatternScan, OracleSql.q294),
    Query("q295_mann_whitney", qMannWhitney, OracleSql.q295),
    Query("q296_audio_resample", qAudioResample, OracleSql.q296),
    Query("q297_backoff_support", qBackoffSupport, OracleSql.q297),
    Query("q298_pca_power", qPcaPower, OracleSql.q298),
    Query("q299_codec_matrix", qCodecMatrix, OracleSql.q299),
    Query("q300_isotonic", qIsotonic, OracleSql.q300),
    Query("q301_jpeg_encode", qJpegEncode, OracleSql.q301),
    Query("q302_kneser_ney", qKnBigrams, OracleSql.q302),
    Query("q303_t_closeness", qTCloseness, OracleSql.q303),
    Query("q304_pitch_autocorr", qPitchAutocorr, OracleSql.q304),
    Query("q305_greedy_segment", qGreedySegment, OracleSql.q305),
    Query("q306_boruvka_msf", qBoruvkaMst, OracleSql.q306),
    Query("q307_bwt_runs", qBwtRuns, OracleSql.q307),
    Query("q308_luby_mis", qLubyMis, OracleSql.q308),
    Query("q309_lsa_topic", qLsaTopic, OracleSql.q309),
    Query("q310_dirichlet_ql", qDirichletQl, OracleSql.q310),
    Query("q311_clustering_coef", qClusteringCoef, OracleSql.q311),
    Query("q312_changepoint", qChangepoint, OracleSql.q312),
    Query("q313_single_link", qSingleLink, OracleSql.q313),
    Query("q314_lz_factors", qLzFactors, OracleSql.q314),
    Query("q315_frequent_pairs", qFrequentPairs, OracleSql.q315),
    Query("q316_soundex_blocks", qSoundexBlocks, OracleSql.q316),
    Query("q317_mann_kendall", qMannKendall, OracleSql.q317),
    Query("q318_apportion", qApportion, OracleSql.q318),
    Query("q319_wht_hash", qWhtHash, OracleSql.q319),
    Query("q320_theta_sets", qThetaSets, OracleSql.q320),
    Query("q321_fm_count", qFmCount, OracleSql.q321),
    Query("q322_cuped", qCuped, OracleSql.q322),
    Query("q323_fd_audit", qFdAudit, OracleSql.q323),
    Query("q324_holt_trend", qHoltTrend, OracleSql.q324),
    Query("q325_truss_profile", qTrussProfile, OracleSql.q325),
    Query("q326_variant_stats", qVariantStats, OracleSql.q326),
    Query("q327_local_supplier_rev", qLocalSupplierRevenue, OracleSql.q327),
    Query("q328_large_orders", qLargeOrders, OracleSql.q328),
    Query("q329_audio_wht_bands", qAudioWhtBands, OracleSql.q329),
    Query("q330_sobel_profile", qSobelProfile, OracleSql.q330),
    Query("q331_item_item_cf", qItemItemCf, OracleSql.q331),
    Query("q332_seq_patterns", qSeqPatterns, OracleSql.q332),
    Query("q333_cheapest_supplier", qCheapestSupplier, OracleSql.q333),
    Query("q334_cust_order_histogram", qCustOrderHistogram, OracleSql.q334),
    Query("q335_rouge_l", qRougeL, OracleSql.q335),
    Query("q336_key_skew", qKeySkew, OracleSql.q336),
    Query("q337_two_proportion", qTwoProportion, OracleSql.q337),
    Query("q338_markov_stationary", qMarkovStationary, OracleSql.q338),
    Query("q339_sqlite_roundtrip", qSqliteRoundtrip, OracleSql.q339),
    Query("q340_cascade_filter", qCascadeFilter, OracleSql.q340),
    Query("q341_cascade_econ", qCascadeEconomics, OracleSql.q341),
    Query("q342_sqlite_sharded", qSqliteSharded, OracleSql.q342),
    Query("q343_cascade_kappa", qCascadeKappa, OracleSql.q343),
    Query("q344_ann_rrf", qAnnRrf, OracleSql.q344),
    Query("q345_snapshot_fp_diff", qSnapshotFpDiff, OracleSql.q345),
    Query("q346_delta_dedup", qDeltaDedup, OracleSql.q346),
    Query("q347_fp_store_merge", qFpStoreMerge, OracleSql.q347),
    Query("q348_sq8_recall", qSq8Recall, OracleSql.q348),
    Query("q349_semdedup_kmeans", qSemDedupKmeans, OracleSql.q349),
    Query("q350_semdedup_groups", qSemDedupGroups, OracleSql.q350),
    Query("q351_ivf_delta_assign", qIvfDeltaAssign, OracleSql.q351),
    Query("q352_centroid_drift", qCentroidDrift, OracleSql.q352),
    Query("q353_pack_sequences", qPackSequences, OracleSql.q353),
    Query("q354_packing_stats", qPackingStats, OracleSql.q354),
    Query("q355_semdedup_sq8", qSemDedupSq8, OracleSql.q355),
    Query("q356_semdedup_tau_sweep", qSemDedupTauSweep, OracleSql.q356),
    Query("q357_hash_ring", qHashRing, OracleSql.q357),
    Query("q358_reshard_movement", qReshardMovement, OracleSql.q358),
    Query("q359_lsh_band_sweep", qLshBandSweep, OracleSql.q359),
    Query("q360_reshard_plan", qReshardPlan, OracleSql.q360),
    Query("q361_weighted_ring", qWeightedRing, OracleSql.q361),
    Query("q362_pipeline_composite", qPipelineComposite, OracleSql.q362),
    Query("q363_ring_replicated", qRingReplicated, OracleSql.q363),
    Query("q364_pack_segmented", qPackSegmented, OracleSql.q364),
    Query("q365_pack_boundary_waste", qPackBoundaryWaste, OracleSql.q365),
    Query("q366_band_chooser", qBandChooser, OracleSql.q366),
    Query("q367_tau_chooser", qTauChooser, OracleSql.q367),
    Query("q368_pipeline_disposition", qPipelineDisposition, OracleSql.q368),
    Query("q369_weighted_replication", qWeightedReplication, OracleSql.q369),
    Query("q370_pipeline_delta", qPipelineDelta, OracleSql.q370),
    Query("q371_shard_manifest", qShardManifest, OracleSql.q371),
    Query("q372_replicated_reshard", qReplicatedReshard, OracleSql.q372),
    Query("q373_pipeline_two_day", qPipelineTwoDay, OracleSql.q373),
    Query("q374_sigstore_cross", qSigStoreCross, OracleSql.q374),
    Query("q375_weighted_reshard", qWeightedReshard, OracleSql.q375),
    Query("q376_loader_manifest", qLoaderManifest, OracleSql.q376),
    Query("q377_pack_seg_continued", qPackSegContinued, OracleSql.q377),
    Query("q378_absorb_drift", qAbsorbDrift, OracleSql.q378),
    Query("q379_manifest_delta", qManifestDelta, OracleSql.q379),
    Query("q380_serving_refresh", qServingRefresh, OracleSql.q380),
    Query("q381_tokenizer_drift", qTokenizerDrift, OracleSql.q381),
    Query("q382_epoch_order", qEpochOrder, OracleSql.q382),
    Query("q383_quota_admit", qQuotaAdmit, OracleSql.q383),
    Query("q384_quota_two_day", qQuotaTwoDay, OracleSql.q384),
    Query("q385_retrain_refreeze", qRetrainRefreeze, OracleSql.q385),
    Query("q386_ring_migration", qRingMigration, OracleSql.q386),
    Query("q387_quota_starvation", qQuotaStarvation, OracleSql.q387),
    Query("q388_epoch_quality", qEpochQuality, OracleSql.q388),
    Query("q389_tokenizer_drift_boot", qTokenizerDriftBoot, OracleSql.q389),
    Query("q390_retrain_serving", qRetrainServing, OracleSql.q390),
    Query("q391_weighted_migration", qWeightedMigration, OracleSql.q391),
    Query("q392_refreeze_loop", qRefreezeLoop, OracleSql.q392),
    Query("q393_refreeze_repack", qRefreezeRepack, OracleSql.q393),
    Query("q394_quota_carryover", qQuotaCarryover, OracleSql.q394),
    Query("q395_store_restart", qStoreRestart, OracleSql.q395),
    Query("q396_nightly_report", qNightlyReport, OracleSql.q396),
    Query("q397_encoder_shift_night", qEncoderShiftNight, OracleSql.q397),
    Query("q398_nightly_loop", qNightlyLoop, OracleSql.q398))

  /** Builders by name, in registration order. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap.from(registry.map(q => q.name -> q.build))

  /** Headline subset timed by Bench. q32/q44/q47 are the round-1
    * perf-weak set (formerly cartesian/driver-collect paths); q70/q77
    * time the round-4 native as-of operator and the incremental-dedup
    * steady-state path. */
  def benchQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_dim_join_agg", "q06_top2_per_brand",
    "q08_match_reverse", "q13_events_enriched", "q14_user_sessions",
    "q16_token_stats", "q19_ngram_sim_pairs", "q22_ann_brute",
    "q24_minhash_near_dups", "q32_embedding_dedup", "q44_name_similarity",
    "q47_dup_clusters", "q70_asof_native", "q77_incremental_dedup",
    "q91_block_dedup", "q92_semantic_dedup", "q95_heavy_hitters",
    "q100_span_removal", "q101_zorder_cells", "q102_pagerank",
    "q104_bucketed_join", "q108_jaro_winkler", "q113_lang_trigrams",
    "q147_prefix_jaccard", "q152_perplexity_filter",
    "q160_containment", "q163_hard_negatives",
    "q129_bpe_merges", "q175_lsh_oracle", "q176_ivf_oracle",
    "q179_url_dedup", "q186_paragraph_dedup", "q187_dsir_weights",
    "q188_pr_curve", "q195_bradley_terry",
    // round 7: the remaining heavy operators, so regressions there
    // are visible (q192 composes the q147 pair join; q202/q204/q209
    // were previously untimed)
    "q192_split_leakage", "q202_content_chunks", "q204_vocab_growth",
    "q209_dedup_impact", "q212_canonical_quality",
    "q213_benchmark_decontam",
    // round 8: the real codec paths — image encode→decode, the GIF
    // LZW multi-frame walk, and decode→dHash→window dedup
    "q214_image_pixels", "q216_gif_frames", "q218_image_dhash",
    // round 8: the suffix-array flagship (q224 runs the full prefix
    // doubling; q223's cost is its prefix, so one timer suffices),
    // plus the two other multi-stage round-8 operators worth watching
    // (SNM's global-ordinal machinery; PQ's two Lloyd rounds)
    "q224_repeated_spans", "q219_sorted_neighborhood", "q226_pq_codes",
    // round 9: the remaining round-8 multi-stage operators (record
    // linkage's blocked join, ADC's LUT join, the two iterative graph
    // kernels) so regressions in those families hit the gate…
    "q225_record_linkage", "q227_pq_adc", "q221_modularity", "q236_hits",
    // …and the round-9 additions: the IVFADC composite, pattern-table
    // EM, the SA→removal pipeline (q224's mining plus the broadcast
    // removal pass), and the mixed-profile codec walk
    "q238_ivfadc", "q239_em_fit", "q240_mined_span_removal",
    "q241_png_profiles", "q242_ivfadc_residual",
    // round-9 session 3: the new iterative/graph and corpus-wide
    // shapes (personalized PR, Bellman-Ford, JPEG decode walk, the
    // hashing-trick groupBy, BLEU's per-n gram joins)
    "q254_personalized_pr", "q256_jpeg_pixels", "q259_feature_hash",
    "q260_bleu_pairs", "q261_sssp",
    // round-9 session 3 (cont.): the sketch-merge graph walk, the PRF
    // walk corpus, the k-round driver loops (max-coverage, MMR, the
    // Viterbi DP), the ER composite, and the color codec path
    "q255_max_coverage", "q262_hyperball", "q263_random_walks",
    "q264_mmr_select", "q265_jpeg_color", "q266_er_pipeline",
    "q269_unigram_segment",
    // round-9 session 3 (close): the MV-rewrite demo (MV build + the
    // redirected rollup), streaming register maintenance, and the
    // subsampled-JPEG walk
    "q271_mv_rewrite", "q272_stream_hll", "q273_jpeg_420",
    // round-9 session 3 (cont.): the double-kernel dedup audit and the
    // IVFADC + exact-rerank serving chain
    "q280_dedup_recall", "q286_adc_rerank",
    // round 10: tripwires for the round-9 families the gate didn't
    // yet time (count-min, k-core peeling, TextRank's iterative
    // walk, partition-pruned layout, histogram-bisection median)…
    "q243_cm_registers", "q248_kcore", "q253_textrank",
    "q267_partition_pruning", "q275_exact_median",
    // …and the round-10 additions: progressive JPEG, the full-outer
    // stream join, the double-DP EM tokenizer, the automaton scan,
    // the 3-join LM support pass, and the gram-matrix PCA
    "q291_jpeg_progressive", "q292_stream_full_outer",
    "q293_unigram_em", "q294_pattern_scan", "q297_backoff_support",
    "q298_pca_power", "q301_jpeg_encode",
    // …and the session-2 additions: the KN smoother (one bigram-type
    // shuffle), the Borůvka MSF + Luby MIS iterators, the BWT run
    // profile (a second full suffix-array build), and the LSA
    // weighted-HITS rounds
    "q302_kneser_ney", "q306_boruvka_msf", "q307_bwt_runs",
    "q308_luby_mis", "q309_lsa_topic",
    // …and the session-3 additions: the MST-cut component resolver
    // on top of a second Borůvka run, the per-doc LZ77 HOF parse
    // (map-only — times the corpus-parallel nested-lambda path), the
    // a-priori pair join, and the decode+WHT spectral hash pass
    "q313_single_link", "q314_lz_factors", "q315_frequent_pairs",
    "q319_wht_hash",
    // round-10 session 4: the sketch set-ops, the FM search stack
    // (exercises SA + BWT + as-of), and the experiment-analysis agg
    "q320_theta_sets", "q321_fm_count", "q322_cuped",
    "q323_fd_audit", "q324_holt_trend", "q325_truss_profile",
    "q326_variant_stats", "q327_local_supplier_rev",
    "q328_large_orders", "q329_audio_wht_bands", "q330_sobel_profile",
    "q331_item_item_cf", "q332_seq_patterns",
    "q333_cheapest_supplier", "q334_cust_order_histogram",
    "q335_rouge_l", "q336_key_skew", "q337_two_proportion",
    "q338_markov_stationary",
    // round 11: the cascade pair (map-only gate + one-agg economics)
    "q340_cascade_filter", "q341_cascade_econ", "q343_cascade_kappa",
    // round 12: the RRF fusion path — the only registered family that
    // was correctness-gated but untimed (round-11 verdict item 1) —
    // and the cross-run incrementality family
    "q344_ann_rrf", "q345_snapshot_fp_diff", "q346_delta_dedup",
    "q347_fp_store_merge", "q348_sq8_recall",
    // round 13: the SemDeDup family (learned-cluster embedding dedup)
    // and the incremental serving-index family (frozen-centroid delta
    // assignment + drift-triggered retrain audit)
    "q349_semdedup_kmeans", "q350_semdedup_groups",
    "q351_ivf_delta_assign", "q352_centroid_drift",
    "q353_pack_sequences", "q354_packing_stats", "q355_semdedup_sq8",
    "q356_semdedup_tau_sweep",
    // round 13, session 2: consistent-hash placement (map-only ring
    // assignment + the reshard-movement number that justifies it) and
    // the MinHash band-geometry sweep (one signature pass, 15 band
    // joins, exhaustive-truth recall/precision per banding)
    "q357_hash_ring", "q358_reshard_movement", "q359_lsh_band_sweep",
    "q360_reshard_plan", "q361_weighted_ring",
    // round 14: the flagship end-to-end pipeline composite, ring
    // replication, segment-packed packing + its boundary-waste
    // ledger, and the sweep-to-decision choosers
    "q362_pipeline_composite", "q363_ring_replicated",
    "q364_pack_segmented", "q365_pack_boundary_waste",
    "q366_band_chooser", "q367_tau_chooser",
    "q368_pipeline_disposition", "q369_weighted_replication",
    "q370_pipeline_delta", "q371_shard_manifest",
    "q372_replicated_reshard",
    // round 15: the K-day absorbing-store loop (the most expensive
    // registered DAG — two store builds' worth of chain), the
    // signature-artifact near-dup path, the weighted-growth copy
    // bill, and the per-sequence loader manifest
    "q373_pipeline_two_day", "q374_sigstore_cross",
    "q375_weighted_reshard", "q376_loader_manifest",
    "q377_pack_seg_continued", "q378_absorb_drift",
    "q379_manifest_delta", "q380_serving_refresh",
    "q381_tokenizer_drift", "q382_epoch_order",
    "q383_quota_admit", "q384_quota_two_day",
    "q385_retrain_refreeze", "q386_ring_migration",
    "q387_quota_starvation", "q388_epoch_quality",
    "q389_tokenizer_drift_boot", "q390_retrain_serving",
    "q391_weighted_migration", "q392_refreeze_loop",
    "q393_refreeze_repack", "q394_quota_carryover",
    "q395_store_restart", "q396_nightly_report",
    "q397_encoder_shift_night", "q398_nightly_loop")

  /** Oracle SQL by query name, in registration order. */
  lazy val oracleSql: Map[String, String] =
    ListMap.from(registry.map(q => q.name -> q.oracleSql))

  /** Throws IllegalArgumentException naming every entry of `names` that
    * is not a registered query. */
  def requireRegistered(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }
}
