package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale document pipelines.
  *
  * The reference's only dedup is the insert-if-absent existence check
  * (Scraper.py:409-412, SURVEY.md P3/J4); these operators generalize it
  * to the forms a 100 TB training-data pipeline needs. All are pure
  * DataFrame transforms:
  *
  *  - exact: hash-groupBy on the key — one shuffle, map-side partial agg.
  *  - n-gram Jaccard: shingle → explode → self-equi-join on shingle →
  *    per-pair overlap counts. The join key is the shingle, so only
  *    documents SHARING a shingle ever meet — no cross join. At 100 TB,
  *    hot shingles are the skew risk: `maxShingleFreq` drops shingles
  *    shared by more than N docs (stop-shingle filtering), the standard
  *    scalable mitigation.
  *  - MinHash-LSH / SimHash: see [[MinHashLSH]] / [[SimHash]].
  */
object Dedup {

  /** Tokenize into lowercase whitespace words. */
  def words(text: Column): Column = split(lower(text), " ")

  /** Distinct word n-gram shingles of `text` (docs with < n words get
    * an empty set). NOTE for hot paths: this single-expression form
    * re-evaluates the token split inside the transform lambda (per
    * element); [[shinglePostings]]/[[shingleSizes]] bind the tokens in
    * a prior projection instead — prefer those. */
  def shingles(text: Column, n: Int): Column = shinglesOf(words(text), n)

  /** As [[shingles]] over an already-bound token-array attribute (see
    * the [[shingleHashArr]] lambda-re-evaluation note). */
  private def shinglesOf(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(ws, i + k + 1)): _*))))

  /** Exact duplicate groups by `key`: (key, dup_count, keeper_id) where
    * keeper is the minimum id — "first write wins", the reference's
    * insert-if-absent semantics made order-deterministic. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(count(lit(1)).as("dup_count"), min(id).as("keeper_id"))

  /** DISTINCT (doc_id, shingle) posting list.
    *
    * Built entirely MAP-SIDE: distinctness here is per-document (the
    * doc_id is part of the key), so `array_distinct` inside the per-row
    * shingle array does the whole job — the corpus-wide `.distinct()`
    * shuffle an earlier shape paid was pure waste (A/B at sf0.1 cut
    * q19 from 3.8 s to ~2 s dropping it, and at 100 TB it removes a
    * full posting-list exchange). */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"),
        explode(shinglesOf(col("w"), n)).as("shingle"))

  /** As [[shinglePostings]] but WITHOUT the distinct — one row per
    * shingle OCCURRENCE. Consumers whose math is multiset-invariant
    * (MinHash: min over a multiset equals min over its set) use this
    * directly and skip the full-corpus distinct shuffle.
    *
    * Built MAP-SIDE: per-row transform/sequence n-gram assembly +
    * explode — zero shuffle. An earlier shape posexploded tokens and
    * reassembled with window `lead`s on the theory that interpreted
    * higher-order functions lose to codegen'd windows; A/B at sf0.1
    * (local[32], best-of-3) says otherwise: 0.29 s map-side vs 0.57 s
    * window — the per-doc hash shuffle + sort of the whole token
    * stream costs more than the lambda overhead, and at 100 TB a
    * token-stream shuffle is exactly the thing to never do. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), explode(
        when(size(col("w")) >= n,
          transform(sequence(lit(0), size(col("w")) - n),
            i => concat_ws(" ", (0 until n).map(k =>
              element_at(col("w"), i + k + 1)): _*)))
          .otherwise(array().cast("array<string>"))).as("shingle"))
  }

  /** Per-doc distinct-shingle counts, computed map-side (`size` of the
    * per-row distinct array — no aggregation shuffle). Docs with no
    * shingles are absent, matching the posting-list-groupBy form. */
  def shingleSizes(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), size(shinglesOf(col("w"), n)).as("n_sh"))
      .filter(col("n_sh") > 0)

  /** Per-row array of DISTINCT 64-bit shingle hashes over an ALREADY
    * BOUND token-array attribute: the (~6n-byte) shingle strings never
    * materialize as rows at all — assembly (element_at concat, the
    * [[shingleRows]] kernel, no per-element `slice` copy), hashing,
    * and per-doc distinct all happen in one map-side expression, and
    * everything downstream touches fixed-width longs only.
    *
    * `w` MUST be a column reference, not the `split(...)` expression:
    * expressions nested inside a `transform` lambda re-evaluate per
    * ELEMENT, so an unbound `words(text)` here would re-split the
    * document once per element_at — measured 6× slower (the
    * shingleRows A/B); callers bind the tokens in a prior projection
    * (CollapseProject leaves multi-referenced aliases alone).
    *
    * Distinctness is on hashes: a WITHIN-doc collision could shrink
    * one doc's shingle count by 1 (P ≈ shingles²/2^65 per doc — the
    * string-form oracle agrees at the test SFs; >10^9-shingle corpora
    * should move to 128-bit). */
  private def shingleHashArr(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - n),
        i => xxhash64(concat_ws(" ",
          (0 until n).map(k => element_at(w, i + k + 1)): _*)))))
      .otherwise(array().cast("array<bigint>"))

  /** Bits reserved for the per-doc shingle count in a packed
    * (doc_id, n_sh) long — doc_id rides the high bits so comparing
    * packed values compares doc ids (n_sh only tie-breaks, and two
    * packed values for the SAME doc are identical). Bounds: n_sh <
    * 2^20 (≈1M distinct shingles ⇒ ~1M-token documents) and
    * doc_id < 2^43; beyond that move n_sh to a join. */
  private val SizeBits = 20

  /** DISTINCT (packed doc_id·n_sh, shingle-hash) postings:
    * [[shinglePostings]] with hashing fused into the row lambda AND
    * the doc's distinct-shingle count carried IN the id long, so
    * downstream pair pipelines compute Jaccard without ever joining
    * back to a per-doc size table — while the bucket collect_list and
    * the pair shuffle stay primitive fixed-width longs (a struct
    * carry was A/B'd and lost: wider buffers, slower struct
    * compares). */
  def hashedPostingsPacked(docs: DataFrame, idCol: String,
                           textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), shingleHashArr(col("w"), n).as("sh"))
      // bind the packed id BEFORE the explode: projection expressions
      // riding next to a generator re-evaluate per OUTPUT row, so an
      // unbound size(sh) here would rebuild the whole shingle array
      // once per posting row (measured 15× slower — the same
      // per-element trap as the lambda note above)
      .select((shiftleft(col("doc_id"), SizeBits) + size(col("sh")))
          .as("packed"), col("sh"))
      .select(col("packed"), explode(col("sh")).as("shingle"))

  private def unpackId(p: Column): Column = shiftright(p, SizeBits)
  private def unpackSize(p: Column): Column =
    p.bitwiseAND(lit((1L << SizeBits) - 1))

  /** All unordered (a, b) pairs from a per-shingle bucket of packed
    * ids: flatten of the upper-triangle nested transform — map-side,
    * no join, primitive longs throughout (packed order = doc order).
    * Bucket size is capped upstream, so the n²/2 expansion is bounded
    * per row. */
  private def bucketPairs(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + 2, size(ds)),
        y => struct(least(x, y).as("a"), greatest(x, y).as("b")))))

  /** As [[bucketPairs]] but over struct(packed, p) entries carrying
    * each token's rank in its doc's rarity order: emits (pa, pb, ia,
    * jb) with ia = the rank in the doc that lands on the `pa` (lower
    * packed id) side — the inputs to the per-pair positional prefix
    * filter. Map-side like its sibling. */
  private def bucketPairsPos(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + 2, size(ds)), { y =>
        val xp = x.getField("packed"); val yp = y.getField("packed")
        val xFirst = xp < yp
        struct(least(xp, yp).as("pa"), greatest(xp, yp).as("pb"),
          when(xFirst, x.getField("p")).otherwise(y.getField("p"))
            .as("ia"),
          when(xFirst, y.getField("p")).otherwise(x.getField("p"))
            .as("jb"))
      })))

  /** Benchmark decontamination (the GPT-3/Pile-style training-data
    * hygiene step): flag every corpus document sharing at least one
    * word n-gram with the evaluation set. Scale shape: the benchmark
    * shingle set is tiny next to the corpus, so it broadcasts and the
    * corpus is flagged by a map-side semi-join on the shingle key —
    * zero corpus shuffle at 100 TB. Output: (doc_id, contaminated). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val benchShingles = shinglePostings(bench, idCol, textCol, n)
      .select("shingle").distinct()
    val flagged = shinglePostings(corpus, idCol, textCol, n)
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col(idCol).as("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Incremental-batch deduplication: flag each NEW document against an
    * EXISTING corpus — the steady-state form of dedup once a pipeline
    * runs continuously (full-corpus pair enumeration is a backfill
    * tool; day N+1 only asks "is this new doc a copy of anything we
    * already kept?").
    *
    * dup_exact: normalized text equality with any corpus doc (hash
    * semi-join — one shuffle of keys). near_dup: n-gram Jaccard ≥
    * `threshold` against any corpus doc, candidates generated by the
    * shared-shingle equi-join (corpus and batch postings meet only on
    * shingle keys — never a cross join), with the same hot-shingle
    * candidate pruning convention as [[ngramJaccardPairs]] (sizes stay
    * pre-prune, so the similarity definition is unchanged).
    *
    * At corpus scale the corpus-side postings are the reusable asset:
    * persist them bucketed by shingle once and every nightly batch
    * joins against them shuffle-free. Output: one row per batch doc —
    * (doc_id, dup_exact, near_dup). */
  def incrementalFlags(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, n: Int, threshold: Double,
                       maxShingleFreq: Int = 0): DataFrame = {
    val normKey = lower(trim(col(textCol)))
    val exact = batch.select(col(idCol).as("doc_id"), normKey.as("k"))
      .join(corpus.select(normKey.as("k")).distinct(), Seq("k"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("dup_exact", lit(true))
    // One exchange into per-shingle buckets holding BOTH sides'
    // doc lists (collect_list skips the nulls the side-tag when()
    // leaves); the hot-shingle prune (combined df > maxShingleFreq)
    // is a size filter on the same buckets — the old shape re-derived
    // the union posting list once per side for the anti-join prune and
    // then paid the corpus×batch equi-join's two exchanges on top.
    // Candidate pairs expand map-side as the cs × bs cross of each
    // surviving bucket (bounded by the cap, so no bucket skew).
    // Postings and per-doc sizes stay map-only and unpersisted:
    // re-deriving a shuffle-free scan+explode branch is cheaper than
    // caching a corpus-sized posting list (A/B'd at sf0.1 — persist
    // variant 3.5 s vs 2.5 s re-derived — and at corpus scale the
    // cache is pure storage pressure).
    val cPost = hashedPostingsPacked(corpus, idCol, textCol, n)
      .withColumn("side", lit(0))
    val bPost = hashedPostingsPacked(batch, idCol, textCol, n)
      .withColumn("side", lit(1))
    val cap = if (maxShingleFreq > 0) maxShingleFreq else Int.MaxValue
    val buckets = cPost.unionByName(bPost).groupBy("shingle")
      .agg(
        collect_list(when(col("side") === 0, col("packed"))).as("cs"),
        collect_list(when(col("side") === 1, col("packed"))).as("bs"))
      .filter(size(col("cs")) + size(col("bs")) <= cap &&
        size(col("cs")) > 0 && size(col("bs")) > 0)
    val near = buckets
      .select(explode(flatten(transform(col("cs"), x =>
        transform(col("bs"), y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") /
        (unpackSize(col("pa")) + unpackSize(col("pb")) - col("common"))
        >= threshold)
      .select(unpackId(col("pb")).as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    batch.select(col(idCol).as("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
  }

  /** Pairwise n-gram Jaccard similarity for all document pairs sharing
    * at least one (non-hot) shingle: (a, b, common, jaccard), a < b.
    * Jaccard uses the FULL shingle sets (sizes computed before the
    * hot-shingle drop), so stop-shingle filtering only prunes candidate
    * generation, not the similarity definition.
    *
    * Shape: ONE exchange of hashed postings into per-shingle buckets
    * (`collect_list`, bounded by `maxShingleFreq` so no bucket skew),
    * pair expansion map-side from each bucket's upper triangle, and
    * the (a, b) count aggregation with each doc's shingle count
    * CARRIED THROUGH the bucket (one int per posting row) so Jaccard
    * is computed in the same pass — no join back to a size table, no
    * anti-join hot filter (the df cap is a size() filter on the same
    * buckets). The earlier self-equi-join form paid two more
    * posting-list exchanges plus two size joins; A/B at sf0.1
    * (local[32], best-of-3, with the InferFiltersFromGenerate
    * exclusion — see GraftSession.scala): 1.8 s vs 4.7 s end-to-end. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, maxShingleFreq: Int = 0): DataFrame = {
    val cap = if (maxShingleFreq > 0) maxShingleFreq else Int.MaxValue
    val buckets = hashedPostingsPacked(docs, idCol, textCol, n)
      .groupBy("shingle").agg(collect_list(col("packed")).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= cap)
    buckets
      .select(explode(bucketPairs(col("ds"))).as("p"))
      .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
      .agg(count(lit(1)).as("common"))
      .select(unpackId(col("pa")).as("a"), unpackId(col("pb")).as("b"),
        col("common"),
        (col("common") / (unpackSize(col("pa")) + unpackSize(col("pb"))
          - col("common"))).as("jaccard"))
  }

  /** Prefix-filtered set-similarity self-join (the SSJoin/PPJoin
    * candidate-generation scheme, Chaudhuri et al. ICDE'06 / Xiao et
    * al. WWW'08): all document pairs whose distinct n-gram-shingle
    * Jaccard (word sets at n = 1) is ≥ `threshold`, with candidates
    * generated from each document's PREFIX — its (|s| − ⌈t·|s|⌉ + 1)
    * globally-rarest tokens — instead of from every shared token.
    *
    * Why this beats the all-shared-token join ([[ngramJaccardPairs]]'s
    * shape) at corpus scale: a pair sharing only FREQUENT tokens can
    * never reach the threshold, and the prefix theorem makes that
    * precise — if J(x,y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉, so the common
    * tokens cannot all hide in the ⌈t·|x|⌉ − 1 most-frequent suffix
    * of either set; the two prefixes must intersect. Joining ONLY on
    * prefix tokens is therefore LOSSLESS for the threshold — and the
    * posting lists that drive candidate generation are the RARE-token
    * lists, exactly the short ones. The hot tokens that explode the
    * naive join's buckets are the ones the prefix filter skips.
    *
    * Shape — SINGLE-SCAN, derived entirely from one posting explode:
    * the full posting buckets (`groupBy tok`) yield df as the bucket
    * SIZE, so there is no separate df-count join (an earlier shape
    * joined postings to a df table and Catalyst broadcast the whole
    * exploded posting list — a driver OOM at corpus scale); the
    * per-doc rarity order is a map-side `array_sort` of the collected
    * (df, tok) structs followed by a `slice` prefix (replacing a
    * rank window over the joined posting stream); the prefix
    * self-join is the bucket upper-triangle on rare tokens; and the
    * exact verify `array_intersect`s the per-doc token arrays
    * REBUILT from the same per-doc aggregation, so the document text
    * is scanned and shingled exactly once in the whole plan (the
    * old shape re-scanned and re-shingled it four times). A length
    * filter (t·|x| ≤ |y|) prunes candidates before the verify join —
    * pairs failing it cannot pass the threshold.
    *
    * The threshold is a RATIONAL num/den and every pruning predicate
    * is integer arithmetic: the naive `ceil(0.6 * sz)` is a trap —
    * 0.6·5 in binary floating point is 3.0000000000000004, so its
    * ceil is 4, the prefix comes out one token SHORT of the lossless
    * bound, and a qualifying pair can silently vanish. Exact form:
    * ⌈(num·sz)/den⌉ = (num·sz + den − 1) div den.
    *
    * The token-set choice matters for candidate volume: on a
    * templated corpus, distinct WORD sets saturate (every pair is
    * 0.9-similar and the true result is inherently quadratic), while
    * n-gram shingle sets keep similarity discriminative — the prefix
    * filter then prunes candidates instead of enumerating the corpus.
    * The filter is lossless either way; pick the token granularity
    * that matches the question.
    *
    * Output: (a, b, common, jaccard), a < b, jaccard ≥ num/den —
    * identical to the exhaustive shared-token join, which is the
    * oracle. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, thresholdNum: Int,
                         thresholdDen: Int): DataFrame = {
    // ceil(num·n / den) in exact integer arithmetic
    def ceilFrac(c: Column): Column =
      floor((c * thresholdNum + (thresholdDen - 1)) / thresholdDen)
        .cast("int")
    // bind tokens BEFORE the shingle transform (the shingleHashArr
    // lambda-re-evaluation note: unbound words() re-splits per element).
    // Shingles live as 64-bit hashes end to end — the string form was
    // A/B'd 10× slower (UTF8String concat + copy per shingle), and the
    // exact-Jaccard verify is collision-safe in the same sense as
    // [[shingleHashArr]]'s note.
    // NO size(ws)>0 filter here: explode drops empty shingle arrays by
    // itself, and an explicit filter gets predicate-pushed BELOW the
    // shingle-binding projection, inlining (= re-evaluating) the whole
    // shingle transform into the filter — measured 12× on this stage.
    val post = hashedPostingsPacked(docs, idCol, textCol, n)
      .withColumnRenamed("shingle", "tok")
    // full posting buckets: df IS the bucket size — no df-count join
    // (and no chance of Catalyst broadcasting an exploded posting
    // stream, which the joined shape invited)
    val postDf = post.groupBy("tok")
      .agg(collect_list(col("packed")).as("ds"))
      .select(col("tok"), size(col("ds")).as("df"),
        explode(col("ds")).as("packed"))
    // global rarity order (df, tok) is a TOTAL order, so every doc
    // ranks its tokens consistently — the prefix theorem needs that
    // ONE prefix derivation feeding a per-token bucket expansion (the
    // [[bucketPairs]] upper triangle, map-side) — a prefix-vs-prefix
    // self-join would re-run the whole derivation once per side.
    // Prefix buckets are the RARE-token posting lists by construction,
    // so no bucket cap is needed. The per-doc (df, tok) struct array
    // sorts map-side (struct order = (df, tok) lexicographic); this
    // same aggregation also rebuilds each doc's full token set for
    // the verify stage, so the text is never re-scanned.
    // perDoc feeds THREE consumers (prefix derivation + both verify
    // sides); without materialization each one re-runs the scan,
    // shingle hashing, and both shuffles — the differently-pruned
    // subtrees don't canonicalize equal, so ReuseExchange never fires
    // (measured 3 independent parquet scans in the final plan).
    // localCheckpoint (the globalRowIds convention) pins the doc-sized
    // aggregation once; at corpus scale that one materialization
    // replaces three full posting passes.
    val perDoc = postDf.groupBy("packed")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .localCheckpoint()
    val sz = unpackSize(col("packed"))
    // prefix tokens carry their 1-based rank in the doc's rarity order:
    // the per-pair POSITIONAL prefix filter below needs it, and rank
    // within the prefix IS rank within the full sorted token array
    // (the prefix is its head)
    val prefix = perDoc.select(col("packed"),
      posexplode(transform(
        slice(col("ts"), lit(1), sz - ceilFrac(sz) + 1),
        t => t.getField("tok"))))
      .select(col("packed"), col("col").as("tok"),
        (col("pos") + 1).as("p"))
    // Per-pair positional prefix filter (PPJoin's positional idea with
    // the pair's TRUE overlap threshold; round-17): J(a,b) ≥ t ⟺
    // |a∩b| ≥ α = ⌈num·(sz_a+sz_b)/(num+den)⌉, and the prefix lemma's
    // witness — the α-th LARGEST shared token — has ≥ α−1 shared
    // tokens after it in BOTH docs' rarity orders, so it sits at rank
    // ≤ sz−α+1 in both. A qualifying pair therefore ALWAYS shares a
    // token with i_a ≤ sz_a−α+1 AND i_b ≤ sz_b−α+1; keeping only
    // bucket pairs with such a token is lossless and strictly tighter
    // than the per-doc prefix alone (whose slice bounds α by each
    // doc's worst-case partner, α ≥ ⌈t·sz⌉ — the per-pair α is
    // ⌈2t/(1+t)·sz⌉ at equal sizes, a ~37% shorter effective prefix).
    // Measured at sf0.1: 193,148 → 68,594 candidate pairs (−64%), and
    // the filter runs MAP-SIDE in the bucket-expansion stage, so the
    // distinct's shuffle shrinks by the same factor (312k → ~75k
    // rows). The length filter (J ≥ t forces num·sz_a ≤ den·sz_b both
    // ways) stays — it prunes pairs the positional test can miss when
    // sizes diverge, straight off the packed sizes.
    val saC = unpackSize(col("r.pa")); val sbC = unpackSize(col("r.pb"))
    val alphaC = floor(((saC + sbC) * thresholdNum +
      (thresholdNum + thresholdDen - 1)) / (thresholdNum + thresholdDen))
    val cand = prefix.groupBy("tok")
      .agg(collect_list(struct(col("packed"), col("p"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(bucketPairsPos(col("ds"))).as("r"))
      .filter(saC * thresholdNum <= sbC * thresholdDen &&
        sbC * thresholdNum <= saC * thresholdDen &&
        col("r.ia") <= saC - alphaC + 1 &&
        col("r.jb") <= sbC - alphaC + 1)
      .select(col("r.pa").as("pa"), col("r.pb").as("pb"))
      .distinct()
    // verify against the per-doc token arrays REBUILT from the same
    // per-doc aggregation (map-side transform of the sorted structs) —
    // joins are on the packed long key, and under AQE the shuffle
    // feeding perDoc is computed once and reused by all three readers
    val docSets = perDoc.select(col("packed"),
      transform(col("ts"), t => t.getField("tok")).as("ws"))
    cand
      .join(docSets.select(col("packed").as("pa"), col("ws").as("ws_a")),
        Seq("pa"))
      .join(docSets.select(col("packed").as("pb"), col("ws").as("ws_b")),
        Seq("pb"))
      .select(unpackId(col("pa")).as("a"), unpackId(col("pb")).as("b"),
        size(array_intersect(col("ws_a"), col("ws_b"))).as("common"),
        size(col("ws_a")).as("sz_a"), size(col("ws_b")).as("sz_b"))
      // exact integer form of common/(sz_a+sz_b-common) ≥ num/den
      .filter(col("common") * thresholdDen >=
        (col("sz_a") + col("sz_b") - col("common")) * thresholdNum)
      .select(col("a"), col("b"), col("common"),
        (col("common") / (col("sz_a") + col("sz_b") - col("common")))
          .as("jaccard"))
  }

  /** DIRECTIONAL containment join: every ordered pair (a → b), a ≠ b,
    * with C(a,b) = |a∩b| / |a| ≥ num/den over word n-gram shingle
    * sets — the quote/subset-duplication detector (a short document
    * wholly contained in a longer one has Jaccard far below any
    * useful threshold but containment ≈ 1, so a Jaccard pass misses
    * exactly the plagiarism/quotation case this catches).
    *
    * Prefix filter, one-sided: if C(a,b) ≥ t then |a∩b| ≥ ⌈t·|a|⌉,
    * so a's (|a| − ⌈t·|a|⌉ + 1) globally-rarest tokens must hit b —
    * but b needs NO prefix (any token of b counts toward the overlap
    * wherever it ranks in b's own order). Candidates therefore come
    * from a-PREFIX × b-FULL bucket products: hot tokens stay cheap
    * because few documents hold a hot token inside their rare-token
    * prefix, so the prefix side of a hot bucket is short even when
    * the full side is long. A length filter (num·|a| ≤ den·|b| ⟺
    * ⌈t·|a|⌉ ≤ |b|) prunes impossible pairs before the distinct.
    *
    * Shape: same single-scan derivation as [[prefixJaccardPairs]] —
    * one posting explode, df from the bucket size, per-doc rarity
    * sort map-side, and the candidate product built from an
    * a-prefix aggregation joined against CHUNKED full-posting
    * buckets: a token whose document frequency exceeds `chunkCap`
    * is hash-salted into ⌈df/chunkCap⌉ sub-buckets, so no
    * aggregation buffer ever holds more than ~chunkCap postings —
    * one hot shingle on a Zipfian corpus becomes many bounded rows
    * instead of one near-corpus-sized array. The prefix side (small
    * by the rarity argument above) is replicated once per chunk;
    * the union over a token's chunks covers exactly the token's
    * full posting list, so the candidate set is unchanged. Verify
    * rebuilds both token sets from the same per-doc aggregation.
    *
    * Output: (a, b, common, containment), a ≠ b, both directions
    * possible — identical to the exhaustive shared-token join. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, thresholdNum: Int,
                       thresholdDen: Int, chunkCap: Int = 4096): DataFrame = {
    def ceilFrac(c: Column): Column =
      floor((c * thresholdNum + (thresholdDen - 1)) / thresholdDen)
        .cast("int")
    val post = hashedPostingsPacked(docs, idCol, textCol, n)
      .withColumnRenamed("shingle", "tok")
    val postDf = post.groupBy("tok")
      .agg(collect_list(col("packed")).as("ds"))
      .select(col("tok"), size(col("ds")).as("df"),
        explode(col("ds")).as("packed"))
    // perDoc feeds THREE consumers (prefix derivation + both verify
    // sides); without materialization each one re-runs the scan,
    // shingle hashing, and both shuffles — the differently-pruned
    // subtrees don't canonicalize equal, so ReuseExchange never fires
    // (measured 3 independent parquet scans in the final plan).
    // localCheckpoint (the globalRowIds convention) pins the doc-sized
    // aggregation once; at corpus scale that one materialization
    // replaces three full posting passes.
    val perDoc = postDf.groupBy("packed")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .localCheckpoint()
    val cand = containmentCandidates(perDoc, ceilFrac,
      thresholdNum, thresholdDen, chunkCap)
    val docSets = perDoc.select(col("packed"),
      transform(col("ts"), t => t.getField("tok")).as("ws"))
    cand
      .join(docSets.select(col("packed").as("pa"), col("ws").as("ws_a")),
        Seq("pa"))
      .join(docSets.select(col("packed").as("pb"), col("ws").as("ws_b")),
        Seq("pb"))
      .select(unpackId(col("pa")).as("a"), unpackId(col("pb")).as("b"),
        size(array_intersect(col("ws_a"), col("ws_b"))).as("common"),
        size(col("ws_a")).as("sz_a"))
      // exact integer form of common/sz_a ≥ num/den
      .filter(col("common") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("a"), col("b"), col("common"),
        (col("common") / col("sz_a")).as("containment"))
  }

  /** The chunked posting buckets behind [[containmentPairs]]'s
    * candidate stage, exposed for the skew spec: (tok, chunk, bucket)
    * where every bucket holds the postings hash-salted into
    * ⌈df/chunkCap⌉ sub-buckets. Deterministic (xxhash64 on the packed
    * id + `salt`), so occupancy is reproducible; the prefix and full
    * sides use different salts so their chunk assignments are
    * independent. */
  private[graft] def chunkedPostings(flagged: DataFrame, chunkCap: Int,
                                     salt: Int = 0,
                                     elem: Column = col("packed")): DataFrame =
    flagged
      .withColumn("chunk",
        pmod(xxhash64(col("packed"), lit(salt)),
          greatest(lit(1L),
            ceil(col("df").cast("double") / chunkCap).cast("long"))))
      .groupBy(col("tok"), col("chunk"))
      .agg(collect_list(elem).as("bucket"))

  /** Candidate (pa, pb) pairs for the containment join: a-prefix
    * postings crossed with the token's full posting list, BOTH sides
    * chunked. The full side is always hot when the token is hot; the
    * prefix side is usually tiny (few docs rank a hot token among
    * their rarest) but has its own pathology — a flood of one-token
    * documents puts every one of them in its own prefix — so both
    * aggregations are capped at ~chunkCap. Coverage is exact: each
    * (prefix doc, posting doc) pair lands in exactly one
    * (pchunk × chunk) bucket product per token. */
  private def containmentCandidates(perDoc: DataFrame,
                                    ceilFrac: Column => Column,
                                    thresholdNum: Int, thresholdDen: Int,
                                    chunkCap: Int): DataFrame = {
    val sz = unpackSize(col("packed"))
    // (tok, df, packed, p, inpfx): posexplode position (1-based rank
    // in the doc's rarity order) vs the prefix bound
    val flagged = perDoc
      .select(col("packed"), sz.as("sz"),
        posexplode(col("ts")).as(Seq("pos", "t")))
      .select(col("t").getField("tok").as("tok"),
        col("t").getField("df").as("df"), col("packed"),
        (col("pos") + 1).as("p"),
        (col("pos") < col("sz") - ceilFrac(col("sz")) + 1).as("inpfx"))
    val pfx = chunkedPostings(
      flagged.filter(col("inpfx") && col("df") >= 2), chunkCap, salt = 1)
      .select(col("tok"), col("bucket").as("pxs"))
    // Per-pair positional filter on the FULL side (round-17; the q147
    // PPJoin-positional port, one-sided): C(a,b) ≥ t needs
    // |a∩b| ≥ α = ⌈t·sz_a⌉, and the α-th LARGEST shared token (by the
    // global (df, tok) rarity order both docs share) has ≥ α−1 shared
    // tokens after it in BOTH orders — so it sits at rank
    // ≤ sz_a−α+1 in a (the prefix bound that already generates the
    // candidate) AND rank ≤ sz_b−α+1 in b. A qualifying pair is
    // therefore always generated at such a witness token, and bucket
    // products whose token ranks too LATE in b (rank_b > sz_b−α+1:
    // fewer than α shared tokens can follow) are pruned losslessly,
    // MAP-SIDE, before the distinct's shuffle. Hot tokens are exactly
    // the ones sitting late in every doc's rarity order, so the hot
    // full-side buckets shrink the most.
    chunkedPostings(flagged.filter(col("df") >= 2), chunkCap,
        elem = struct(col("packed"), col("p")))
      .join(pfx, Seq("tok"))
      .select(explode(flatten(transform(col("pxs"), x =>
        filter(transform(col("bucket"), y =>
            struct(x.as("pa"), y.getField("packed").as("pb"),
              y.getField("p").as("jb"))),
          p => p.getField("pa") =!= p.getField("pb") &&
            unpackSize(p.getField("pa")) * thresholdNum <=
              unpackSize(p.getField("pb")) * thresholdDen &&
            unpackSize(p.getField("pb")) - p.getField("jb") >=
              ceilFrac(unpackSize(p.getField("pa"))) - 1)))).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .distinct()
  }

  /** ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * length-`w` token window (stride 1) of every document, flagged when
    * the identical window also occurs in at least one OTHER document.
    * One summary row per document long enough to have a window:
    * (doc_id, n_spans, n_dup_spans, dup_frac, has_dup).
    *
    * Scale shape: span assembly is map-only (transform/sequence +
    * explode, same kernel as [[shingleRows]]); the w-token span strings
    * never cross the wire — spans shuffle ONCE as 64-bit xxhash64 keys,
    * and the cross-doc frequency table joins back on that same
    * fixed-width key. The stride-1 w-fold row fan-out is inherent to
    * ExactSubstr; hashing is what keeps the two shuffles affordable.
    * Collision bound: P(any two of S distinct spans colliding) <=
    * S^2/2^65, and a collision only over-flags one span — fine for a
    * curation signal (the DuckDB oracle groups on the raw span text).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int): DataFrame = {
    val toks = words(col(textCol))
    val spans = docs
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col(idCol), explode(
        // round-17: element_at terms instead of a per-position slice —
        // stride-1 windows make the slice copy w tokens per POSITION
        // (a w× copy amplification of the token stream; the
        // shingleHashArr kernel's documented trap). Same string, same
        // hash, bit-identical output.
        transform(sequence(lit(0), size(col("toks")) - w),
          i => xxhash64(concat_ws(" ",
            (0 until w).map(k => element_at(col("toks"), i + k + 1)): _*))))
        .as("h"))
    val dup = spans.groupBy("h")
      .agg(count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), lit(1).as("is_dup"))
    spans.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        count(col("is_dup")).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans"))
      .withColumn("has_dup", col("n_dup_spans") > 0)
  }

  /** Block-level boilerplate removal (the RefinedWeb/C4 "line dedup"
    * move, restated over fixed word blocks because this corpus has no
    * newlines): cut each document into consecutive non-overlapping
    * `blockLen`-word blocks, count how many DISTINCT documents contain
    * each exact block, drop every block appearing in `maxDf` or more
    * documents (nav bars, cookie banners, licence footers — content
    * that repeats verbatim across pages), and reassemble the surviving
    * blocks in original order. Unlike whole-document dedup this keeps
    * the page and removes only the furniture.
    *
    * One summary row per document: (doc_id, n_blocks, n_kept,
    * clean_text). Documents that were ALL boilerplate stay in the
    * output with clean_text = '' — dropping them is a separate
    * curation decision.
    *
    * Scale shape: block assembly is map-only (transform/sequence +
    * explode, the [[shingleRows]] kernel with stride = width); the
    * block text never crosses the wire for counting — document
    * frequency aggregates over the 64-bit xxhash64 of the block (one
    * fixed-width shuffle, map-side partial count-distinct), and the
    * flag joins back on that same key. Reassembly is one groupBy on
    * doc_id with an order-restoring array_sort — per-document state
    * only, no global sort. Collision bound as [[duplicateSpans]]: a
    * cross-doc hash collision could only over-drop one block; the
    * DuckDB oracle groups the raw block text and agrees at test SFs. */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
                 blockLen: Int, maxDf: Int): DataFrame = {
    val toks = words(col(textCol))
    val blocks = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(0),
            floor((size(col("toks")) - 1) / blockLen).cast("int")),
          k => struct(k.as("block_id"),
            concat_ws(" ",
              slice(col("toks"), k * blockLen + 1, lit(blockLen)))
              .as("btext")))).as("b"))
      .select(col("doc_id"), col("b.block_id"), col("b.btext"),
        xxhash64(col("b.btext")).as("h"))
    val dfCounts = blocks.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("block_df"))
    blocks.join(dfCounts, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("block_df") < maxDf, 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("block_df") < maxDf,
              struct(col("block_id"), col("btext"))))),
          b => b.getField("btext"))).as("clean_text"))
  }

  /** ExactSubstr duplicated-span REMOVAL — the editing counterpart of
    * [[duplicateSpans]] (which only reports): every token covered by
    * at least one cross-document duplicated `w`-window is cut, and the
    * surviving tokens are reassembled in order (Lee et al. 2022 remove
    * the duplicated substring but keep the rest of the document; this
    * is that, at window granularity). Documents too short for a window
    * pass through untouched.
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY
    * input document.
    *
    * Scale shape: span assembly and the final per-document token
    * filter are map-only; spans shuffle once as 64-bit hashes for the
    * cross-doc frequency table ([[duplicateSpans]]'s two fixed-width
    * exchanges). Removed coverage is NOT materialized per position —
    * the flagged span STARTS come back as one per-doc collect_list
    * (|flagged| rows, no w× fan-out, no position-distinct shuffle)
    * and a single index-aware filter lambda tests each token against
    * the start intervals ([p, p+w-1]) map-side. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           w: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("toks"))
    val spans = base.filter(size(col("toks")) >= w)
      .select(col("doc_id"), explode(
        // round-17: element_at terms, not a per-position slice copy —
        // see duplicateSpans (bit-identical)
        transform(sequence(lit(0), size(col("toks")) - w),
          i => struct(i.as("pos"),
            xxhash64(concat_ws(" ",
              (0 until w).map(k => element_at(col("toks"), i + k + 1)): _*))
              .as("h")))).as("s"))
      .select(col("doc_id"), col("s.pos"), col("s.h"))
    val dup = spans.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("h")
    val flagged = spans.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("ps"))
    val covered = (i: Column) => coalesce(
      exists(col("ps"), p => i >= p && i <= p + (w - 1)), lit(false))
    base.join(flagged, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(col("toks"), (t, i) => not(covered(i))))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Cross-source content-overlap matrix: for every pair of sources,
    * how many distinct n-gram shingles they share, plus the Jaccard of
    * their shingle sets — the "is source B substantially mirroring
    * source A" report that decides which feeds to drop before
    * per-document dedup even runs. (Whole-document keys are too
    * brittle for this: mirrors re-wrap and re-punctuate; shingle sets
    * survive that.)
    *
    * Scale shape: dedup to distinct (source, shingle-hash) first
    * (map-side combine over fixed-width longs), then the self-join
    * meets only rows with the SAME key — a shingle shared by s sources
    * yields s·(s−1)/2 pair rows, bounded by sources², never corpus².
    * Per-source totals are a tiny broadcast. The DuckDB oracle groups
    * raw shingle text; xxhash64 collisions are the same accepted
    * rounding as [[duplicateSpans]].
    */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int): DataFrame = {
    // shinglePostings keys its output "doc_id" — here that slot carries
    // the source name; per-row array_distinct pre-shrinks the rows the
    // cross-doc (source, shingle) distinct below has to shuffle.
    val keyed = shinglePostings(docs.select(col(srcCol), col(textCol)),
        srcCol, textCol, n)
      .select(col("doc_id").as("source"), xxhash64(col("shingle")).as("k"))
      .distinct()
    val sizes = keyed.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = keyed.select(col("source").as("source_a"), col("k"))
      .join(keyed.select(col("source").as("source_b"), col("k")), Seq("k"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_shingles"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared_shingles"),
        (col("shared_shingles").cast("double") /
          (col("n_a") + col("n_b") - col("shared_shingles"))).as("jaccard"))
  }

  /** Corpus-order n-gram novelty: per document, the fraction of its
    * DISTINCT n-gram shingles whose first corpus occurrence (minimum
    * doc_id over all documents containing the shingle) is this
    * document — "how much text does this doc add that no earlier doc
    * had". The streaming-curation complement of [[duplicateSpans]]:
    * that one flags duplication anywhere; this one credits earliest
    * arrival, the signal used when ingesting feeds in priority order.
    *
    * Scale shape: the posting build is map-only (per-row distinct);
    * the min-owner table aggregates and joins back on the 64-bit
    * shingle hash — fixed-width shuffles, map-side partial min().
    * Ids must be ingestion-ordered for "first" to mean
    * "earliest" — at 100 TB that's the batch sequence number, not a
    * random id.
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    // per-doc distinct is map-side (shinglePostings) — no distinct shuffle
    val post = shinglePostings(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val firstOwner = post.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    post.join(firstOwner, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Paragraph-level first-owner dedup (the Dolma/Lee-et-al. "dedupe
    * at paragraph granularity, keep the first occurrence" pass): cut
    * each document into consecutive non-overlapping `paraLen`-word
    * paragraphs (positional boundaries — this corpus has no newlines,
    * the [[blockDedup]] framing), elect the GLOBAL first occurrence
    * of every distinct paragraph text (lexicographic min of (doc_id,
    * para_id)), drop every later copy, and reassemble survivors in
    * original order. Contrast [[blockDedup]], which drops by document
    * frequency (boilerplate removal — the first copy dies too): here
    * exactly one copy of every distinct paragraph survives, so the
    * corpus keeps its full deduplicated paragraph mass.
    *
    * Output: one row per input document — (doc_id, n_paras, n_kept,
    * clean_text); a fully-deduplicated document stays in the output
    * with clean_text = ''.
    *
    * Scale shape: paragraph assembly is map-only; ownership
    * aggregates min(struct(doc_id, para_id)) over the paragraph HASH
    * (one fixed-width shuffle — paragraph text never crosses the wire
    * for election), and the verdict joins back on that same key.
    * Reassembly is the [[blockDedup]] per-document array_sort — no
    * global sort, no driver state. Hash-collision bound as
    * [[duplicateSpans]]: a cross-doc xxhash64 collision could only
    * over-drop one paragraph; the DuckDB oracle groups the raw text
    * and agrees at test SFs. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     paraLen: Int): DataFrame = {
    val toks = words(col(textCol))
    val paras = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(0),
            floor((size(col("toks")) - 1) / paraLen).cast("int")),
          k => struct(k.as("para_id"),
            concat_ws(" ",
              slice(col("toks"), k * paraLen + 1, lit(paraLen)))
              .as("ptext")))).as("p"))
      .select(col("doc_id"), col("p.para_id"), col("p.ptext"),
        xxhash64(col("p.ptext")).as("h"))
    val owners = paras.groupBy("h")
      .agg(min(struct(col("doc_id"), col("para_id"))).as("own"))
    paras.join(owners, Seq("h"))
      .withColumn("kept", col("doc_id") === col("own.doc_id") &&
        col("para_id") === col("own.para_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("kept"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("kept"), struct(col("para_id"), col("ptext"))))),
          p => p.getField("ptext"))).as("clean_text"))
  }

  /** Dedup-impact report: the per-stage mass ledger an ops team reads
    * after a curation run — how many documents and tokens survive (a)
    * exact whole-text dedup and then (b) paragraph-level first-owner
    * dedup ([[paragraphDedup]]) — so the cost/benefit of each stage
    * is a number, not a belief. Stage rows: 0_raw, 1_exact (min-id
    * keeper per distinct lowercased text), 2_paragraph (docs = those
    * still carrying ≥1 kept paragraph; tokens = reassembled
    * clean-text mass).
    *
    * Scale shape: stage 1 ships only (xxhash64, doc_id) through its
    * shuffle (the [[paragraphDedup]] fixed-width-election convention
    * — the oracle groups the raw text, proving hash-collision-free at
    * test SFs) and rejoins survivors by a LEFT SEMI on the id; stage
    * 2 is the paragraphDedup kernel unchanged; every report row is a
    * scalar aggregate.
    *
    * Output: (stage, docs, tokens), 3 rows. */
  def dedupImpact(docs: DataFrame, idCol: String, textCol: String,
                  paraLen: Int): DataFrame = {
    def ntoks(t: Column): Column =
      size(filter(words(t), w => w =!= "")).cast("long")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("t"))
      .withColumn("n_toks", ntoks(col("t")))
    val raw = base.agg(count(lit(1)).as("docs"),
        sum(col("n_toks")).as("tokens"))
      .select(lit("0_raw").as("stage"), col("docs"), col("tokens"))
    val keepIds = base.groupBy(xxhash64(lower(col("t"))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val surv1 = base.join(keepIds.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val s1 = surv1.agg(count(lit(1)).as("docs"),
        sum(col("n_toks")).as("tokens"))
      .select(lit("1_exact").as("stage"), col("docs"), col("tokens"))
    val pd = paragraphDedup(surv1.select(col("doc_id"), col("t")),
      "doc_id", "t", paraLen)
    val s2 = pd.agg(
        sum(when(col("n_kept") > 0, 1L).otherwise(0L)).as("docs"),
        sum(ntoks(col("clean_text"))).as("tokens"))
      .select(lit("2_paragraph").as("stage"), col("docs"), col("tokens"))
    raw.unionByName(s1).unionByName(s2).orderBy("stage")
  }

  /** Content-defined chunking (the Rabin/LBFS rolling-boundary move,
    * restated over word tokens): a chunk boundary falls after token i
    * whenever the rolling hash of the trailing `window` tokens hits 0
    * mod `avgLen` — so boundaries are decided by LOCAL content, and an
    * insertion near the start re-synchronizes after one window instead
    * of shifting every downstream boundary the way fixed-stride
    * chunking (q184) does. That re-sync is the point: chunk-level
    * dedup/caching over edited or near-duplicate documents keeps
    * matching on the unchanged tail.
    *
    * Portable hashing (the q181 convention, NOT xxhash64 — the hash
    * VALUE decides boundaries here, so the oracle must replay it):
    * token hash = char fold (acc·31 + ascii) mod 1e9+7, window hash =
    * token-hash fold (acc·33 + t) mod 1e9+7. Expected chunk length ≈
    * `avgLen` tokens; documents shorter than `window` form one chunk.
    *
    * Scale shape: map-only — token hashing, the rolling-boundary
    * scan, and the start/end slicing are all per-row HOFs; explode
    * emits ~n/avgLen rows per n-token document; no shuffle, no UDF.
    * The boundary scan rides the native fused expression
    * ([[org.apache.spark.sql.graft.ContentChunkStarts]]): token
    * char-fold hashes + rolling window walk in one O(n·window) loop
    * inside whole-stage codegen. Round-7 fix: the original
    * per-position winHash referenced the token-hash array 4×, and
    * CollapseProject inlined the whole `transform(toks, tokHash)`
    * into every boundary position — re-running the O(n·chars) token
    * hashing per candidate, O(n²) per doc (110 s at sf0.1 once q202
    * joined the bench headliners). A struct-state aggregate() fixed
    * the asymptotics (5.7 s) but its per-element ring concat/slice
    * allocations still dominated; the native kernel closes it
    * (~1.4 s), bit-equal to the declarative reference below
    * (NativeExprSpec).
    *
    * Output: (doc_id, chunk_id, start_tok, n_chunk_toks, chunk_text);
    * chunk texts concatenate back to the document (coverage is exact,
    * spec-pinned). */
  def contentChunks(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, avgLen: Int): DataFrame = {
    require(window >= 1 && avgLen >= 2,
      s"contentChunks needs window >= 1, avgLen >= 2; got $window/$avgLen")
    val toks = filter(words(col(textCol)), w => w =!= "")
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        concat(array(lit(0)),
          org.apache.spark.sql.graft.ContentChunkStarts
            .column(col("toks"), window, avgLen))
          .as("starts"))
      .select(col("doc_id"), col("toks"), col("starts"),
        explode(sequence(lit(1), size(col("starts")))).as("i"))
      .select(col("doc_id"), (col("i") - 1).as("chunk_id"),
        element_at(col("starts"), col("i")).as("start_tok"),
        (when(col("i") < size(col("starts")),
          element_at(col("starts"), col("i") + 1))
          .otherwise(size(col("toks"))) -
          element_at(col("starts"), col("i"))).as("n_chunk_toks"),
        concat_ws(" ", slice(col("toks"),
          element_at(col("starts"), col("i")) + 1,
          when(col("i") < size(col("starts")),
            element_at(col("starts"), col("i") + 1))
            .otherwise(size(col("toks"))) -
            element_at(col("starts"), col("i")))).as("chunk_text"))
      .filter(col("n_chunk_toks") > 0)
  }

  /** Benchmark n-gram decontamination (the GPT-3 appendix-C rule,
    * Brown et al. 2020, restated distributionally): a training
    * document is contaminated when it shares an n-gram with any
    * EVAL-SET document — the pre-training hygiene pass that keeps
    * benchmark answers out of the corpus. Complements the in-repo
    * decontamination family: q69/q172 catch *semantic* overlap in
    * embedding space, q100/ExactSubstr removes literal spans vs a
    * standing corpus; this one is the n-gram-vs-benchmark SET check
    * every LLM data pipeline runs before training. `benchPred` marks
    * the benchmark members inside the corpus frame (an external eval
    * table plugs in the same way); a doc never contaminates itself.
    *
    * Counting is per DISTINCT shingle (the [[shinglePostings]] set
    * semantics), so a repeated leaked n-gram counts once and
    * contam_ppm is a set-overlap share.
    *
    * Scale shape (round-8 restructure — the advisory flagged the old
    * form's TRIPLE scan of the corpus posting list): the corpus-wide
    * tokenize+shingle pipeline now runs EXACTLY ONCE. The benchmark
    * side derives its postings from the pre-filtered base (only eval
    * docs tokenize — eval-set-sized work) and collapses to ONE row per
    * shingle (count + min bench doc), so the contamination test is a
    * single left equi-join of the corpus postings against that tiny
    * frame (AQE broadcasts it) followed by ONE aggregation producing
    * n_grams and n_contaminated together — no second posting scan, no
    * corpus-wide distinct (the postings are already set-semantic per
    * doc, and the collapsed bench frame can't fan rows out). Self-hits
    * are excluded arithmetically: a shingle contaminates doc d iff a
    * bench doc ≠ d carries it, i.e. n_bench ≥ 2 ∨ min_bench ≠ d.
    * Grams join as STRINGS here for oracle exactness — at 100 TB swap
    * the join key for the packed 64-bit shingle hash (the q147
    * kernel's lossless-at-test-SF convention) and keep everything
    * else.
    *
    * Output: (doc_id, is_bench, n_grams, n_contaminated, contam_ppm,
    * flagged) — flagged = non-benchmark doc sharing ≥1 n-gram. */
  def benchmarkNgramContamination(docs: DataFrame, idCol: String,
      textCol: String, benchPred: Column, n: Int): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      benchPred.as("is_bench"), col(textCol).as("t"))
    val posts = shinglePostings(base, "doc_id", "t", n)
    val benchInfo = shinglePostings(
        base.filter(col("is_bench")), "doc_id", "t", n)
      .groupBy("shingle")
      .agg(count(lit(1)).as("n_bench"), min(col("doc_id")).as("min_bench"))
    val perDoc = posts.join(benchInfo, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_bench").isNotNull &&
            (col("n_bench") >= 2 || col("min_bench") =!= col("doc_id")),
          1L).otherwise(0L)).as("n_contaminated"))
    base.select(col("doc_id"), col("is_bench"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_contaminated"))
      .withColumn("contam_ppm", expr(
        """CAST(CASE WHEN n_grams > 0
           THEN 1000000 * n_contaminated DIV n_grams
           ELSE CAST(0 AS BIGINT) END AS BIGINT)"""))
      .withColumn("flagged", !col("is_bench") && col("n_contaminated") >= 1)
  }

  /** Declarative REFERENCE form of the q202 boundary scan — the
    * arithmetic the DuckDB oracle replays, kept as the bit-equality
    * pin for the native [[org.apache.spark.sql.graft
    * .ContentChunkStarts]] kernel (the BandedLshBuckets precedent:
    * the registered path is native, the reference form keeps it
    * honest in NativeExprSpec). One aggregate() pass carrying (ring
    * of trailing window−1 token hashes, position, boundary list) as
    * struct state, so the token-hash array appears exactly once in
    * the expression tree and CollapseProject cannot duplicate the
    * char folds. */
  def contentChunkBoundariesDeclarative(toks: Column, window: Int,
                                        avgLen: Int): Column = {
    val P = 1000000007L
    def tokHash(w: Column): Column =
      aggregate(split(w, ""), lit(0L),
        (acc, c) => pmod(acc * 31 + ascii(c), lit(P)))
    val zero = struct(
      array().cast("array<bigint>").as("ring"),
      lit(0).as("pos"),
      array().cast("array<int>").as("starts"))
    aggregate(
      transform(toks, tokHash _), zero,
      (acc, h) => {
        val pos = (acc.getField("pos") + 1).as("pos")
        val r3 = concat(acc.getField("ring"), array(h))
        val win = aggregate(r3, lit(0L),
          (a, t) => pmod(a * 33 + t, lit(P)))
        val hit = size(r3) === window &&
          pmod(win, lit(avgLen.toLong)) === 0
        struct(
          when(size(r3) >= window, slice(r3, 2, window - 1))
            .otherwise(r3).as("ring"),
          pos,
          when(hit, concat(acc.getField("starts"),
              array(acc.getField("pos") + 1)))
            .otherwise(acc.getField("starts")).as("starts"))
      },
      acc => acc.getField("starts"))
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo 1995): sort the
    * corpus by a cheap blocking key, slide a window of `window` rows
    * over the GLOBAL sorted order, and emit only pairs whose positions
    * fall inside one window — O(n·w) candidates instead of the O(n²)
    * all-pairs or the unbounded hot-block blowup of pure key blocking.
    * The classic complement to shingle blocking (q19/q91): near-dups
    * with a shared prefix land adjacent after the sort even when they
    * share no rare shingle.
    *
    * Distributed shape — the two classic traps and their fixes:
    *  1. global order: `row_number() OVER (ORDER BY key)` collapses to
    *     one task; [[Curation.globalRowIds]] instead range-partitions
    *     on the key, sorts within partitions, and shifts per-partition
    *     ordinals by the preceding partitions' counts — the order is a
    *     pure function of (key, id), independent of partition count.
    *  2. window pairs across partition boundaries: rather than
    *     special-casing each range boundary's last w−1 rows, pair
    *     generation is a BAND SELF-JOIN on the ordinal: bucket =
    *     (pos−1) div w, the higher-pos side claims buckets
    *     {bucket, bucket−1}, equi-join on the claim, filter
    *     0 < Δpos < w. Any in-window pair spans at most adjacent
    *     buckets, and the two claims are distinct, so every pair
    *     surfaces exactly once — shuffle-parallel on the bucket key,
    *     no boundary bookkeeping, ≤ 2 replicas of each row.
    *
    * Verification is exact set-Jaccard over distinct tokens in ppm
    * (all-integer: `inter·10⁶ DIV union`, the q201 convention).
    *
    * Key: first `keyLen` chars of the lowercased alnum-squashed text —
    * the standard "smash punctuation, sort, neighbors collide" SNM key.
    * Multi-pass SNM (several keys, union of pairs) composes by calling
    * this per key and unioning.
    *
    * Output: (a_id, b_id, pos_a, pos_b, jacc_ppm, is_dup), one row per
    * in-window ordered pair a.pos < b.pos. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              textCol: String, window: Int,
                              keyLen: Int = 16,
                              minJaccardPpm: Long = 600000L): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val keyed = docs.select(
      col(idCol).cast("long").as("doc_id"),
      substring(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""),
        1, keyLen).as("snm_key"),
      array_distinct(filter(words(col(textCol)), w => w =!= ""))
        .as("toks"))
    val pos = Curation.globalRowIds(keyed, Seq("snm_key", "doc_id"))
      .select(col("doc_id"), col("toks"), col("global_id").as("pos"),
        // integer DIV, not `/` (double division loses exactness past
        // 2^53 ordinals — real at corpus scale)
        expr(s"(global_id - 1) DIV $window").as("bucket"))
    val a = pos.select(col("doc_id").as("a_id"), col("toks").as("ta"),
      col("pos").as("pos_a"), col("bucket").as("claim"))
    val b = pos.select(col("doc_id").as("b_id"), col("toks").as("tb"),
      col("pos").as("pos_b"),
      explode(array(col("bucket"), col("bucket") - 1)).as("claim"))
      .filter(col("claim") >= 0)
    a.join(b, Seq("claim"))
      .filter(col("pos_b") > col("pos_a") &&
        col("pos_b") < col("pos_a") + window)
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", size(array_union(col("ta"), col("tb"))).cast("long"))
      .withColumn("jacc_ppm", expr(
        """CAST(CASE WHEN uni > 0 THEN 1000000 * inter DIV uni
           ELSE CAST(0 AS BIGINT) END AS BIGINT)"""))
      .withColumn("is_dup", col("jacc_ppm") >= minJaccardPpm)
      .select(col("a_id"), col("b_id"), col("pos_a"), col("pos_b"),
        col("jacc_ppm"), col("is_dup"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): per document, hash every k-gram of tokens, then
    * keep the MINIMUM hash of each sliding window of `w` consecutive
    * gram hashes. The guarantee that makes this the standard
    * local-fingerprinting scheme: any shared run of at least w+k−1
    * tokens between two documents yields at least one SHARED
    * fingerprint, while the expected density of selected hashes is
    * only ~2/(w+1) — position-robust overlap detection at a fraction
    * of full-posting cost (the complement to [[shinglePostings]]'s
    * exhaustive set semantics).
    *
    * Portable hashing (the q181/q202 convention — the hash VALUE
    * decides the selection, so the oracle must replay it): token hash
    * = char fold (acc·31 + codepoint) mod 1e9+7; k-gram hash =
    * token-hash fold (acc·33 + t) mod 1e9+7. Documents with fewer
    * grams than `w` contribute their single overall-min fingerprint
    * (the standard short-document degenerate window); documents with
    * fewer than k tokens have no grams and no fingerprints.
    *
    * Scale shape: MAP-ONLY — one aggregate() pass per document
    * carrying (token ring of k−1, gram ring of w−1, emitted mins,
    * running min) as struct state, so the token-hash array appears
    * exactly once in the expression tree and CollapseProject cannot
    * re-inline the char folds per window position (the q202 O(n²)
    * trap, avoided the same way). O(n·(k+w)) per n-token document,
    * then array_distinct + explode; no shuffle, no UDF.
    *
    * Output: (doc_id, fingerprint) — the per-document DISTINCT
    * fingerprint set, one row per selected hash. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1, w >= 1; got $k/$w")
    val P = 1000000007L
    def tokHash(wd: Column): Column =
      org.apache.spark.sql.graft.CharFoldHash.column(wd) // native fold, bit-pinned (NativeExprSpec)
    val toks = filter(words(col(textCol)), t => t =!= "")
    val zero = struct(
      array().cast("array<bigint>").as("tring"),
      array().cast("array<bigint>").as("gring"),
      array().cast("array<bigint>").as("mins"),
      lit(null).cast("bigint").as("gmin"))
    val folded = aggregate(
      transform(toks, tokHash _), zero,
      (acc, h) => {
        val tring = acc.getField("tring")
        val haveGram = size(tring) === (k - 1)
        val gram = aggregate(concat(tring, array(h)), lit(0L),
          (a, t) => pmod(a * 33 + t, lit(P)))
        val gring = acc.getField("gring")
        val windowFull = haveGram && (size(gring) === (w - 1))
        val tringNew = when(size(tring) < k - 1, concat(tring, array(h)))
          .otherwise(concat(slice(tring, 2, k - 1), array(h)))
        val gringNew = when(!haveGram, gring)
          .when(size(gring) < w - 1, concat(gring, array(gram)))
          .otherwise(concat(slice(gring, 2, w - 1), array(gram)))
        struct(
          tringNew.as("tring"),
          gringNew.as("gring"),
          when(windowFull,
            concat(acc.getField("mins"),
              array(array_min(concat(gring, array(gram))))))
            .otherwise(acc.getField("mins")).as("mins"),
          when(haveGram, least(acc.getField("gmin"), gram))
            .otherwise(acc.getField("gmin")).as("gmin"))
      },
      acc => when(size(acc.getField("mins")) > 0,
          array_distinct(acc.getField("mins")))
        .when(acc.getField("gmin").isNotNull, array(acc.getField("gmin")))
        .otherwise(array().cast("array<bigint>")))
    docs.select(col(idCol).cast("long").as("doc_id"), folded.as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fingerprint"))
  }

  /** Winnowing-overlap near-dup pairs — the MOSS match step: join the
    * [[winnowFingerprints]] table with itself on the fingerprint,
    * count shared selections per ordered pair, keep pairs with at
    * least `minShared`. Because winnowing guarantees a selected hash
    * inside every w+k−1-token shared run, pairs sharing long literal
    * runs always surface while unrelated documents share only by
    * (rare) hash coincidence.
    *
    * Scale shape: the fingerprint table is already ~2/(w+1)-dense
    * (winnowing IS the sparsifier), so the per-fingerprint posting
    * buckets the equi-join fans out are small; hot-fingerprint
    * chunking (the [[containmentPairs]] convention) applies unchanged
    * past that. One equi-join + one pair aggregation.
    *
    * Output: (a_id, b_id, n_shared), a_id < b_id. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4,
                         minShared: Int = 2): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .localCheckpoint() // one map-only scan feeds both join sides
    fps.select(col("doc_id").as("a_id"), col("fingerprint"))
      .join(fps.select(col("doc_id").as("b_id"), col("fingerprint")),
        Seq("fingerprint"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
