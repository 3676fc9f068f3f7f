package graft

import graft.domain.Emotions
import graft.operators.TextAnalysis

/** DuckDB oracle SQL — the driver runs each statement against the same
  * parquet tables (registered under their bare names) and hash-compares
  * the result with the Spark query it is paired with in
  * `SparkEntry.registry`.
  *
  * Exactness rules used throughout (so hashes match bit-for-bit):
  *  - money/double aggregation goes through DECIMAL in BOTH engines;
  *  - synthesized emotion scores are exact multiples of 1/1024;
  *  - every LIMIT / row_number has a total-order tie-break;
  *  - column names and order are aligned with the Spark results.
  */
object OracleSql {

  private val episodes = Emotions.episodesSql
  private val strains  = Emotions.strainsSql
  private val epLong   = Emotions.longSql("episodes", Seq("episode_id"))
  private val stLong   = Emotions.longSql("strains", Seq("strain_id"))

  private[graft] val q01 =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
      |    AS sum_disc_price,
      |  COUNT(*) AS count_order,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private[graft] val q02 =
    s"""WITH strains AS ($strains)
       |SELECT strain_id, strain_name, happy, excited FROM (
       |  SELECT * FROM strains ORDER BY happy DESC, strain_id ASC LIMIT 100)
       |ORDER BY excited DESC, strain_id ASC LIMIT 5""".stripMargin

  private[graft] val q03 =
    """SELECT r_name,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  private[graft] val q04 =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  private[graft] val q05 =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  private[graft] val q06 =
    """SELECT p_brand, CAST(rn AS INTEGER) AS rn, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand
      |                       ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      |  FROM part)
      |WHERE rn <= 2 ORDER BY p_brand, rn""".stripMargin

  private[graft] val q07 =
    s"""WITH episodes AS ($episodes)
       |${Emotions.longSql("episodes", Seq("episode_id", "episode_name"))}
       |ORDER BY episode_id, emotion""".stripMargin

  /** The two-stage rank-match core (J6, ipynb cell 15 de-correlated),
    * shared by q08 and q29: CTEs st_top2/pool/best over existing
    * `st_long`/`ep_long` CTEs. */
  private val rankMatchCore =
    """st_top2 AS (
      |  SELECT strain_id,
      |    max(CASE WHEN rn = 1 THEN emotion END) AS emo1,
      |    max(CASE WHEN rn = 2 THEN emotion END) AS emo2
      |  FROM (SELECT strain_id, emotion, score,
      |          row_number() OVER (PARTITION BY strain_id
      |                             ORDER BY score DESC, emotion ASC) AS rn
      |        FROM st_long)
      |  WHERE rn <= 2 GROUP BY strain_id),
      |pool AS (
      |  SELECT t.strain_id, t.emo1, t.emo2, e.episode_id,
      |    row_number() OVER (PARTITION BY t.strain_id
      |                       ORDER BY e.score DESC, e.episode_id ASC) AS r1
      |  FROM st_top2 t JOIN ep_long e ON e.emotion = t.emo1),
      |best AS (
      |  SELECT p.strain_id, p.emo1, p.emo2, p.episode_id,
      |    row_number() OVER (PARTITION BY p.strain_id
      |                       ORDER BY e2.score DESC, p.episode_id ASC) AS r2
      |  FROM (SELECT * FROM pool WHERE r1 <= 100) p
      |  JOIN ep_long e2 ON e2.emotion = p.emo2 AND e2.episode_id = p.episode_id)"""
      .stripMargin

  private[graft] val q08 =
    s"""WITH episodes AS ($episodes),
       |strains AS ($strains),
       |ep_long AS ($epLong),
       |st_long AS ($stLong),
       |$rankMatchCore
       |SELECT b.strain_id, s.strain_name, b.emo1, b.emo2,
       |       b.episode_id, ep.episode_name
       |FROM best b
       |JOIN strains s USING (strain_id)
       |JOIN episodes ep USING (episode_id)
       |WHERE b.r2 = 1
       |ORDER BY b.strain_id""".stripMargin

  /** Greedy matching-without-replacement as a recursive CTE: one row
    * per recursion step carrying the accumulated picks list — the SQL
    * twin of the driver fold. Assumes |strains| >= |episodes| (a pick
    * always exists), which holds for this data. */
  private[graft] val q09 =
    s"""WITH RECURSIVE episodes AS ($episodes),
       |strains AS ($strains),
       |ep_long AS ($epLong),
       |st_long AS ($stLong),
       |ep_top2 AS (
       |  SELECT episode_id,
       |    max(CASE WHEN rn = 1 THEN emotion END) AS emo1,
       |    max(CASE WHEN rn = 2 THEN emotion END) AS emo2
       |  FROM (SELECT episode_id, emotion,
       |          row_number() OVER (PARTITION BY episode_id
       |                             ORDER BY score DESC, emotion ASC) AS rn
       |        FROM ep_long)
       |  WHERE rn <= 2 GROUP BY episode_id),
       |ep_idx AS (
       |  SELECT episode_id, emo1, emo2,
       |    row_number() OVER (ORDER BY episode_id) AS i
       |  FROM ep_top2),
       |g AS (
       |  SELECT 0 AS i, CAST([] AS BIGINT[]) AS picks
       |  UNION ALL
       |  SELECT g.i + 1,
       |    list_append(g.picks, (
       |      SELECT strain_id FROM (
       |        SELECT s1.strain_id, s1.score AS v1, s2.score AS v2
       |        FROM st_long s1
       |        JOIN st_long s2 USING (strain_id)
       |        JOIN ep_idx e ON e.i = g.i + 1
       |        WHERE s1.emotion = e.emo1 AND s2.emotion = e.emo2
       |          AND NOT list_contains(g.picks, s1.strain_id)
       |        ORDER BY v1 DESC, s1.strain_id ASC LIMIT 100)
       |      ORDER BY v2 DESC, strain_id ASC LIMIT 1))
       |  FROM g WHERE g.i < (SELECT count(*) FROM ep_idx)),
       |final AS (
       |  SELECT e.episode_id, e.emo1, e.emo2, p.picks[e.i] AS strain_id
       |  FROM (SELECT picks FROM g
       |        WHERE i = (SELECT count(*) FROM ep_idx)) p, ep_idx e)
       |SELECT f.episode_id, f.strain_id,
       |  s1.score AS score1, s2.score AS score2
       |FROM final f
       |JOIN st_long s1 ON s1.strain_id = f.strain_id AND s1.emotion = f.emo1
       |JOIN st_long s2 ON s2.strain_id = f.strain_id AND s2.emotion = f.emo2
       |ORDER BY f.episode_id""".stripMargin

  private[graft] val q10 =
    s"""WITH episodes AS ($episodes),
       |base AS (
       |  SELECT episode_id, episode_name,
       |    regexp_replace(
       |      CASE WHEN episode_id IN (19,25,32,35) THEN episode_name
       |           ELSE regexp_replace(episode_name, ':', '', 'g') END,
       |      ',', '', 'g') AS stripped
       |  FROM episodes)
       |SELECT episode_id, episode_name, stripped,
       |  regexp_replace(lower(stripped), '\\s+', '_', 'g') AS slug,
       |  CAST(len(regexp_split_to_array(episode_name, '\\s+')) AS INTEGER) AS n_words,
       |  'https://rickandmorty.fandom.com/wiki/' ||
       |    regexp_replace(stripped, '\\s+', '_', 'g') AS url,
       |  upper(substr(episode_name, 1, 1)) || lower(substr(episode_name, 2))
       |    AS capitalized
       |FROM base ORDER BY episode_id""".stripMargin

  private[graft] val q11 =
    """SELECT type_word, COUNT(*) AS n_parts,
      |  COUNT(DISTINCT p_brand) AS n_brands
      |FROM (SELECT unnest(string_split(p_type, ' ')) AS type_word, p_brand
      |      FROM part)
      |GROUP BY type_word ORDER BY type_word""".stripMargin

  private[graft] val q12 =
    s"""WITH strains AS ($strains),
       |st_long AS ($stLong)
       |SELECT emotion, AVG(score) AS avg_score, COUNT(*) AS n
       |FROM st_long GROUP BY emotion ORDER BY emotion""".stripMargin

  private[graft] val q13 =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k,
      |  CAST(MAX(k) AS INTEGER) AS max_k
      |FROM (SELECT event_type, value,
      |        CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private[graft] val q14 =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessioned AS (
      |  SELECT user_id,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS session_events
      |  FROM sessioned GROUP BY user_id, session_id)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(session_events) AS BIGINT) AS n_events,
      |  CAST(MAX(session_events) AS BIGINT) AS max_session_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  private[graft] val q15 =
    """SELECT text AS dup_key, COUNT(*) AS dup_count, MIN(doc_id) AS keeper_id
      |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin

  private val enStop = TextAnalysis.stopwords("en")
    .map(w => s"'$w'").mkString("[", ", ", "]")

  private[graft] val q16 =
    s"""WITH ws AS (
       |  SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents)
       |SELECT doc_id,
       |  CAST(len(w) AS INTEGER) AS n_words,
       |  CAST(length(text) AS INTEGER) AS n_chars_obs,
       |  CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct_words,
       |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE)
       |    / len(w) AS avg_word_len,
       |  CAST(len(list_filter(w, x -> list_contains($enStop, x))) AS DOUBLE)
       |    / len(w) AS stopword_ratio,
       |  CAST(len(regexp_extract_all(lower(text),
       |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INTEGER) AS n_bpe_tokens
       |FROM ws ORDER BY doc_id""".stripMargin

  private[graft] val q17 =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    len(w) AS n_words,
       |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS diversity,
       |    CAST(len(list_filter(w, x -> list_contains($enStop, x))) AS DOUBLE)
       |      / len(w) AS stop_ratio,
       |    least(CAST(len(w) AS DOUBLE) / 64.0, 1.0) AS length_score
       |  FROM ws)
       |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       |  round(diversity, 6) AS diversity,
       |  round(stop_ratio, 6) AS stopword_ratio,
       |  round(length_score * 0.4 + diversity * 0.4
       |        + least(stop_ratio * 4.0, 1.0) * 0.2, 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  private val langs = TextAnalysis.stopwords.keys.toSeq.sorted
  private def stopList(l: String) = TextAnalysis.stopwords(l)
    .map(w => s"'$w'").mkString("[", ", ", "]")

  private[graft] val q18 = {
    val scoreCols = langs.map { l =>
      s"""CAST(len(list_filter(w, x -> list_contains(${stopList(l)}, x))) AS DOUBLE)
         |      / len(w) AS ${l}_score""".stripMargin
    }.mkString(",\n  ")
    // tie-break: first language in `langs` order wins (matches the
    // Spark argmax's ord construction)
    val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"${l}_score >= ${r}_score")
        .mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n    ")
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |  $scoreCols
       |  FROM ws)
       |SELECT doc_id, ${langs.map(l => s"${l}_score").mkString(", ")},
       |  CASE $caseChain ELSE '${langs.last}' END AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Mirrors the Spark stop-shingle pruning exactly: shingles in > 50
    * docs are dropped from candidate generation AND from the common
    * count, while per-doc set sizes stay un-pruned. */
  private[graft] val q19 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM ws WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |rare AS (
      |  SELECT doc_id, shingle FROM post
      |  WHERE shingle NOT IN (
      |    SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) > 50)),
      |pairs AS (
      |  SELECT p1.doc_id AS a, p2.doc_id AS b, COUNT(*) AS common
      |  FROM rare p1 JOIN rare p2 USING (shingle)
      |  WHERE p1.doc_id < p2.doc_id
      |  GROUP BY p1.doc_id, p2.doc_id)
      |SELECT a, b, common,
      |  common / (sa.n_sh + sb.n_sh - common) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = a
      |JOIN sizes sb ON sb.doc_id = b
      |ORDER BY jaccard DESC, a ASC, b ASC LIMIT 20""".stripMargin

  private[graft] val q20 =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
      |  CAST(CASE WHEN length(text) = 0 THEN -1
      |            ELSE ascii(substr(text, 1, 1)) END AS INTEGER) AS first_byte,
      |  CAST(CASE WHEN length(text) = 0 THEN -1
      |            ELSE ascii(substr(text, length(text), 1)) END AS INTEGER) AS last_byte,
      |  CAST(COALESCE(list_aggregate(
      |         list_transform(range(1, length(text) + 1),
      |                        i -> ascii(substr(text, i, 1))), 'sum') % 65536,
      |       0) AS BIGINT) AS checksum
      |FROM documents
      |WHERE octet_length(encode(text)) = length(text)
      |ORDER BY doc_id""".stripMargin

  private[graft] val q21 =
    """SELECT date_trunc('day', ts) AS day_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day_start, event_type""".stripMargin

  private[graft] val q22 =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id % 20 = 0),
      |scored AS (
      |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |    list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
      |    / sqrt(list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum'))
      |    / sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
      |    AS sim
      |  FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.qid)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private[graft] val q26 =
    """SELECT doc_id,
      |  CAST(list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(lower(text), ' '),
      |                     w -> CAST(ascii(w) * 37 + length(w) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1048576) AS BIGINT) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  private[graft] val q28 =
    s"""WITH scored AS (
       |${graft.functions.EmotionScore.scoreWideSql("documents", "doc_id", "text")})
       |SELECT * FROM scored ORDER BY doc_id""".stripMargin

  /** Full text pipeline: score documents with the lexicon scorer, split
    * into "episodes" (doc_id < 41) and "strains" (the rest), run the
    * reverse rank-match — the reference's whole cell-15 flow with real
    * text-derived vectors. */
  private[graft] val q29 = {
    val scoredSql = graft.functions.EmotionScore
      .scoreWideSql("documents", "doc_id", "text")
    val emoCols = Emotions.names.mkString(", ")
    s"""WITH scored AS ($scoredSql),
       |ep_wide AS (
       |  SELECT doc_id AS episode_id, $emoCols FROM scored WHERE doc_id < 41),
       |st_wide AS (
       |  SELECT doc_id AS strain_id, $emoCols FROM scored WHERE doc_id >= 41),
       |ep_long AS (${Emotions.longSql("ep_wide", Seq("episode_id"))}),
       |st_long AS (${Emotions.longSql("st_wide", Seq("strain_id"))}),
       |$rankMatchCore
       |SELECT b.strain_id, b.emo1, b.emo2, b.episode_id
       |FROM best b WHERE b.r2 = 1
       |ORDER BY b.strain_id""".stripMargin
  }

  /** The oracle verifies the RESULT of the JSON round-trip (Spark
    * builds payloads with concat and parses with from_json); the same
    * rows derive directly from part columns. */
  private[graft] val q30 =
    """SELECT flavor, COUNT(*) AS n_strains,
      |  COUNT(DISTINCT race) AS n_races,
      |  MIN(strain_id) AS min_strain_id
      |FROM (SELECT p_partkey AS strain_id, p_brand AS race,
      |        unnest(string_split(p_type, ' ')) AS flavor
      |      FROM part)
      |GROUP BY flavor ORDER BY flavor""".stripMargin

  /** Salted two-phase aggregation is result-identical to plain GROUP BY
    * for algebraic aggregates — the oracle is the unsalted query. */
  private[graft] val q31 =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Banded random-hyperplane LSH near-dup pairs, mirrored exactly:
    * the hyperplane constants are the engine's own
    * `Similarity.planeComponent` values emitted as correctly-rounded
    * double literals, projections/bucket bits accumulate in the same
    * left-to-right order as the Spark expressions, and only same-band
    * same-bucket pairs are cosine-verified — identical candidate set,
    * identical sims, bit-identical hash. */
  private val lshDims = 64
  private val lshPlanesPerBand = 4
  private val lshBands = 8

  /** One band's bucket id (sum of disjoint sign bits == the engine's
    * bitwise OR) as DuckDB SQL over the `embedding` column. */
  private def bandBucketSql(band: Int): String = {
    val bits = (0 until lshPlanesPerBand).map { p =>
      val plane = band * lshPlanesPerBand + p
      val cs = (0 until lshDims)
        .map(d => "CAST('" +
          java.lang.Double.toString(
            graft.operators.Similarity.planeComponent(plane, d)) +
          "' AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""(CASE WHEN list_aggregate(list_transform(range(1, ${lshDims + 1}),
         |    i -> CAST(embedding[i] AS DOUBLE) * ($cs)[i]), 'sum') >= 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }
    bits.mkString("(", "\n + ", ")")
  }

  private def cosineSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a.embedding) + 1),
       |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)), 'sum')
       |    / sqrt(list_aggregate(list_transform(range(1, len($a.embedding) + 1),
       |        i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE)), 'sum'))
       |    / sqrt(list_aggregate(list_transform(range(1, len($b.embedding) + 1),
       |        i -> CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)), 'sum'))""".stripMargin

  private[graft] val q32 = {
    val bandSelects = (0 until lshBands).map { b =>
      s"SELECT vec_id, $b AS band, ${bandBucketSql(b)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH banded AS (
       |$bandSelects),
       |cands AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |s AS (
       |  SELECT c.a, c.b, ${cosineSql("ea", "eb")} AS sim
       |  FROM cands c
       |  JOIN embeddings ea ON ea.vec_id = c.a
       |  JOIN embeddings eb ON eb.vec_id = c.b)
       |SELECT a, b FROM s WHERE sim >= 0.4 ORDER BY a, b""".stripMargin
  }

  private def urlSql(nameCol: String, idCol: String) =
    s"""'https://rickandmorty.fandom.com/wiki/' || regexp_replace(
       |    regexp_replace(
       |      CASE WHEN $idCol IN (19,25,32,35) THEN $nameCol
       |           ELSE regexp_replace($nameCol, ':', '', 'g') END,
       |      ',', '', 'g'), '\\s+', '_', 'g')""".stripMargin

  private[graft] val q33 =
    s"""WITH g9 AS ($q09),
       |episodes AS ($episodes),
       |strains AS ($strains)
       |SELECT t.episode_id, e.episode_name, t.strain_id, s.strain_name,
       |  ${urlSql("e.episode_name", "t.episode_id")} AS url
       |FROM (SELECT episode_id, strain_id,
       |        row_number() OVER (ORDER BY episode_id) AS rn FROM g9) t
       |JOIN episodes e USING (episode_id)
       |JOIN strains s USING (strain_id)
       |WHERE t.rn = 10""".stripMargin

  private[graft] val q34 =
    s"""WITH g8 AS ($q08)
       |SELECT strain_id, strain_name, episode_id, episode_name,
       |  ${urlSql("episode_name", "episode_id")} AS url
       |FROM g8
       |WHERE strain_name LIKE '%gear%'
       |ORDER BY strain_id""".stripMargin

  /** Element-wise centroid: float→decimal(18,9) is deterministic (no
    * binary double/float sits exactly on a decimal rounding boundary),
    * decimal sums exact in any order. Spark's posexplode pos is
    * 0-based; generate_subscripts-style range here is 1-based → -1. */
  private[graft] val q35 =
    """SELECT label, CAST(i - 1 AS INTEGER) AS pos,
      |  CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
      |    / COUNT(*) AS avg_value,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT label, i, embedding[CAST(i AS INTEGER)] AS v
      |  FROM embeddings, range(1, 65) t(i))
      |GROUP BY label, i ORDER BY label, pos""".stripMargin

  /** session_window(ts, gap): start = first event ts of the session,
    * end = last event ts + gap. Derived via the lag/sum session-id
    * assignment. */
  private[graft] val q36 =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessioned AS (
      |  SELECT user_id, ts,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 1800 SECOND AS session_end,
      |  COUNT(*) AS n_events
      |FROM sessioned GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  private[graft] val q37 =
    """SELECT doc_id,
      |  CAST(i AS INTEGER) AS frame_idx,
      |  CAST(i * 64 AS INTEGER) AS byte_offset,
      |  CAST(ascii(substr(text, CAST(i * 64 + 1 AS INTEGER), 1)) AS INTEGER)
      |    AS frame_key
      |FROM documents, range(0, 4) t(i)
      |WHERE octet_length(encode(text)) = length(text)
      |  AND i < length(text) // 64
      |ORDER BY doc_id, frame_idx""".stripMargin

  private[graft] val q38 =
    """WITH errors AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |purchases AS (
      |  SELECT user_id, ts, MAX(event_id) AS purchase_event_id
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, p.purchase_event_id
      |FROM errors e ASOF LEFT JOIN purchases p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  private[graft] val q39 =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  private[graft] val q40 =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private[graft] val q41 =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90,
      |  quantile_cont(value, 0.99) AS p99,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private[graft] val q42 =
    """SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS dup_key,
      |  COUNT(*) AS dup_count, MIN(doc_id) AS keeper_id
      |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin

  private[graft] val q43 =
    """SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY hour_of_day""".stripMargin

  private[graft] val q44 =
    s"""WITH strains AS ($strains),
       |st AS (SELECT strain_id, strain_name FROM strains)
       |SELECT a.strain_id AS a_id, a.strain_name AS a_name,
       |       b.strain_id AS b_id, b.strain_name AS b_name,
       |       CAST(levenshtein(a.strain_name, b.strain_name) AS INTEGER) AS dist
       |FROM st a JOIN st b ON a.strain_id < b.strain_id
       |WHERE levenshtein(a.strain_name, b.strain_name) <= 4
       |ORDER BY a_id, b_id""".stripMargin

  private[graft] val q45 =
    """SELECT source,
      |  COUNT(*) FILTER (WHERE lang = 'de') AS de,
      |  COUNT(*) FILTER (WHERE lang = 'en') AS en,
      |  COUNT(*) FILTER (WHERE lang = 'es') AS es,
      |  COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
      |  COUNT(*) FILTER (WHERE lang = 'zh') AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Connected components via recursive label walk: every node's
    * cluster is the min id reachable through the symmetric edge set. */
  private[graft] val q47 =
    s"""WITH RECURSIVE pairs AS ($q32),
       |sym AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION SELECT b AS src, a AS dst FROM pairs),
       |walk(node, label) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, w.label FROM sym s JOIN walk w ON w.node = s.dst)
       |SELECT node AS doc_id, MIN(label) AS cluster_id
       |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin

  private[graft] val q48 =
    """SELECT e.event_type, CAST(length(e.event_type) AS INTEGER) AS type_weight,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e
      |JOIN (SELECT DISTINCT event_type FROM events) d USING (event_type)
      |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin

  /** q49: the HLL++ estimate is engine-specific, so the oracle checks
    * the exact distinct counts and the VERDICT of the in-query verify
    * (hll_ok must come out true — estimate within 10% = 5σ at
    * rsd=0.02). */
  private[graft] val q49 =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(*) AS n_rows,
      |  true AS hll_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The oracle is the plain theta join — same rows as the bucketed
    * equi-join implementation. */
  private[graft] val q50 =
    """WITH bands AS (
      |  SELECT i AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
      |  FROM range(0, 12) t(i))
      |SELECT band_id, lo, hi, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS band_revenue
      |FROM orders JOIN bands
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id, lo, hi ORDER BY band_id""".stripMargin

  private[graft] val q51 =
    """SELECT event_type,
      |  CAST(MIN(k) AS INTEGER) AS min_k,
      |  CAST(MAX(k) AS INTEGER) AS max_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  COUNT(*) FILTER (WHERE k IS NULL) AS n_null
      |FROM (SELECT event_type,
      |        CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private[graft] val q52 =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |m AS (
       |  SELECT doc_id, len(w) AS n_words,
       |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE)
       |      / len(w) AS mean_len,
       |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS diversity,
       |    len(list_filter(w, x -> list_contains($enStop, x))) AS stop_hits
       |  FROM ws)
       |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       |  n_words >= 10 AND n_words <= 1000 AS ok_length,
       |  mean_len >= 2.0 AND mean_len <= 12.0 AS ok_word_len,
       |  stop_hits >= 1 AS ok_stopwords,
       |  diversity >= 0.1 AS ok_diversity,
       |  (n_words >= 10 AND n_words <= 1000)
       |    AND (mean_len >= 2.0 AND mean_len <= 12.0)
       |    AND stop_hits >= 1 AND diversity >= 0.1 AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  private[graft] val q53 =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
      .stripMargin

  private[graft] val q54 =
    """SELECT doc_id, lang, source, CAST(sample_rank AS INTEGER) AS sample_rank
      |FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY (doc_id % 2147483647) * 2654435761 % 2147483647 ASC,
      |               doc_id ASC) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 5 ORDER BY doc_id""".stripMargin

  private[graft] val q55 =
    """SELECT event_id,
      |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS INTEGER)
      |    AS n_redacted,
      |  regexp_replace(props, '[0-9]{2,}', '<NUM>', 'g') AS redacted
      |FROM events ORDER BY event_id""".stripMargin

  private[graft] val q56 =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
      |       GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, term ASC)
      |      AS term_rank
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score,
      |  CAST(term_rank AS INTEGER) AS term_rank
      |FROM scored WHERE term_rank <= 3
      |ORDER BY doc_id, term_rank""".stripMargin

  private[graft] val q57 =
    """SELECT doc_id, source, n_chars,
      |  CAST(SUM(n_chars) OVER w - n_chars AS BIGINT) AS tokens_before,
      |  CAST(FLOOR((SUM(n_chars) OVER w - n_chars) / 10000) AS BIGINT)
      |    AS shard_id
      |FROM documents
      |WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY doc_id""".stripMargin

  private[graft] val q58 =
    s"""WITH ws AS (
       |  SELECT doc_id, text, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text,
       |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS diversity,
       |    CAST(len(list_filter(w, x -> list_contains($enStop, x))) AS DOUBLE)
       |      / len(w) AS stop_ratio,
       |    least(CAST(len(w) AS DOUBLE) / 64.0, 1.0) AS length_score
       |  FROM ws),
       |q AS (
       |  SELECT doc_id, text,
       |    round(length_score * 0.4 + diversity * 0.4
       |          + least(stop_ratio * 4.0, 1.0) * 0.2, 6) AS quality
       |  FROM m),
       |ranked AS (
       |  SELECT doc_id, quality,
       |    row_number() OVER (PARTITION BY text
       |      ORDER BY quality DESC, doc_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY text) AS dup_count
       |  FROM q)
       |SELECT doc_id, dup_count, quality FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  private[graft] val q59 =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private[graft] val q60 =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private[graft] val q61 =
    """SELECT n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(RANK() OVER (
      |    ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, n_name)
      |    AS INTEGER) AS rnk
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY rnk""".stripMargin

  private[graft] val q27 =
    """SELECT s_suppkey, s_name, s_nationkey,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE) AS s_acctbal
      |FROM supplier WHERE s_nationkey < 10
      |UNION ALL
      |SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier WHERE s_nationkey >= 10
      |ORDER BY s_suppkey""".stripMargin

  /** The CSV round-trip's fixed point: the strain list itself (S6/S7 —
    * the sink+source pair must be lossless for header'd text data). */
  /** q62: the KLL-style sketch values are engine-specific; the oracle
    * checks the EXACT interpolated percentiles (quantile_cont ⇄ Spark
    * percentile, the q41 identity) and the verdict of the in-query
    * rank-error verify (ok25..ok99 must come out true). */
  private[graft] val q62 =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  quantile_cont(l_extendedprice, 0.25) AS p25,
      |  quantile_cont(l_extendedprice, 0.50) AS p50,
      |  quantile_cont(l_extendedprice, 0.75) AS p75,
      |  quantile_cont(l_extendedprice, 0.99) AS p99,
      |  true AS ok25, true AS ok50, true AS ok75, true AS ok99
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  private[graft] val q63 =
    s"""WITH strains AS ($strains)
       |SELECT strain_id, strain_name FROM strains
       |ORDER BY strain_id""".stripMargin

  /** Catalog introspection is engine metadata, so the oracle is the
    * expected constant: the three registered views and their parquet
    * schemas (Spark simpleString type names). */
  private[graft] val q64 =
    """SELECT * FROM (VALUES
      |  ('cat_nation', 'n_name', 'string'),
      |  ('cat_nation', 'n_nationkey', 'int'),
      |  ('cat_nation', 'n_regionkey', 'int'),
      |  ('cat_region', 'r_name', 'string'),
      |  ('cat_region', 'r_regionkey', 'int'),
      |  ('cat_supplier', 's_acctbal', 'double'),
      |  ('cat_supplier', 's_name', 'string'),
      |  ('cat_supplier', 's_nationkey', 'int'),
      |  ('cat_supplier', 's_suppkey', 'bigint'))
      |  t(table_name, column_name, data_type)
      |ORDER BY table_name, column_name""".stripMargin

  /** The map-explode result derives directly from part: keys are
    * 'p<partkey>', races p_brand, flavor counts the p_type word count;
    * counter ids by key order (binary collation in both engines). */
  private[graft] val q65 =
    """WITH e AS (
      |  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS strain_key,
      |         p_brand AS race,
      |         len(string_split(p_type, ' ')) AS n_flavors
      |  FROM part WHERE p_partkey <= 500)
      |SELECT CAST(row_number() OVER (ORDER BY strain_key) AS INT) AS row_id,
      |  strain_key, race, CAST(n_flavors AS INT) AS n_flavors
      |FROM e ORDER BY row_id""".stripMargin

  /** Identical HTML render + regexp paragraph extraction + Python
    * slices ([3:] and [4:9]) in DuckDB — the oracle exercises the
    * extraction semantics, not just a round-trip. */
  private[graft] val q66 =
    """SELECT doc_id,
      |  CAST(len(ps) AS INT) AS n_paragraphs,
      |  substr(array_to_string(ps[4:], ' '), 1, 200) AS body_from3,
      |  substr(array_to_string(ps[5:9], ' '), 1, 200) AS body_4to9
      |FROM (
      |  SELECT doc_id,
      |    regexp_extract_all(
      |      '<html><body><p class="nav">nav</p><p>hdr</p><p>ad</p>' ||
      |      array_to_string(list_transform(range(0, nchunks), i ->
      |        '<p>' || substr(text, CAST(i * 120 + 1 AS INT), 120) || '</p>'), '') ||
      |      '<p>footer</p></body></html>',
      |      '(?s)<p[^>]*>(.*?)</p>', 1) AS ps
      |  FROM (SELECT doc_id, text,
      |          greatest(CAST(ceil(length(text) / 120.0) AS INT), 1) AS nchunks
      |        FROM documents
      |        WHERE octet_length(encode(text)) = length(text)))
      |ORDER BY doc_id""".stripMargin

  /** The DSv2 source's payloads are deterministic functions of the
    * key, so the oracle derives the same aggregate from range(). */
  private[graft] val q67 =
    """SELECT 'R' || CAST(num % 5 AS VARCHAR) AS race,
      |  COUNT(*) AS n,
      |  CAST(SUM(num % 3 + 1) AS BIGINT) AS total_flavors
      |FROM range(1, 42) t(num)
      |GROUP BY 1 ORDER BY race""".stripMargin

  /** The streaming interval join's append output equals the batch
    * interval join (watermark + time-bound join → exactly-once emit). */
  private[graft] val q68 =
    """WITH e AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT e.user_id, COUNT(*) AS n_pairs, MIN(e.event_id) AS first_error_id
      |FROM e JOIN p ON e.user_id = p.user_id
      |  AND p.ts >= e.ts - INTERVAL 30 MINUTE AND p.ts <= e.ts
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  /** 5-gram shingles via the q19 construction; docs < 20 are the
    * benchmark, everything sharing a shingle with them is flagged. */
  // q71: Gopher repetition signals — gram building mirrors the Spark
  // transform/sequence construction (1-based w[i], space-joined), and
  // the top-fraction is CAST(max AS DOUBLE)/sum like the Spark side
  private[graft] val q71 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, 1 AS n, unnest(w) AS gram FROM ws
      |  UNION ALL
      |  SELECT doc_id, 2, unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1])) FROM ws
      |  UNION ALL
      |  SELECT doc_id, 3, unnest(list_transform(generate_series(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) FROM ws),
      |c AS (
      |  SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN n = 1 THEN cnt END) AS INTEGER) AS n_words,
      |  CAST(max(CASE WHEN n = 1 THEN cnt END) AS DOUBLE)
      |    / sum(CASE WHEN n = 1 THEN cnt END) AS top_word_frac,
      |  CAST(max(CASE WHEN n = 2 THEN cnt END) AS DOUBLE)
      |    / sum(CASE WHEN n = 2 THEN cnt END) AS top_bigram_frac,
      |  CAST(max(CASE WHEN n = 3 THEN cnt END) AS DOUBLE)
      |    / sum(CASE WHEN n = 3 THEN cnt END) AS top_trigram_frac
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q72: mixture sampling — the scramble mirrors q54's keyed hash and
  // the keep-rate arithmetic (min via LEAST, double division, the
  // rate·(2^31-1) threshold) matches the Spark side op-for-op
  private[graft] val q72 =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(string_split(lower(text), ' ')) AS n_words
      |  FROM documents),
      |t AS (
      |  SELECT source, sum(n_words) AS grp_tokens FROM d GROUP BY source)
      |SELECT doc_id, source, CAST(n_words AS INTEGER) AS n_words,
      |  LEAST(1.0, CAST(800 AS DOUBLE) / grp_tokens) AS keep_rate
      |FROM d JOIN t USING (source)
      |WHERE CAST((doc_id % 2147483647) * 2654435761 % 2147483647 AS DOUBLE)
      |  < LEAST(1.0, CAST(800 AS DOUBLE) / grp_tokens) * 2147483647.0
      |ORDER BY doc_id""".stripMargin

  // q73: sliding-window chunking — w[a:b] is 1-based inclusive, so
  // [k*16+1 : k*16+32] is DuckDB's spelling of slice(toks, k*16+1, 32)
  private[graft] val q73 =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, (len(toks) - 1) // 16)) AS chunk_id
      |  FROM d)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  array_to_string(toks[chunk_id*16+1 : chunk_id*16+32], ' ') AS chunk_text,
      |  CAST(len(toks[chunk_id*16+1 : chunk_id*16+32]) AS INTEGER)
      |    AS n_chunk_tokens
      |FROM k ORDER BY doc_id, chunk_id""".stripMargin

  // q74: SCD-2 intervals — lead() over (key; ts, seq) mirrors the
  // Spark window exactly; timestamps compare exactly (same parquet)
  private[graft] val q74 =
    """WITH p AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase')
      |SELECT event_id, user_id,
      |  ts AS valid_from,
      |  COALESCE(lead(ts) OVER w, TIMESTAMP '2100-01-01 00:00:00')
      |    AS valid_to,
      |  CAST(row_number() OVER w AS INTEGER) AS version,
      |  (lead(ts) OVER w IS NULL) AS is_current
      |FROM p
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY user_id, version""".stripMargin

  // q75: winsorization — quantile_cont == Spark's exact percentile
  // (same linear interpolation, pinned by q41); LEAST/GREATEST mirror
  private[graft] val q75 =
    """WITH b AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS band_lo,
      |    quantile_cont(value, 0.95) AS band_hi
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |  LEAST(GREATEST(value, band_lo), band_hi) AS value_winsorized
      |FROM events e JOIN b USING (event_type)
      |ORDER BY event_id""".stripMargin

  // q76: z-score — moments from exact DECIMAL(18,6) sums (the q48
  // convention), then one fixed double-operation order on both sides
  private[graft] val q76 =
    """WITH s AS (
      |  SELECT event_type, count(*) AS n_grp,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))
      |             * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |  (value - s1 / n_grp)
      |    / sqrt((s2 - s1 * s1 / n_grp) / (n_grp - 1)) AS value_z
      |FROM events e JOIN s USING (event_type)
      |ORDER BY event_id""".stripMargin

  // q77: incremental-batch dedup — near-dup side mirrors q19's shingle
  // and hot-prune conventions, restricted to (corpus a < 400 <= batch b)
  private[graft] val q77 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM ws WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |rare AS (
      |  SELECT doc_id, shingle FROM post
      |  WHERE shingle NOT IN (
      |    SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) > 50)),
      |pairs AS (
      |  SELECT p1.doc_id AS a, p2.doc_id AS b, COUNT(*) AS common
      |  FROM rare p1 JOIN rare p2 USING (shingle)
      |  WHERE p1.doc_id < 400 AND p2.doc_id >= 400
      |  GROUP BY 1, 2),
      |near AS (
      |  SELECT DISTINCT b AS doc_id FROM pairs
      |  JOIN sizes sa ON sa.doc_id = a
      |  JOIN sizes sb ON sb.doc_id = b
      |  WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.6),
      |ex AS (
      |  SELECT DISTINCT d2.doc_id
      |  FROM documents d2 JOIN documents d1
      |    ON lower(trim(d2.text)) = lower(trim(d1.text))
      |  WHERE d2.doc_id >= 400 AND d1.doc_id < 400)
      |SELECT d.doc_id,
      |  (ex.doc_id IS NOT NULL) AS dup_exact,
      |  (near.doc_id IS NOT NULL) AS near_dup
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
      |LEFT JOIN ex USING (doc_id)
      |LEFT JOIN near USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // q78: stratified split — scramble order (q54 convention) + integer
  // cut arithmetic (rn·100 ≤ cnt·pct), no float thresholds
  private[graft] val q78 =
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY (doc_id % 2147483647) * 2654435761 % 2147483647 ASC,
      |               doc_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS cnt
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CASE WHEN rn * 100 <= cnt * 80 THEN 'train'
      |       WHEN rn * 100 <= cnt * 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM r ORDER BY doc_id""".stripMargin

  // q79: ExactSubstr duplicated spans — the oracle groups on the raw
  // 8-token span TEXT where the Spark side groups on xxhash64(span)
  // (fixed-width shuffle key; collision bound documented in Dedup).
  // Slice toks[pos : pos+7] is 1-based INCLUSIVE, mirroring Spark's
  // slice(toks, pos, 8).
  private[graft] val q79 =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks) - 7)) AS pos
      |  FROM d WHERE len(toks) >= 8),
      |sp AS (
      |  SELECT doc_id,
      |    array_to_string(toks[pos : pos + 7], ' ') AS span
      |  FROM s),
      |dup AS (
      |  SELECT span, 1 AS is_dup FROM sp
      |  GROUP BY span HAVING count(DISTINCT doc_id) >= 2)
      |SELECT sp.doc_id,
      |  count(*) AS n_spans,
      |  count(dup.is_dup) AS n_dup_spans,
      |  CAST(count(dup.is_dup) AS DOUBLE) / count(*) AS dup_frac,
      |  count(dup.is_dup) > 0 AS has_dup
      |FROM sp LEFT JOIN dup USING (span)
      |GROUP BY sp.doc_id
      |ORDER BY sp.doc_id""".stripMargin

  // q80: unigram-LM doc scoring — per-token ln(p) quantized to
  // DECIMAL(18,9) before the (exact, order-independent) sum; the mean
  // is ONE double division at the end, mirroring the Spark op order.
  // The 1e-9 grid absorbs JVM-vs-DuckDB ln() last-ulp noise.
  private[graft] val q80 =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      |tot AS (SELECT sum(cnt) AS total FROM f),
      |s AS (
      |  SELECT t.doc_id,
      |    ln(CAST(f.cnt AS DOUBLE) / tot.total) AS lnp,
      |    CAST(ln(CAST(f.cnt AS DOUBLE) / tot.total)
      |      AS DECIMAL(18,9)) AS lnp9
      |  FROM t JOIN f USING (tok) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(lnp9) AS DOUBLE) / count(*) AS mean_logprob,
      |  min(lnp) AS min_logprob
      |FROM s GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // q81: strictly-ordered funnel — each step's CTE keeps users whose
  // earliest step event is strictly after their step-(k-1) time. All
  // comparisons at microsecond precision (epoch_us) to mirror Spark's
  // NANOS→micros read truncation; ONE double division for the rate.
  private[graft] val q81 =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, min(t) AS t FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.t > s1.t GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'signup' AND e.t > s2.t GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s3 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.t > s3.t
      |       GROUP BY e.user_id),
      |c AS (
      |  SELECT 1 AS step, 'view' AS event_type,
      |    (SELECT count(*) FROM s1) AS n_users
      |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |  UNION ALL SELECT 3, 'signup', (SELECT count(*) FROM s3)
      |  UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
      |SELECT step, event_type, n_users,
      |  CAST(n_users AS DOUBLE) /
      |    (SELECT n_users FROM c WHERE step = 1) AS frac_of_first
      |FROM c ORDER BY step""".stripMargin

  // q82: weekly cohort retention. week_offset mirrors Spark's
  // floor(datediff/7.0) double op order exactly.
  private[graft] val q82 =
    """WITH f AS (
      |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
      |SELECT CAST(date_trunc('week', f.first_ts) AS TIMESTAMP)
      |    AS cohort_week,
      |  CAST(floor(date_diff('day', CAST(f.first_ts AS DATE),
      |    CAST(e.ts AS DATE)) / CAST('7.0' AS DOUBLE)) AS BIGINT)
      |    AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // q83: vocabulary coverage cut — keep predicate is pure integer math
  // ((cum−cnt)·10 < total·9) so the boundary token is engine-exact.
  private[graft] val q83 =
    """WITH t AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      |tot AS (SELECT sum(cnt) AS total FROM f),
      |r AS (
      |  SELECT tok, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
      |    sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
      |                   ROWS UNBOUNDED PRECEDING) AS cum_cnt,
      |    total
      |  FROM f CROSS JOIN tot)
      |SELECT tok, cnt, CAST(rank AS INTEGER) AS rank,
      |  CAST(cum_cnt AS DOUBLE) / total AS cum_frac
      |FROM r WHERE (cum_cnt - cnt) * 10 < total * 9
      |ORDER BY rank""".stripMargin

  // q84: int8 quantization audit. Per-element double math in ONE fixed
  // op order (bit-identical across engines); the order-sensitive Σerr²
  // goes through the DECIMAL(28,15) quantization grid (exact sum), then
  // ONE double division.
  private[graft] val q84 =
    """WITH base AS (
      |  SELECT vec_id,
      |    list_aggregate(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE))), 'max') AS amax,
      |    CAST(len(embedding) AS INTEGER) AS dim,
      |    unnest(embedding) AS xf
      |  FROM embeddings),
      |el AS (
      |  SELECT vec_id, amax, dim, CAST(xf AS DOUBLE) AS x FROM base),
      |err AS (
      |  SELECT vec_id, amax, dim,
      |    CASE WHEN amax = CAST('0.0' AS DOUBLE) THEN CAST('0.0' AS DOUBLE)
      |         ELSE x - greatest(CAST('-127.0' AS DOUBLE),
      |                 least(CAST('127.0' AS DOUBLE),
      |                   floor(x / (amax / CAST('127.0' AS DOUBLE))
      |                     + CAST('0.5' AS DOUBLE))))
      |               * (amax / CAST('127.0' AS DOUBLE))
      |    END AS e
      |  FROM el)
      |SELECT vec_id, dim, amax,
      |  CAST(sum(CAST(e * e AS DECIMAL(28,15))) AS DOUBLE) / dim AS mse,
      |  max(abs(e)) AS max_abs_err
      |FROM err GROUP BY vec_id, dim, amax
      |ORDER BY vec_id""".stripMargin

  // q85: BM25 with the log-free idf (N−df+0.5)/(df+0.5) — monotone in
  // df like the ln form, but engine-exact (house rule, see q56). Score
  // written in the exact Spark op order; double literals via CAST.
  private[graft] val q85 =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |dl AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |corpus AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term IN ('spark', 'stream', 'join', 'window')
      |  GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT t.term, t.doc_id, t.tf, dfq.df, dl.dl,
      |    ((CAST(c.n_docs - dfq.df AS DOUBLE) + CAST('0.5' AS DOUBLE)) /
      |       (CAST(dfq.df AS DOUBLE) + CAST('0.5' AS DOUBLE))) *
      |      (CAST(t.tf AS DOUBLE) * CAST('2.2' AS DOUBLE)) /
      |      (CAST(t.tf AS DOUBLE) + CAST('1.2' AS DOUBLE) *
      |        (CAST('0.25' AS DOUBLE) + CAST('0.75' AS DOUBLE) *
      |          (CAST(dl.dl AS DOUBLE) / c.avgdl))) AS score
      |  FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN corpus c),
      |ranked AS (
      |  SELECT term, doc_id, tf, df, dl, score,
      |    row_number() OVER (PARTITION BY term
      |                       ORDER BY score DESC, doc_id ASC) AS rnk
      |  FROM scored)
      |SELECT term, doc_id, tf, df, dl, score, CAST(rnk AS INTEGER) AS rnk
      |FROM ranked WHERE rnk <= 10 ORDER BY term, rnk""".stripMargin

  // q86: cross-source 5-gram overlap matrix. Spark joins on xxhash64
  // of the shingle; the oracle joins raw shingle text (same accepted
  // collision rounding as q79). 5-gram assembly mirrors q69's kernel.
  private[graft] val q86 =
    """WITH ws AS (
      |  SELECT source, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(w) - 3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |           w[i+3] || ' ' || w[i+4])) AS shingle
      |  FROM ws WHERE len(w) >= 5),
      |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS shared_shingles
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |    AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.source_a, s.source_b, sa.n AS n_a, sb.n AS n_b,
      |  s.shared_shingles,
      |  CAST(s.shared_shingles AS DOUBLE) /
      |    (sa.n + sb.n - s.shared_shingles) AS jaccard
      |FROM shared s
      |JOIN sizes sa ON s.source_a = sa.source
      |JOIN sizes sb ON s.source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  // q87: corpus-order 5-gram novelty — first corpus occurrence =
  // min(doc_id) over documents containing the shingle.
  private[graft] val q87 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |           w[i+3] || ' ' || w[i+4])) AS shingle
      |  FROM ws WHERE len(w) >= 5),
      |fo AS (SELECT shingle, min(doc_id) AS first_doc
      |       FROM sh GROUP BY shingle)
      |SELECT sh.doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |      AS DOUBLE) / count(*) AS novelty
      |FROM sh JOIN fo USING (shingle)
      |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin

  // q88: ANALYZE-style column profile — the oracle builds the same
  // long form with UNION ALL; sums through DECIMAL(18,2) (house rule).
  private[graft] val q88 =
    """WITH p AS (
      |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', l_discount FROM lineitem)
      |SELECT col_name, count(*) AS n,
      |  count(*) - count(v) AS n_null,
      |  count(DISTINCT v) AS ndv,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM p GROUP BY col_name ORDER BY col_name""".stripMargin

  // q89: equi-depth histogram from exact interpolated decile
  // boundaries (quantile_cont == Spark percentile, q41-verified);
  // bin = 1 + Σ (v > boundary), strict > so ties land low both sides.
  private[graft] val q89 =
    """WITH b AS (
      |  SELECT quantile_cont(l_extendedprice, 0.1) AS b1,
      |         quantile_cont(l_extendedprice, 0.2) AS b2,
      |         quantile_cont(l_extendedprice, 0.3) AS b3,
      |         quantile_cont(l_extendedprice, 0.4) AS b4,
      |         quantile_cont(l_extendedprice, 0.5) AS b5,
      |         quantile_cont(l_extendedprice, 0.6) AS b6,
      |         quantile_cont(l_extendedprice, 0.7) AS b7,
      |         quantile_cont(l_extendedprice, 0.8) AS b8,
      |         quantile_cont(l_extendedprice, 0.9) AS b9
      |  FROM lineitem)
      |SELECT 1 + CAST(l_extendedprice > b1 AS INTEGER)
      |         + CAST(l_extendedprice > b2 AS INTEGER)
      |         + CAST(l_extendedprice > b3 AS INTEGER)
      |         + CAST(l_extendedprice > b4 AS INTEGER)
      |         + CAST(l_extendedprice > b5 AS INTEGER)
      |         + CAST(l_extendedprice > b6 AS INTEGER)
      |         + CAST(l_extendedprice > b7 AS INTEGER)
      |         + CAST(l_extendedprice > b8 AS INTEGER)
      |         + CAST(l_extendedprice > b9 AS INTEGER) AS bin,
      |  count(*) AS n,
      |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM lineitem CROSS JOIN b
      |GROUP BY 1 ORDER BY bin""".stripMargin

  // q90: funnel conversion latency — q81's step chain, then one
  // aggregation over integer-microsecond latencies (percentile ≡
  // quantile_cont, the q41-verified equivalence).
  private[graft] val q90 =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, min(t) AS t FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.t > s1.t GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'signup' AND e.t > s2.t GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s3 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.t > s3.t
      |       GROUP BY e.user_id),
      |lat AS (
      |  SELECT s4.t - s1.t AS lat_us FROM s4 JOIN s1 USING (user_id))
      |SELECT count(*) AS n_converted,
      |  quantile_cont(lat_us, 0.5) AS p50_us,
      |  quantile_cont(lat_us, 0.9) AS p90_us,
      |  max(lat_us) AS max_us
      |FROM lat""".stripMargin

  private[graft] val q69 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |           w[i+3] || ' ' || w[i+4]))) AS shingle
      |  FROM ws WHERE len(w) >= 5),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
      |flagged AS (
      |  SELECT DISTINCT doc_id FROM sh
      |  WHERE doc_id >= 20 AND shingle IN (SELECT shingle FROM bench))
      |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
      |LEFT JOIN flagged f USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // q91: block-level boilerplate removal — oracle groups the raw
  // 16-word block TEXT (Spark counts df on xxhash64(block), q79
  // convention); toks[a : a+15] is 1-based inclusive = 16 elements,
  // mirroring slice(toks, a, 16); list(... ORDER BY block_id) FILTER
  // restores original order over surviving blocks, COALESCE('') for
  // all-boilerplate documents (Spark concat_ws of an empty array).
  private[graft] val q91 =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, (len(toks) - 1) // 16)) AS block_id
      |  FROM d),
      |blocks AS (
      |  SELECT doc_id, block_id,
      |    array_to_string(toks[block_id*16+1 : block_id*16+16], ' ') AS btext
      |  FROM b),
      |bdf AS (
      |  SELECT btext, count(DISTINCT doc_id) AS block_df
      |  FROM blocks GROUP BY btext)
      |SELECT doc_id,
      |  count(*) AS n_blocks,
      |  count(CASE WHEN block_df < 3 THEN 1 END) AS n_kept,
      |  COALESCE(array_to_string(
      |    list(btext ORDER BY block_id) FILTER (WHERE block_df < 3),
      |    ' '), '') AS clean_text
      |FROM blocks JOIN bdf USING (btext)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q92: SemDeDup within label clusters — cosine via the shared
  // cosineSql kernel (same left-to-right double op order as the native
  // expression, q32-pinned); max/count over identically-computed sims;
  // -2.0 sentinel for vectors with no earlier cluster-mate.
  private[graft] val q92 =
    s"""WITH p AS (
       |  SELECT y.vec_id AS b, ${cosineSql("x", "y")} AS sim
       |  FROM embeddings x JOIN embeddings y
       |    ON x.label = y.label AND x.vec_id < y.vec_id),
       |agg AS (
       |  SELECT b AS vec_id, max(sim) AS max_sim_earlier,
       |    count(CASE WHEN sim >= 0.30 THEN 1 END) AS n_earlier_dups
       |  FROM p GROUP BY b)
       |SELECT e.vec_id, e.label AS cluster,
       |  COALESCE(max_sim_earlier, -2.0) AS max_sim_earlier,
       |  COALESCE(n_earlier_dups, 0) AS n_earlier_dups,
       |  COALESCE(n_earlier_dups, 0) = 0 AS keep
       |FROM embeddings e LEFT JOIN agg USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  // q93: Efraimidis–Spirakis weighted sample — u mirrors q72's keyed
  // hash (+1 so u > 0), the E-S key u^(1/w) is quantized to
  // DECIMAL(18,9) on BOTH sides before ranking (pow() is not
  // bit-specified across libms; the 1e-9 grid absorbs last-ulp noise,
  // grid ties break by doc_id).
  private[graft] val q93 =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(pow(
      |      CAST((doc_id % 2147483647) * 2654435761 % 2147483647 + 1
      |        AS DOUBLE) / 2147483648.0,
      |      1.0 / CAST(n_chars AS DOUBLE)) AS DECIMAL(18,9)) AS k
      |  FROM documents)
      |SELECT doc_id, source, n_chars,
      |  CAST(row_number() OVER (ORDER BY k DESC, doc_id ASC) AS INTEGER)
      |    AS sample_rank
      |FROM d ORDER BY k DESC, doc_id ASC LIMIT 100""".stripMargin

  // q94: global contiguous ids — the oracle IS the one-partition
  // window the Spark side refuses to run; (source, doc_id) is a
  // unique total order, so both spellings agree exactly.
  private[graft] val q94 =
    """SELECT doc_id, source,
      |  row_number() OVER (ORDER BY source, doc_id) AS global_id
      |FROM documents ORDER BY doc_id""".stripMargin

  // q95: heavy hitters — the Spark side runs Misra-Gries(k=28)
  // candidates + exact verify; with threshold cnt·29 > N the sketch
  // guarantees zero false negatives, so the answer IS the plain
  // GROUP BY / HAVING heavy-hitter set.
  private[graft] val q95 =
    """WITH w AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |t AS (SELECT count(*) AS n_total FROM w)
      |SELECT word, count(*) AS cnt
      |FROM w GROUP BY word
      |HAVING count(*) * 29 > (SELECT n_total FROM t)
      |ORDER BY word""".stripMargin

  /** q101: the 16-term Morton interleave unrolled to portable SQL bit
    * ops — generated by the same (i, dim) loop as
    * `ZOrder.interleaveBits`, so oracle and engine share the bit
    * placement by construction (bit i of dim k → position i·ndims+k). */
  private[graft] val q101 = {
    val dims = Seq(
      "(o_custkey % 256)",
      "least(255, greatest(0, CAST(floor(o_totalprice / 2500.0) AS BIGINT)))")
    val z = (for {
      i <- 0 until 8
      (x, k) <- dims.zipWithIndex
    } yield s"((($x >> $i) & 1) << ${i * dims.size + k})").mkString(" | ")
    s"""WITH b AS (
       |  SELECT ${dims(0)} AS ck, ${dims(1)} AS pb, ($z) AS zval
       |  FROM orders)
       |SELECT zval >> 6 AS z_cell, COUNT(*) AS n_orders,
       |  MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       |  MIN(pb) AS min_pb, MAX(pb) AS max_pb
       |FROM b GROUP BY 1 ORDER BY z_cell""".stripMargin
  }

  /** q102: 5 PageRank iterations unrolled as CTEs, generated by a loop
    * so oracle and engine share the exact integer recurrence:
    * contrib = (rank·w) // out_w summed per dst,
    * rank' = (15·r0 + 85·Σ) // 100, r0 = 1e9 // |V|. All-bigint, so
    * partial-sum order is irrelevant and every bit matches. */
  private[graft] val q102 = {
    val scale = 1000000000L
    val its = (1 to 5).map { t =>
      s"""it$t AS (
         |  SELECT n.node,
         |    (CAST(15 * (SELECT r0 FROM init) AS BIGINT)
         |      + 85 * COALESCE(c.s, CAST(0 AS BIGINT))) // 100 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank * e.w) // o.ow) AS s
         |    FROM edges e
         |    JOIN it${t - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |init AS (SELECT $scale // COUNT(*) AS r0 FROM nodes),
       |it0 AS (SELECT node, (SELECT r0 FROM init) AS rank FROM nodes),
       |$its
       |SELECT node AS nationkey, CAST(rank AS BIGINT) AS pagerank_scaled
       |FROM it5 ORDER BY nationkey""".stripMargin
  }

  /** q103: the CMS estimate is engine-specific; the oracle checks the
    * exact top-20 counts (deterministic tie-break) and the verdict of
    * the in-query bound check. */
  private[graft] val q103 =
    """WITH w AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents)
      |SELECT word, COUNT(*) AS exact_cnt, true AS cms_ok
      |FROM w GROUP BY word
      |ORDER BY exact_cnt DESC, word ASC LIMIT 20""".stripMargin

  /** q104: the bucketed layout changes the PLAN (no exchange), never
    * the answer — the oracle is the plain join/agg. */
  private[graft] val q104 =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q105: one row per expectation with its violation count. */
  private[graft] val q105 =
    """WITH checks AS (
      |  SELECT 'o_orderkey_not_null' AS "check",
      |    COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey_not_null',
      |    COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice_nonnegative',
      |    COUNT(*) FILTER (WHERE o_totalprice < 0) FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice_upper_bound',
      |    COUNT(*) FILTER (WHERE o_totalprice > 1000000.0) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus_in_domain',
      |    COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderkey_unique',
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL
      |  SELECT 'orders_custkey_in_customer', COUNT(*) FROM orders
      |  WHERE o_custkey IS NOT NULL
      |    AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      |SELECT "check", violations, violations = 0 AS passed
      |FROM checks ORDER BY "check"""".stripMargin

  /** q106: last-writer-wins CDC fold as a window + anti-join. */
  private[graft] val q106 =
    """WITH ch AS (
      |  SELECT o_custkey AS c_custkey, o_orderkey AS seq,
      |    CASE o_orderstatus WHEN 'P' THEN 'D' WHEN 'O' THEN 'I'
      |         ELSE 'U' END AS op,
      |    'o' || CAST(o_orderkey AS VARCHAR) AS c_name,
      |    o_totalprice AS c_acctbal
      |  FROM orders),
      |last AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_custkey
      |      ORDER BY seq DESC) AS rn FROM ch)
      |  WHERE rn = 1)
      |SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM last)
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal FROM last WHERE op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** q107: triangles of the undirected nation trade graph — counted
    * once each via the u<v<w edge-triple join. */
  private[graft] val q107 =
    """WITH e0 AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |e AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM e0 WHERE src <> dst)
      |SELECT COUNT(*) AS n_triangles
      |FROM e a JOIN e b ON a.u = b.u AND a.v < b.v
      |JOIN e c ON c.u = a.v AND c.v = b.v""".stripMargin

  /** q108: Jaro-Winkler linkage pairs. DuckDB's
    * `jaro_winkler_similarity` is the rapidfuzz formulation; the
    * engine's native expression was verified bit-exact against it, so
    * the raw double survives the hash compare. The first-char block
    * mirrors the Spark side exactly. */
  private[graft] val q108 =
    s"""WITH strains AS ($strains),
       |st AS (SELECT strain_id, strain_name FROM strains)
       |SELECT a.strain_id AS a_id, a.strain_name AS a_name,
       |       b.strain_id AS b_id, b.strain_name AS b_name,
       |       jaro_winkler_similarity(a.strain_name, b.strain_name) AS jw
       |FROM st a JOIN st b
       |  ON substr(a.strain_name, 1, 1) = substr(b.strain_name, 1, 1)
       | AND a.strain_id < b.strain_id
       |WHERE jaro_winkler_similarity(a.strain_name, b.strain_name) >= 0.85
       |ORDER BY a_id, b_id""".stripMargin

  /** q109: BFS levels from nation 0 over each nation's top-3 trade
    * routes, replayed as a recursive CTE (UNION dedups (node, dist)
    * pairs, so the walk terminates; MIN picks the first-reach hop). */
  private[graft] val q109 =
    """WITH RECURSIVE edges AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |heavy AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst, ROW_NUMBER() OVER (
      |      PARTITION BY src ORDER BY w DESC, dst ASC) AS rn
      |    FROM edges)
      |  WHERE rn <= 3),
      |walk(node, dist) AS (
      |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
      |  UNION
      |  SELECT e.dst, w.dist + 1
      |  FROM walk w JOIN heavy e ON e.src = w.node
      |  WHERE w.dist < 30)
      |SELECT node AS nationkey, CAST(MIN(dist) AS INT) AS dist
      |FROM walk GROUP BY node ORDER BY nationkey""".stripMargin

  /** q110: month date-spine gap fill over sampled customers. */
  private[graft] val q110 =
    """WITH f AS (SELECT * FROM orders WHERE o_custkey % 100 = 0),
      |obs AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
      |         COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM f GROUP BY 1, 2),
      |bounds AS (
      |  SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS lo,
      |         MAX(date_trunc('month', o_orderdate)) AS hi
      |  FROM f GROUP BY 1),
      |spine AS (
      |  SELECT o_custkey, UNNEST(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
      |  FROM bounds)
      |SELECT s.o_custkey, s.month,
      |       COALESCE(o.n_orders, 0) AS n_orders,
      |       COALESCE(o.revenue, 0) AS revenue
      |FROM spine s
      |LEFT JOIN obs o ON s.o_custkey = o.o_custkey AND s.month = o.month
      |ORDER BY 1, 2""".stripMargin

  /** q111: trailing 24 h mean purchase value per user — RANGE frame on
    * the microsecond epoch axis (epoch_us ⇄ unix_micros), decimal-exact
    * sum ÷ count. */
  private[graft] val q111 =
    """SELECT event_id, user_id,
      |  COUNT(*) OVER w AS win_n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |    / (COUNT(*) OVER w) AS win_avg
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q112: Simpson (collision) token diversity — integer ratio, one
    * correctly-rounded double division at the end. */
  private[graft] val q112 =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_distinct,
      |  CAST(SUM(c * c) AS BIGINT) AS sum_sq,
      |  CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)) AS collision_prob
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q113: top-5 word trigrams per language, ties lexicographic. */
  private[graft] val q113 =
    """WITH w AS (
      |  SELECT lang, string_split(lower(text), ' ') AS ws FROM documents),
      |tri AS (
      |  SELECT lang, array_to_string(ws[i:i+2], ' ') AS gram
      |  FROM w, UNNEST(range(1, len(ws) - 1)) t(i)
      |  WHERE len(ws) >= 3),
      |cnt AS (SELECT lang, gram, COUNT(*) AS cnt FROM tri GROUP BY 1, 2),
      |rk AS (
      |  SELECT lang, gram, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY cnt DESC, gram ASC) AS rank
      |  FROM cnt)
      |SELECT lang, gram, cnt, CAST(rank AS INT) AS rank
      |FROM rk WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** q114: explicit GROUPING SETS with grouping_id tag (DuckDB's
    * GROUPING(a,b) bit order matches Spark's grouping_id). */
  private[graft] val q114 =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin

  /** q115: per-type deciles under a total order (value, id). */
  private[graft] val q115 =
    """WITH d AS (
      |  SELECT event_type,
      |    CAST(ntile(10) OVER (PARTITION BY event_type
      |                         ORDER BY value, event_id) AS INT) AS decile,
      |    value
      |  FROM events)
      |SELECT event_type, decile, COUNT(*) AS n,
      |       MIN(value) AS min_v, MAX(value) AS max_v
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q116: snapshot diff — supplier vs a simulated next-day version;
    * the full-outer-join delta with null-safe column compare. */
  private[graft] val q116 =
    """WITH a AS (
      |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier),
      |b AS (
      |  SELECT s_suppkey, s_name, s_nationkey,
      |    CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 10
      |         ELSE s_acctbal END AS s_acctbal
      |  FROM a WHERE s_suppkey % 13 <> 0
      |  UNION ALL
      |  SELECT s_suppkey + 100000, s_name, s_nationkey, s_acctbal
      |  FROM a WHERE s_suppkey % 11 = 0),
      |j AS (
      |  SELECT a.s_suppkey AS ak, b.s_suppkey AS bk,
      |    a.s_name AS a_s_name, a.s_nationkey AS a_s_nationkey,
      |    a.s_acctbal AS a_s_acctbal,
      |    b.s_name AS b_s_name, b.s_nationkey AS b_s_nationkey,
      |    b.s_acctbal AS b_s_acctbal
      |  FROM a FULL OUTER JOIN b ON a.s_suppkey = b.s_suppkey)
      |SELECT COALESCE(ak, bk) AS s_suppkey,
      |  CASE WHEN ak IS NULL THEN 'added'
      |       WHEN bk IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type,
      |  a_s_name, a_s_nationkey, a_s_acctbal,
      |  b_s_name, b_s_nationkey, b_s_acctbal
      |FROM j
      |WHERE ak IS NULL OR bk IS NULL
      |   OR NOT (a_s_name IS NOT DISTINCT FROM b_s_name
      |       AND a_s_nationkey IS NOT DISTINCT FROM b_s_nationkey
      |       AND a_s_acctbal IS NOT DISTINCT FROM b_s_acctbal)
      |ORDER BY s_suppkey, change_type""".stripMargin

  /** q117: MAD robust outliers — exact lower medians (rank (n+1)//2
    * under (value, id)), never interpolated, so bit-exact. */
  private[graft] val q117 =
    """WITH v AS (SELECT event_id, event_type, value FROM events),
      |r1 AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM v),
      |med AS (SELECT event_type, value AS med FROM r1 WHERE rn = (n+1)//2),
      |d AS (
      |  SELECT v.event_id, v.event_type, v.value, m.med,
      |         ABS(v.value - m.med) AS dev
      |  FROM v JOIN med m USING (event_type)),
      |r2 AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY dev, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM d),
      |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n+1)//2)
      |SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
      |  CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END AS is_outlier
      |FROM d JOIN mad m USING (event_type)
      |ORDER BY d.event_id""".stripMargin

  /** q118: exact-phrase hits — the oracle counts aligned token windows
    * directly (list slice), the engine answers through the positional
    * inverted index; same semantics, different plan. */
  private[graft] val q118 =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)
      |SELECT doc_id, COUNT(*) AS n_hits
      |FROM w, UNNEST(range(1, len(ws) - 1)) t(i)
      |WHERE len(ws) >= 3
      |  AND array_to_string(ws[i:i+2], ' ') = 'a slow query'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q119: concurrent sessions — the oracle replays the q36 session
    * windows then does the quadratic overlap self-join the bucketed
    * interval join replaces. */
  private[graft] val q119 =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessioned AS (
      |  SELECT user_id, ts,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, epoch_us(MIN(ts)) AS lo,
      |         epoch_us(MAX(ts) + INTERVAL 1800 SECOND) AS hi
      |  FROM sessioned GROUP BY user_id, session_id)
      |SELECT a.user_id, a.lo AS start_us, COUNT(*) AS n_concurrent
      |FROM sess a JOIN sess b
      |  ON a.user_id <> b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q120: skyline — quadratic NOT EXISTS domination check; the engine
    * answers with the sort-based linear frontier. */
  private[graft] val q120 =
    """WITH p AS (SELECT p_partkey, p_retailprice, p_size FROM part)
      |SELECT p_partkey, p_retailprice, p_size FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin

  /** q121: incremental aggregate maintenance — the oracle is the
    * DIRECT group-by over the whole table; decimal-exact merge means
    * incremental must equal it bit-for-bit. */
  private[graft] val q121 =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q122: FK orphan counts (one dimension deliberately broken). */
  private[graft] val q122 =
    """SELECT 'lineitem->orders' AS relationship, COUNT(*) AS n_orphans
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem->part_broken', COUNT(*)
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM part p
      |                  WHERE p.p_partkey % 50 <> 0
      |                    AND p.p_partkey = l.l_partkey)
      |UNION ALL
      |SELECT 'orders->customer', COUNT(*)
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_custkey = o.o_custkey)
      |ORDER BY relationship""".stripMargin

  /** q123: top-20 co-purchased part pairs by shared-order count. */
  private[graft] val q123 =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |SELECT a.pk AS a, b.pk AS b, COUNT(*) AS n_orders
      |FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, a ASC, b ASC
      |LIMIT 20""".stripMargin

  /** q124: rolling 7-day actives — the oracle uses the day-range join
    * the engine's explode-fan-out form replaces. */
  private[graft] val q124 =
    """WITH du AS (
      |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1),
      |wau AS (
      |  SELECT d.day, COUNT(DISTINCT u.user_id) AS wau7
      |  FROM days d JOIN du u
      |    ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |  GROUP BY 1)
      |SELECT d.day, dau.dau, wau.wau7
      |FROM days d JOIN dau USING (day) JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  /** q125: most common 3-step event-type paths per user order. */
  private[graft] val q125 =
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |SELECT e1, e2, e3, COUNT(*) AS n
      |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC
      |LIMIT 15""".stripMargin

  /** q126: anti-entropy repair plan — the oracle is the FULL key-level
    * diff (q116 family) plus the bucket id; matching it proves the
    * engine's bucket-fingerprint pruning dropped nothing. */
  private[graft] val q126 =
    """WITH a AS (SELECT s_suppkey, s_acctbal FROM supplier),
      |b AS (
      |  SELECT s_suppkey,
      |    CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 10
      |         ELSE s_acctbal END AS s_acctbal
      |  FROM a WHERE s_suppkey % 13 <> 0
      |  UNION ALL
      |  SELECT s_suppkey + 100000, s_acctbal FROM a WHERE s_suppkey % 11 = 0),
      |j AS (
      |  SELECT a.s_suppkey AS ak, b.s_suppkey AS bk,
      |         a.s_acctbal AS av, b.s_acctbal AS bv
      |  FROM a FULL OUTER JOIN b ON a.s_suppkey = b.s_suppkey)
      |SELECT COALESCE(ak, bk) % 16 AS bucket,
      |  COALESCE(ak, bk) AS s_suppkey,
      |  CASE WHEN ak IS NULL THEN 'added'
      |       WHEN bk IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type
      |FROM j
      |WHERE ak IS NULL OR bk IS NULL OR av IS DISTINCT FROM bv
      |ORDER BY s_suppkey, change_type""".stripMargin

  /** q127: sliding 1 h / 15 min windows — every event contributes to
    * exactly 4 epoch-aligned windows; the oracle fans out via
    * UNNEST(range(0,4)). */
  private[graft] val q127 =
    """WITH fan AS (
      |  SELECT event_type, value,
      |    make_timestamp(CAST((FLOOR(epoch(ts) / 900) - k) * 900000000 AS BIGINT))
      |      AS win_start
      |  FROM events, UNNEST(range(0, 4)) t(k))
      |SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM fan GROUP BY 1, 2, 3
      |ORDER BY win_start, event_type""".stripMargin

  /** q128: JSONL round-trip — the oracle reads the ORIGINAL table, so
    * the written-and-reread lines must be lossless. */
  private[graft] val q128 =
    """SELECT doc_id, text, lang, source,
      |  CAST(length(text) AS INT) AS text_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q132: portable-hash MinHash-LSH — the full sketch pipeline
    * (polynomial shingle hash, 8 affine permutations, 2×4 bands,
    * exact-Jaccard verify at θ=0.5) replayed in SQL bit-for-bit. */
  private[graft] val q132 = {
    val as = Seq(131, 137, 139, 149, 151, 157, 163, 167)
    val bs = Seq(17, 29, 47, 71, 89, 107, 131, 151)
    val mins = as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      s"MIN((h * $a + $b) % 1000000007) AS m$j"
    }.mkString(",\n      |    ")
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS tok
       |  FROM w, UNNEST(range(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 3),
       |wh AS (
       |  SELECT doc_id, tok,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, $mins
       |  FROM wh GROUP BY doc_id),
       |cand AS (
       |  SELECT s1.doc_id AS a, s2.doc_id AS b FROM sig s1 JOIN sig s2
       |    ON s1.m0=s2.m0 AND s1.m1=s2.m1 AND s1.m2=s2.m2 AND s1.m3=s2.m3
       |   AND s1.doc_id < s2.doc_id
       |  UNION
       |  SELECT s1.doc_id, s2.doc_id FROM sig s1 JOIN sig s2
       |    ON s1.m4=s2.m4 AND s1.m5=s2.m5 AND s1.m6=s2.m6 AND s1.m7=s2.m7
       |   AND s1.doc_id < s2.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
       |ix AS (
       |  SELECT c.a, c.b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN toks ta ON ta.doc_id = c.a
       |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |  GROUP BY 1, 2)
       |SELECT i.a, i.b, i.inter, sa.n + sb.n - i.inter AS uni
       |FROM ix i JOIN sizes sa ON sa.doc_id = i.a
       |JOIN sizes sb ON sb.doc_id = i.b
       |WHERE 2 * i.inter >= sa.n + sb.n - i.inter
       |ORDER BY a, b""".stripMargin
  }

  /** q133: portable-hash SimHash — 32-bit count-weighted fingerprints,
    * Manku 4×8-bit chunk join, exact Hamming verify; bit-for-bit SQL
    * replay (the q132 convention). */
  private[graft] val q133 =
    """WITH w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |toks AS (
      |  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS tok,
      |         CAST(COUNT(*) AS BIGINT) AS w
      |  FROM w0, UNNEST(range(1, len(ws) - 1)) t(i)
      |  WHERE len(ws) >= 3 GROUP BY 1, 2),
      |wh AS (
      |  SELECT doc_id, w,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) % 4294967296 AS h
      |  FROM toks),
      |sums AS (SELECT doc_id,
      |    SUM(CASE WHEN (h // 1) % 2 = 1 THEN w ELSE -w END) AS s0,
      |    SUM(CASE WHEN (h // 2) % 2 = 1 THEN w ELSE -w END) AS s1,
      |    SUM(CASE WHEN (h // 4) % 2 = 1 THEN w ELSE -w END) AS s2,
      |    SUM(CASE WHEN (h // 8) % 2 = 1 THEN w ELSE -w END) AS s3,
      |    SUM(CASE WHEN (h // 16) % 2 = 1 THEN w ELSE -w END) AS s4,
      |    SUM(CASE WHEN (h // 32) % 2 = 1 THEN w ELSE -w END) AS s5,
      |    SUM(CASE WHEN (h // 64) % 2 = 1 THEN w ELSE -w END) AS s6,
      |    SUM(CASE WHEN (h // 128) % 2 = 1 THEN w ELSE -w END) AS s7,
      |    SUM(CASE WHEN (h // 256) % 2 = 1 THEN w ELSE -w END) AS s8,
      |    SUM(CASE WHEN (h // 512) % 2 = 1 THEN w ELSE -w END) AS s9,
      |    SUM(CASE WHEN (h // 1024) % 2 = 1 THEN w ELSE -w END) AS s10,
      |    SUM(CASE WHEN (h // 2048) % 2 = 1 THEN w ELSE -w END) AS s11,
      |    SUM(CASE WHEN (h // 4096) % 2 = 1 THEN w ELSE -w END) AS s12,
      |    SUM(CASE WHEN (h // 8192) % 2 = 1 THEN w ELSE -w END) AS s13,
      |    SUM(CASE WHEN (h // 16384) % 2 = 1 THEN w ELSE -w END) AS s14,
      |    SUM(CASE WHEN (h // 32768) % 2 = 1 THEN w ELSE -w END) AS s15,
      |    SUM(CASE WHEN (h // 65536) % 2 = 1 THEN w ELSE -w END) AS s16,
      |    SUM(CASE WHEN (h // 131072) % 2 = 1 THEN w ELSE -w END) AS s17,
      |    SUM(CASE WHEN (h // 262144) % 2 = 1 THEN w ELSE -w END) AS s18,
      |    SUM(CASE WHEN (h // 524288) % 2 = 1 THEN w ELSE -w END) AS s19,
      |    SUM(CASE WHEN (h // 1048576) % 2 = 1 THEN w ELSE -w END) AS s20,
      |    SUM(CASE WHEN (h // 2097152) % 2 = 1 THEN w ELSE -w END) AS s21,
      |    SUM(CASE WHEN (h // 4194304) % 2 = 1 THEN w ELSE -w END) AS s22,
      |    SUM(CASE WHEN (h // 8388608) % 2 = 1 THEN w ELSE -w END) AS s23,
      |    SUM(CASE WHEN (h // 16777216) % 2 = 1 THEN w ELSE -w END) AS s24,
      |    SUM(CASE WHEN (h // 33554432) % 2 = 1 THEN w ELSE -w END) AS s25,
      |    SUM(CASE WHEN (h // 67108864) % 2 = 1 THEN w ELSE -w END) AS s26,
      |    SUM(CASE WHEN (h // 134217728) % 2 = 1 THEN w ELSE -w END) AS s27,
      |    SUM(CASE WHEN (h // 268435456) % 2 = 1 THEN w ELSE -w END) AS s28,
      |    SUM(CASE WHEN (h // 536870912) % 2 = 1 THEN w ELSE -w END) AS s29,
      |    SUM(CASE WHEN (h // 1073741824) % 2 = 1 THEN w ELSE -w END) AS s30,
      |    SUM(CASE WHEN (h // 2147483648) % 2 = 1 THEN w ELSE -w END) AS s31
      |  FROM wh GROUP BY doc_id),
      |fp AS (SELECT doc_id, CAST((CASE WHEN s0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN s4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN s5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN s6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN s7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN s8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN s9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN s10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN s11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN s12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN s13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN s14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN s15 > 0 THEN 32768 ELSE 0 END) + (CASE WHEN s16 > 0 THEN 65536 ELSE 0 END) + (CASE WHEN s17 > 0 THEN 131072 ELSE 0 END) + (CASE WHEN s18 > 0 THEN 262144 ELSE 0 END) + (CASE WHEN s19 > 0 THEN 524288 ELSE 0 END) + (CASE WHEN s20 > 0 THEN 1048576 ELSE 0 END) + (CASE WHEN s21 > 0 THEN 2097152 ELSE 0 END) + (CASE WHEN s22 > 0 THEN 4194304 ELSE 0 END) + (CASE WHEN s23 > 0 THEN 8388608 ELSE 0 END) + (CASE WHEN s24 > 0 THEN 16777216 ELSE 0 END) + (CASE WHEN s25 > 0 THEN 33554432 ELSE 0 END) + (CASE WHEN s26 > 0 THEN 67108864 ELSE 0 END) + (CASE WHEN s27 > 0 THEN 134217728 ELSE 0 END) + (CASE WHEN s28 > 0 THEN 268435456 ELSE 0 END) + (CASE WHEN s29 > 0 THEN 536870912 ELSE 0 END) + (CASE WHEN s30 > 0 THEN 1073741824 ELSE 0 END) + (CASE WHEN s31 > 0 THEN 2147483648 ELSE 0 END) AS BIGINT) AS fp FROM sums),
      |chunks AS (
      |  SELECT doc_id, fp, j,
      |    (fp // (CASE j WHEN 0 THEN 1 WHEN 1 THEN 256
      |            WHEN 2 THEN 65536 ELSE 16777216 END)) % 256 AS c
      |  FROM fp, UNNEST(range(0, 4)) t(j)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a, a.fp AS fpa, b.doc_id AS b, b.fp AS fpb
      |  FROM chunks a JOIN chunks b
      |    ON a.j = b.j AND a.c = b.c AND a.doc_id < b.doc_id)
      |SELECT a, b, CAST(bit_count(xor(fpa, fpb)) AS INT) AS dist
      |FROM cand WHERE bit_count(xor(fpa, fpb)) <= 3
      |ORDER BY a, b""".stripMargin

  /** q134: RFM quartiles under total order (metric, custkey). */
  private[graft] val q134 =
    """WITH rfm AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS recency,
      |    COUNT(*) AS frequency,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey,
      |  CAST(ntile(4) OVER (ORDER BY recency, o_custkey) AS INT) AS r,
      |  CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INT) AS f,
      |  CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m,
      |  CAST(ntile(4) OVER (ORDER BY recency, o_custkey) * 100
      |     + ntile(4) OVER (ORDER BY frequency, o_custkey) * 10
      |     + ntile(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS rfm_code
      |FROM rfm ORDER BY o_custkey""".stripMargin

  /** q135: last-touch attribution via ASOF join, 7-day lookback. */
  private[graft] val q135 =
    """WITH touches AS (
      |  SELECT user_id, ts, MAX(event_type) AS touch_type
      |  FROM events WHERE event_type IN ('view', 'click', 'signup')
      |  GROUP BY 1, 2),
      |purch AS (
      |  SELECT event_id, user_id, ts, value
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.event_id, p.value, p.ts, t.touch_type, t.ts AS touch_ts
      |  FROM purch p ASOF LEFT JOIN touches t
      |    ON p.user_id = t.user_id AND p.ts >= t.ts)
      |SELECT CASE WHEN touch_ts IS NOT NULL
      |         AND epoch_us(ts) - epoch_us(touch_ts) <= 604800000000
      |       THEN touch_type ELSE 'none' END AS touch_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q136: grouped exact percentiles (quantile_cont twin). */
  private[graft] val q136 =
    """SELECT c_mktsegment,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  COUNT(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q137: association rules (support/confidence/lift from exact
    * integer counts; one correctly-rounded division each). */
  private[graft] val q137 =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM lp),
      |items AS (SELECT pk, COUNT(*) AS n_item FROM lp GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk AS a, b.pk AS b, COUNT(*) AS n_ab
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT p.a, p.b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
      |  p.n_ab / (SELECT n_orders FROM n) AS support,
      |  p.n_ab / ia.n_item AS confidence,
      |  (p.n_ab * (SELECT n_orders FROM n)) / (ia.n_item * ib.n_item) AS lift
      |FROM pairs p
      |JOIN items ia ON ia.pk = p.a
      |JOIN items ib ON ib.pk = p.b
      |ORDER BY lift DESC, a ASC, b ASC
      |LIMIT 20""".stripMargin

  /** q138: right-to-erasure cascade audit (FK walk counts). */
  private[graft] val q138 =
    """SELECT 'customer' AS table_name,
      |  (SELECT COUNT(*) FROM customer) AS n_before,
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 37 = 0) AS n_removed,
      |  (SELECT COUNT(*) FROM customer)
      |    - (SELECT COUNT(*) FROM customer WHERE c_custkey % 37 = 0) AS n_after
      |UNION ALL
      |SELECT 'orders',
      |  (SELECT COUNT(*) FROM orders),
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey % 37 = 0),
      |  (SELECT COUNT(*) FROM orders)
      |    - (SELECT COUNT(*) FROM orders WHERE o_custkey % 37 = 0)
      |UNION ALL
      |SELECT 'lineitem',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM lineitem l WHERE EXISTS (
      |     SELECT 1 FROM orders o
      |     WHERE o.o_orderkey = l.l_orderkey AND o.o_custkey % 37 = 0)),
      |  (SELECT COUNT(*) FROM lineitem)
      |    - (SELECT COUNT(*) FROM lineitem l WHERE EXISTS (
      |       SELECT 1 FROM orders o
      |       WHERE o.o_orderkey = l.l_orderkey AND o.o_custkey % 37 = 0))
      |UNION ALL
      |SELECT 'events',
      |  (SELECT COUNT(*) FROM events),
      |  (SELECT COUNT(*) FROM events WHERE user_id % 37 = 0),
      |  (SELECT COUNT(*) FROM events)
      |    - (SELECT COUNT(*) FROM events WHERE user_id % 37 = 0)
      |ORDER BY table_name""".stripMargin

  /** q139: DSv2 sink round-trip — oracle reads the original table. */
  private[graft] val q139 =
    """SELECT s_suppkey AS k, s_name AS v FROM supplier ORDER BY k"""

  /** q140: ship-latency percentiles per priority (exact ints). */
  private[graft] val q140 =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5) AS p50,
      |  quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.9) AS p90,
      |  MAX(datediff('day', o_orderdate, l_shipdate)) AS max_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q141: LTV cohort triangle (first-order-month x months-since). */
  private[graft] val q141 =
    """WITH o AS (
      |  SELECT o_custkey, o_totalprice,
      |         date_trunc('month', o_orderdate) AS month
      |  FROM orders),
      |cohorts AS (
      |  SELECT o_custkey, MIN(month) AS cohort_month FROM o GROUP BY 1)
      |SELECT c.cohort_month,
      |  CAST(datediff('month', c.cohort_month, o.month) AS INT) AS m_since,
      |  COUNT(DISTINCT o.o_custkey) AS n_active,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q142: daily bounce rate over 30-min-gap session windows. */
  private[graft] val q142 =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessioned AS (
      |  SELECT user_id, ts,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, session_id, MIN(ts) AS session_start,
      |         COUNT(*) AS n_events
      |  FROM sessioned GROUP BY 1, 2)
      |SELECT date_trunc('day', session_start) AS day,
      |  COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounce,
      |  SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / COUNT(*)
      |    AS bounce_rate
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  /** q143: trade-graph degree/reciprocity profile. */
  private[graft] val q143 =
    """WITH e AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |outd AS (SELECT src AS nationkey, COUNT(*) AS out_deg,
      |                CAST(SUM(w) AS BIGINT) AS out_vol FROM e GROUP BY 1),
      |ind AS (SELECT dst AS nationkey, COUNT(*) AS in_deg,
      |               CAST(SUM(w) AS BIGINT) AS in_vol FROM e GROUP BY 1),
      |recip AS (
      |  SELECT a.src AS nationkey, COUNT(*) AS n_reciprocal
      |  FROM e a WHERE EXISTS (
      |    SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)
      |  GROUP BY 1)
      |SELECT COALESCE(o.nationkey, i.nationkey, r.nationkey) AS nationkey,
      |  COALESCE(out_deg, 0) AS out_deg, COALESCE(out_vol, 0) AS out_vol,
      |  COALESCE(in_deg, 0) AS in_deg, COALESCE(in_vol, 0) AS in_vol,
      |  COALESCE(n_reciprocal, 0) AS n_reciprocal
      |FROM outd o
      |FULL OUTER JOIN ind i ON o.nationkey = i.nationkey
      |FULL OUTER JOIN recip r ON COALESCE(o.nationkey, i.nationkey) = r.nationkey
      |ORDER BY nationkey""".stripMargin

  /** q144: ABC / Pareto classes from decimal-exact cumulative shares. */
  private[graft] val q144 =
    """WITH rev AS (
      |  SELECT l_partkey AS p_partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(revenue) AS total FROM rev),
      |c AS (
      |  SELECT p_partkey, revenue,
      |    SUM(revenue) OVER (ORDER BY revenue DESC, p_partkey ASC
      |                       ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM rev)
      |SELECT p_partkey, CAST(revenue AS DOUBLE) AS revenue,
      |  CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
      |    AS cum_share,
      |  CASE WHEN CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
      |         <= 0.5 THEN 'A'
      |       WHEN CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
      |         <= 0.8 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM c ORDER BY p_partkey""".stripMargin

  /** q145: supplier-market HHI from exact integer cents. */
  private[graft] val q145 =
    """WITH rev AS (
      |  SELECT s_nationkey, s_suppkey,
      |    CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))) AS BIGINT)
      |      AS c
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)
      |SELECT s_nationkey, COUNT(*) AS n_suppliers,
      |  CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS total_rev,
      |  CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE)
      |    / (CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
      |       * CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)) AS hhi
      |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin

  /** q146: monthly order-priority mix (exact count shares). */
  private[graft] val q146 =
    """WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |         o_orderpriority, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |tot AS (SELECT month, CAST(SUM(n) AS BIGINT) AS n_month
      |        FROM m GROUP BY 1)
      |SELECT m.month, m.o_orderpriority, m.n, t.n_month,
      |       m.n / t.n_month AS share
      |FROM m JOIN tot t ON m.month = t.month
      |ORDER BY m.month, m.o_orderpriority""".stripMargin

  /** q147: the EXHAUSTIVE shared-shingle Jaccard join (q19's 3-gram
    * sets, no rarity cap, no limit) — deliberately not
    * prefix-filtered, so equality with Spark's PPJoin-style prefix
    * path proves the filter lossless on real data. */
  private[graft] val q147 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ws
      |  FROM ws WHERE len(w) >= 3),
      |p AS (SELECT doc_id, unnest(ws) AS tok FROM t WHERE len(ws) > 0),
      |cand AS (
      |  SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
      |  FROM p p1 JOIN p p2 ON p1.tok = p2.tok AND p1.doc_id < p2.doc_id),
      |v AS (
      |  SELECT a, b,
      |    len(list_intersect(ta.ws, tb.ws)) AS common,
      |    len(ta.ws) AS sza, len(tb.ws) AS szb
      |  FROM cand
      |  JOIN t ta ON ta.doc_id = cand.a
      |  JOIN t tb ON tb.doc_id = cand.b)
      |SELECT a, b, CAST(common AS INTEGER) AS common,
      |  common / (sza + szb - common) AS jaccard
      |FROM v WHERE common * 5 >= (sza + szb - common) * 3
      |ORDER BY a, b""".stripMargin

  /** q148: identical ordered left-fold — list_reduce inits with the
    * first element exactly like Spark's aggregate(slice(2..), x1). */
  private[graft] val q148 =
    """SELECT user_id, CAST(count(*) AS INTEGER) AS n_events,
      |  list_reduce(list(value ORDER BY epoch_us(ts), event_id),
      |    (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q149: grouped mode, lexicographic tie-break. */
  private[graft] val q149 =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n_modal
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n_modal,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY n_modal DESC, event_type ASC) AS rk
      |  FROM c)
      |SELECT user_id, event_type AS modal_type, n_modal
      |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** q150: OLS from exact integer moment sums; only the final
    * slope/intercept combination is double, in the same expression
    * order as the Spark side. */
  private[graft] val q150 =
    """WITH pts AS (
      |  SELECT s_nationkey,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |m AS (
      |  SELECT s_nationkey, count(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM pts GROUP BY 1),
      |sl AS (
      |  SELECT s_nationkey, n, sx, sy,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
      |  FROM m)
      |SELECT s_nationkey, n, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS icept_cents
      |FROM sl ORDER BY s_nationkey""".stripMargin

  /** q151: per-user day spine + linear interpolation; the lerp is the
    * identical double expression as the Spark side over decimal-exact
    * daily sums. */
  private[graft] val q151 =
    """WITH daily AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |    unnest(generate_series(min(day), max(day),
      |      INTERVAL 1 DAY)) AS day
      |  FROM daily GROUP BY user_id),
      |j AS (
      |  SELECT s.user_id, s.day, d.v,
      |    last_value(d.v IGNORE NULLS) OVER (PARTITION BY s.user_id
      |      ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN d.v IS NOT NULL THEN s.day END
      |      IGNORE NULLS) OVER (PARTITION BY s.user_id
      |      ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS pd,
      |    first_value(d.v IGNORE NULLS) OVER (PARTITION BY s.user_id
      |      ORDER BY s.day ROWS BETWEEN CURRENT ROW
      |      AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN d.v IS NOT NULL THEN s.day END
      |      IGNORE NULLS) OVER (PARTITION BY s.user_id
      |      ORDER BY s.day ROWS BETWEEN CURRENT ROW
      |      AND UNBOUNDED FOLLOWING) AS nd
      |  FROM spine s LEFT JOIN daily d
      |    ON s.user_id = d.user_id AND s.day = d.day)
      |SELECT user_id, day,
      |  CASE WHEN v IS NOT NULL THEN v
      |       ELSE pv + (nv - pv) *
      |         (date_diff('day', pd, day) / date_diff('day', pd, nd))
      |  END AS v_filled,
      |  v IS NULL AS is_gap
      |FROM j ORDER BY user_id, day""".stripMargin

  /** q152: stupid-backoff bigram scores; lnp9 decimal quantization
    * before the per-doc sum (q80's convention). */
  private[graft] val q152 =
    """WITH base AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |trans AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |  FROM base, unnest(generate_series(1, len(w) - 1)) AS g(i)
      |  WHERE len(w) >= 2),
      |uc AS (
      |  SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(w) AS tok FROM base WHERE doc_id % 2 = 0)
      |  GROUP BY tok),
      |lmstats AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |    count(*) AS vocab FROM uc),
      |bi AS (
      |  SELECT w1, w2, count(*) AS cb FROM trans
      |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(CASE WHEN bi.cb IS NOT NULL
      |      THEN ln(CAST(bi.cb AS DOUBLE) / u1.cnt)
      |      ELSE ln(0.4 * (COALESCE(u2.cnt, 0) + 1)
      |              / (s.total + s.vocab + 1)) END
      |      AS DECIMAL(18,9)) AS lp9
      |  FROM trans t
      |  LEFT JOIN uc u1 ON t.w1 = u1.tok
      |  LEFT JOIN uc u2 ON t.w2 = u2.tok
      |  LEFT JOIN bi ON t.w1 = bi.w1 AND t.w2 = bi.w2
      |  CROSS JOIN lmstats s)
      |SELECT doc_id, count(*) AS n_trans,
      |  CAST(sum(lp9) AS DOUBLE) / count(*) AS mean_lp,
      |  CAST(sum(lp9) AS DOUBLE) / count(*) < -3.5 AS flagged
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q153: PSI over 10 equal-width reference bins, Laplace-smoothed
    * shares, lnp9-quantized terms. */
  private[graft] val q153 =
    """WITH ref AS (
      |  SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      |cur AS (
      |  SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
      |b AS (SELECT min(value) AS lo, max(value) AS hi FROM ref),
      |rb AS (
      |  SELECT least(10, greatest(1,
      |    CAST(floor((value - lo) / (hi - lo) * 10) AS INTEGER) + 1))
      |    AS bin, count(*) AS n_ref
      |  FROM ref CROSS JOIN b GROUP BY 1),
      |cb AS (
      |  SELECT least(10, greatest(1,
      |    CAST(floor((value - lo) / (hi - lo) * 10) AS INTEGER) + 1))
      |    AS bin, count(*) AS n_cur
      |  FROM cur CROSS JOIN b GROUP BY 1),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(1, 10)) AS INTEGER) AS bin),
      |j AS (
      |  SELECT s.bin, COALESCE(rb.n_ref, 0) AS n_ref,
      |    COALESCE(cb.n_cur, 0) AS n_cur
      |  FROM spine s LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
      |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
      |terms AS (
      |  SELECT bin, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE) / (tr + 10) AS p_ref,
      |    CAST(n_cur + 1 AS DOUBLE) / (tc + 10) AS p_cur,
      |    CAST((CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
      |          - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
      |      * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
      |           / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10)))
      |      AS DECIMAL(18,9)) AS term9
      |  FROM j CROSS JOIN t)
      |SELECT bin, n_ref, n_cur, p_ref, p_cur,
      |  CAST(term9 AS DOUBLE) AS psi_term,
      |  CAST(sum(term9) OVER () AS DOUBLE) AS psi_total
      |FROM terms ORDER BY bin""".stripMargin

  /** q154: per-source unigram KL vs the corpus mixture; support(s) ⊆
    * support(corpus) so every term is finite without smoothing. */
  private[graft] val q154 =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |bysrc AS (
      |  SELECT source, tok, count(*) AS cs FROM toks GROUP BY 1, 2),
      |st AS (
      |  SELECT source, CAST(sum(cs) AS BIGINT) AS ns, count(*) AS vocab
      |  FROM bysrc GROUP BY 1),
      |corpus AS (SELECT tok, count(*) AS cc FROM toks GROUP BY 1),
      |ct AS (SELECT sum(cc) AS nc FROM corpus),
      |terms AS (
      |  SELECT b.source, st.ns, st.vocab,
      |    CAST((CAST(b.cs AS DOUBLE) / st.ns)
      |      * ln((CAST(b.cs AS DOUBLE) / st.ns)
      |           / (CAST(c.cc AS DOUBLE) / ct.nc))
      |      AS DECIMAL(18,9)) AS term9
      |  FROM bysrc b
      |  JOIN st USING (source)
      |  JOIN corpus c USING (tok)
      |  CROSS JOIN ct)
      |SELECT source, ns AS n_tokens, vocab,
      |  CAST(sum(term9) AS DOUBLE) AS kl
      |FROM terms GROUP BY source, ns, vocab
      |ORDER BY source""".stripMargin

  /** q155: session Markov transitions — q14's sessionization, lead()
    * within (user, session), exact count-ratio probabilities. */
  private[graft] val q155 =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessioned AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    SUM(is_start) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |tr AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts ASC, event_id ASC) AS to_type
      |  FROM sessioned),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, t.n_from,
      |  c.n / t.n_from AS prob
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** q156: Kaplan-Meier product-limit curve; running sum of
    * DECIMAL(18,9)-quantized ln(1−d/n) factors (lnp9 as a cumulative
    * window), survival re-exponentiated and quantized to 6 dp. */
  private[graft] val q156 =
    """WITH su AS (
      |  SELECT user_id, min(ts) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      |  SELECT e.user_id, min(e.ts) AS p_ts
      |  FROM events e JOIN su USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
      |  GROUP BY 1),
      |mx AS (SELECT max(date_trunc('day', ts)) AS max_day FROM events),
      |subjects AS (
      |  SELECT CASE WHEN pu.p_ts IS NOT NULL
      |    THEN date_diff('day', date_trunc('day', su.s_ts),
      |                   date_trunc('day', pu.p_ts))
      |    ELSE date_diff('day', date_trunc('day', su.s_ts), mx.max_day)
      |    END AS dur,
      |    pu.p_ts IS NOT NULL AS converted
      |  FROM su LEFT JOIN pu USING (user_id) CROSS JOIN mx),
      |bydur AS (
      |  SELECT dur AS t, count(*) AS n_at,
      |    count(*) FILTER (WHERE converted) AS d
      |  FROM subjects GROUP BY 1),
      |risked AS (
      |  SELECT t, d,
      |    CAST(SUM(n_at) OVER (ORDER BY t DESC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      |  FROM bydur),
      |curve AS (
      |  SELECT t, n_risk, d,
      |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS hit_zero,
      |    CAST(SUM(CASE WHEN d < n_risk
      |        THEN CAST(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
      |          AS DECIMAL(18,9)) END) OVER (ORDER BY t ASC
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ln_sum
      |  FROM risked WHERE d > 0)
      |SELECT t, n_risk, d AS n_events,
      |  CASE WHEN hit_zero = 0 THEN ln_sum END AS ln_surv,
      |  CASE WHEN hit_zero = 1 THEN 0.0
      |       ELSE CAST(CAST(exp(ln_sum) AS DECIMAL(9,6)) AS DOUBLE)
      |  END AS surv
      |FROM curve ORDER BY t""".stripMargin

  /** q157: ECDF over exact-cent keys; cumulative window on the
    * distinct-value axis, one double division per distinct value. */
  private[graft] val q157 =
    """WITH v AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS bal_cents
      |  FROM customer),
      |c AS (SELECT bal_cents, count(*) AS n_at FROM v GROUP BY 1),
      |t AS (SELECT count(*) AS n_total FROM v),
      |cum AS (
      |  SELECT bal_cents,
      |    CAST(SUM(n_at) OVER (ORDER BY bal_cents ASC
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.n_total AS ecdf
      |  FROM c CROSS JOIN t)
      |SELECT v.c_custkey, v.c_nationkey, v.bal_cents, cum.ecdf
      |FROM v JOIN cum USING (bal_cents)
      |ORDER BY c_custkey""".stripMargin

  /** q158: revenue-weighted median balance — integer cumulative-weight
    * crossing, lower-median convention. */
  private[graft] val q158 =
    """WITH w AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |      AS BIGINT) AS wt
      |  FROM lineitem GROUP BY 1),
      |s AS (
      |  SELECT s_nationkey,
      |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
      |    wt
      |  FROM supplier JOIN w ON s_suppkey = l_suppkey),
      |bv AS (
      |  SELECT s_nationkey, bal, CAST(SUM(wt) AS BIGINT) AS w_at,
      |    count(*) AS n_at
      |  FROM s GROUP BY 1, 2),
      |c AS (
      |  SELECT s_nationkey, bal,
      |    CAST(SUM(w_at) OVER (PARTITION BY s_nationkey ORDER BY bal ASC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
      |    CAST(SUM(w_at) OVER (PARTITION BY s_nationkey) AS BIGINT)
      |      AS total_w,
      |    CAST(SUM(n_at) OVER (PARTITION BY s_nationkey) AS BIGINT) AS n
      |  FROM bv)
      |SELECT s_nationkey, n, total_w, MIN(bal) AS wmedian_bal
      |FROM c WHERE cum_w * 2 >= total_w
      |GROUP BY s_nationkey, n, total_w
      |ORDER BY s_nationkey""".stripMargin

  /** q159: reproducible ε-DP counts — portable-PRF uniforms, Laplace
    * inversion, lnp9 quantization (seed 20240813, ε = 1). */
  private[graft] val q159 =
    """WITH c AS (
      |  SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1),
      |h AS (
      |  SELECT c_nationkey, n,
      |    ((c_nationkey % 1000000007) * CAST(48271 AS BIGINT)
      |      + 20240813) % 1000000007 AS h1
      |  FROM c),
      |h2t AS (
      |  SELECT c_nationkey, n,
      |    (h1 * CAST(16807 AS BIGINT) + 12345) % 1000000007 AS h2
      |  FROM h),
      |u AS (
      |  SELECT c_nationkey, n,
      |    (CAST(h2 AS DOUBLE) + 0.5) / 1000000007 AS u FROM h2t)
      |SELECT c_nationkey, n,
      |  CAST(CAST(n + (-1.0 * sign(u - 0.5)
      |      * ln(1.0 - 2.0 * abs(u - 0.5)))
      |    AS DECIMAL(18,9)) AS DOUBLE) AS released
      |FROM u ORDER BY c_nationkey""".stripMargin

  /** q160: exhaustive DIRECTIONAL shared-shingle containment join —
    * not prefix-filtered, so equality with Spark's one-sided-prefix
    * path proves that filter lossless (the q147 convention, with
    * a ≠ b instead of a < b and |a| as the denominator). */
  private[graft] val q160 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ws
      |  FROM ws WHERE len(w) >= 3),
      |p AS (SELECT doc_id, unnest(ws) AS tok FROM t WHERE len(ws) > 0),
      |cand AS (
      |  SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
      |  FROM p p1 JOIN p p2 ON p1.tok = p2.tok AND p1.doc_id <> p2.doc_id),
      |v AS (
      |  SELECT a, b,
      |    len(list_intersect(ta.ws, tb.ws)) AS common,
      |    len(ta.ws) AS sza
      |  FROM cand
      |  JOIN t ta ON ta.doc_id = cand.a
      |  JOIN t tb ON tb.doc_id = cand.b)
      |SELECT a, b, CAST(common AS INTEGER) AS common,
      |  common / sza AS containment
      |FROM v WHERE common * 5 >= sza * 4
      |ORDER BY a, b""".stripMargin

  private[graft] val q161 =
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS acct_kband,
      |  count(*) AS class_size,
      |  count(*) >= 5 AS k_anonymous
      |FROM customer
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  private[graft] val q162 =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_sort(list_intersect(
      |      list_distinct(string_split(lower(text), ' ')),
      |      ['dup', 'slow', 'skew'])) AS hs
      |  FROM documents)
      |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_hits,
      |  coalesce(array_to_string(hs, ','), '') AS matched,
      |  len(hs) > 0 AS flagged
      |FROM h ORDER BY doc_id""".stripMargin

  /** q163: q22's brute-force cosine scorer with the hard-negative
    * label inequality; identical left-to-right double accumulation. */
  private[graft] val q163 =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv, label AS ql
      |  FROM embeddings WHERE vec_id % 20 = 0),
      |scored AS (
      |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS neg_label,
      |    list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
      |    / sqrt(list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum'))
      |    / sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
      |    AS sim
      |  FROM q CROSS JOIN embeddings c
      |  WHERE c.vec_id != q.qid AND c.label != q.ql)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  neg_label
      |FROM (
      |  SELECT query_id, neighbor_id, neg_label,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private[graft] val q164 =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS INTEGER) AS round
      |  FROM documents)
      |SELECT doc_id, source, round,
      |  row_number() OVER (ORDER BY round, source) AS global_pos
      |FROM r ORDER BY global_pos""".stripMargin

  /** q165: NDCG@10 — identical ordered left-fold over (rank, rel)
    * structs, log2 spelled ln/ln (the q148/q22 accumulation
    * conventions). */
  private[graft] val q165 =
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
      |  FROM events),
      |r AS (
      |  SELECT user_id, rel,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY value DESC, event_id ASC) AS pr,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY rel DESC, event_id ASC) AS ir
      |  FROM e),
      |g AS (
      |  SELECT user_id,
      |    list_aggregate(list_transform(
      |      list(struct_pack(rk := pr, rel := rel) ORDER BY pr)
      |        FILTER (WHERE pr <= 10),
      |      x -> CAST(x.rel AS DOUBLE)
      |        / (ln(CAST(x.rk AS DOUBLE) + 1.0) / ln(2.0))), 'sum') AS dcg,
      |    list_aggregate(list_transform(
      |      list(struct_pack(rk := ir, rel := rel) ORDER BY ir)
      |        FILTER (WHERE ir <= 10),
      |      x -> CAST(x.rel AS DOUBLE)
      |        / (ln(CAST(x.rk AS DOUBLE) + 1.0) / ln(2.0))), 'sum') AS idcg
      |  FROM r GROUP BY user_id),
      |q9 AS (
      |  SELECT user_id,
      |    CAST(CAST(dcg AS DECIMAL(18,9)) AS DOUBLE) AS dcg,
      |    CAST(CAST(idcg AS DECIMAL(18,9)) AS DOUBLE) AS idcg
      |  FROM g)
      |SELECT user_id, dcg, idcg,
      |  CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg
      |FROM q9 ORDER BY user_id""".stripMargin

  /** q166: grouped Mann–Whitney AUC — the doubled-rank tie average
    * keeps every sum integer; one double division at the end. */
  private[graft] val q166 =
    """WITH o AS (
      |  SELECT o_orderpriority, o_totalprice AS s,
      |    (o_orderstatus = 'F') AS lbl FROM orders),
      |r AS (
      |  SELECT o_orderpriority, lbl,
      |    2 * rank() OVER (PARTITION BY o_orderpriority ORDER BY s ASC)
      |      + count(*) OVER (PARTITION BY o_orderpriority, s) - 1 AS r2
      |  FROM o),
      |a AS (
      |  SELECT o_orderpriority,
      |    CAST(sum(CASE WHEN lbl THEN r2 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(sum(CASE WHEN NOT lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      |  FROM r GROUP BY 1)
      |SELECT o_orderpriority, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
      |      / CAST(2 * n_pos * n_neg AS DOUBLE)
      |  END AS auc
      |FROM a ORDER BY o_orderpriority""".stripMargin

  /** q167: calibration bins — decimal-exact score sums, confidence by
    * linearity from the exact mean (no normalized double is summed). */
  private[graft] val q167 =
    """WITH st AS (
      |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
      |  FROM orders),
      |b AS (
      |  SELECT
      |    CASE WHEN mx > mn THEN CAST(least(
      |      floor(((o_totalprice - mn) / (mx - mn)) * 10), 9) AS INTEGER)
      |    ELSE 0 END AS bin,
      |    o_totalprice, (o_orderstatus = 'F') AS lbl
      |  FROM orders CROSS JOIN st),
      |g AS (
      |  SELECT bin, count(*) AS n,
      |    CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS ssum
      |  FROM b GROUP BY bin)
      |SELECT bin, n, n_pos,
      |  CAST(ssum AS DOUBLE) / n AS mean_score,
      |  CAST(n_pos AS DOUBLE) / n AS acc,
      |  (CAST(ssum AS DOUBLE) / n - mn) / (mx - mn) AS conf,
      |  CAST(n_pos AS DOUBLE) / n
      |    - (CAST(ssum AS DOUBLE) / n - mn) / (mx - mn) AS gap
      |FROM g CROSS JOIN st ORDER BY bin""".stripMargin

  /** q168: the join-delta oracle is full(∪)⋈full(∪) EXCEPT ALL
    * base⋈base — the identity Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB checked
    * from the definition, not by mirroring the three terms. */
  private[graft] val q168 =
    """WITH a0 AS (
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 <> 0),
      |da AS (
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 0),
      |b0 AS (
      |  SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity
      |  FROM lineitem WHERE l_orderkey % 5 <> 0),
      |db AS (
      |  SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity
      |  FROM lineitem WHERE l_orderkey % 5 = 0),
      |fa AS (SELECT * FROM a0 UNION ALL SELECT * FROM da),
      |fb AS (SELECT * FROM b0 UNION ALL SELECT * FROM db),
      |full_j AS (
      |  SELECT fa.o_orderkey, fa.o_custkey, fb.l_linenumber, fb.l_quantity
      |  FROM fa JOIN fb ON fa.o_orderkey = fb.o_orderkey),
      |base_j AS (
      |  SELECT a0.o_orderkey, a0.o_custkey, b0.l_linenumber, b0.l_quantity
      |  FROM a0 JOIN b0 ON a0.o_orderkey = b0.o_orderkey)
      |SELECT * FROM (
      |  SELECT * FROM full_j EXCEPT ALL SELECT * FROM base_j)
      |ORDER BY o_orderkey, l_linenumber""".stripMargin

  private[graft] val q169 =
    """SELECT c_nationkey, c_mktsegment,
      |  count(*) AS class_size,
      |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
      |    AS BIGINT) AS n_sensitive,
      |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3
      |    AS l_diverse
      |FROM customer
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q170: quantile normalization — integer rank matching onto the
    * pooled order (// is bigint division; no float positions). */
  private[graft] val q170 =
    """WITH t AS (
      |  SELECT event_id, event_type, value FROM events),
      |ranked AS (
      |  SELECT event_id, event_type, value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS BIGINT) AS rg,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS ng
      |  FROM t),
      |pooled AS (
      |  SELECT value AS norm_value,
      |    CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT)
      |      AS gid
      |  FROM t),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM t)
      |SELECT event_id, event_type, ranked.value, norm_value
      |FROM ranked CROSS JOIN n
      |JOIN pooled ON pooled.gid =
      |  CASE WHEN ng > 1
      |    THEN 1 + (2 * (rg - 1) * (nn - 1) + (ng - 1)) // (2 * (ng - 1))
      |    ELSE 1 + nn // 2 END
      |ORDER BY event_id""".stripMargin

  private[graft] val q171 =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY doc_id) AS cum
      |  FROM c)
      |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
      |  CAST((cum - n_tokens) // 512 AS BIGINT) AS start_w,
      |  CAST((cum - 1) // 512 AS BIGINT) AS end_w,
      |  (cum - n_tokens) // 512 <> (cum - 1) // 512 AS straddles
      |FROM r ORDER BY doc_id""".stripMargin

  /** q172: max-cosine decontamination — q22's accumulation shape,
    * grouped max over the small eval set. */
  private[graft] val q172 =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |c AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
      |scored AS (
      |  SELECT c.vec_id,
      |    list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
      |    / sqrt(list_aggregate(list_transform(range(1, len(q.qv) + 1),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum'))
      |    / sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
      |    AS sim
      |  FROM c CROSS JOIN q)
      |SELECT vec_id, max(sim) AS max_sim, max(sim) >= 0.95 AS contaminated
      |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q173: the composed pipeline replayed as CTE stages — keeper
    * election restricted to quality-passing docs (stage order), the
    * packing scan only over kept docs. */
  private[graft] val q173 =
    """WITH base AS (
      |  SELECT doc_id, lower(text) AS nt,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
      |    len(list_intersect(list_distinct(string_split(lower(text), ' ')),
      |      ['dup'])) > 0 AS blocked
      |  FROM documents),
      |keepers AS (
      |  SELECT nt, min(doc_id) AS keeper FROM base
      |  WHERE n_tokens >= 40 GROUP BY nt),
      |judged AS (
      |  SELECT b.doc_id, b.n_tokens,
      |    CASE WHEN b.n_tokens < 40 THEN 'short'
      |         WHEN b.doc_id <> k.keeper THEN 'duplicate'
      |         WHEN b.blocked THEN 'blocked'
      |         ELSE 'kept' END AS disposition
      |  FROM base b LEFT JOIN keepers k ON b.nt = k.nt),
      |kept AS (
      |  SELECT doc_id, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY doc_id) AS cum
      |  FROM judged WHERE disposition = 'kept'),
      |spans AS (
      |  SELECT doc_id,
      |    CAST((cum - n_tokens) // 512 AS BIGINT) AS start_w,
      |    CAST((cum - 1) // 512 AS BIGINT) AS end_w
      |  FROM kept)
      |SELECT j.doc_id, j.disposition, j.n_tokens, s.start_w, s.end_w
      |FROM judged j LEFT JOIN spans s ON j.doc_id = s.doc_id
      |ORDER BY j.doc_id""".stripMargin

  /** q174: Benford audit — digit from the integer-string (log10-free),
    * shares and chi-square terms lnp9-quantized. */
  private[graft] val q174 =
    """WITH c AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
      |    count(*) AS n_obs
      |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      |spine AS (SELECT unnest(range(1, 10)) AS digit),
      |j AS (
      |  SELECT spine.digit, coalesce(n_obs, 0) AS n_obs
      |  FROM spine LEFT JOIN c ON spine.digit = c.digit),
      |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM j),
      |e AS (
      |  SELECT digit, n_obs, n,
      |    CAST(CAST(ln(1.0 + 1.0 / digit) / ln(10.0)
      |      AS DECIMAL(18,9)) AS DOUBLE) AS exp_share
      |  FROM j CROSS JOIN t),
      |terms AS (
      |  SELECT digit, n_obs, exp_share,
      |    CAST(n_obs AS DOUBLE) / n AS obs_share,
      |    CAST((n_obs - n * exp_share) * (n_obs - n * exp_share)
      |      / (n * exp_share) AS DECIMAL(18,9)) AS term9
      |  FROM e)
      |SELECT digit, n_obs, exp_share, obs_share,
      |  CAST(term9 AS DOUBLE) AS chi2_term,
      |  CAST(sum(term9) OVER () AS DOUBLE) AS chi2_total
      |FROM terms ORDER BY digit""".stripMargin

  /** q175: portable hyperplane LSH — fixed-point-quantized vectors
    * (floor(x·2^16): exact because multiplying by a power of two never
    * rounds), the plane-sign matrix emitted as VALUES literals from
    * the same Scala PRF the Spark plan uses, bucket = signed-projection
    * sign bits, ranking by integer dot product. Bit-for-bit replay of
    * `Similarity.lshPortableTopK` — buckets, candidates, AND ranks. */
  private[graft] val q175 = {
    val dims = 64; val nPlanes = 8
    val signRows = (0 until nPlanes).map { p =>
      val lst = (0 until dims)
        .map(d => graft.operators.Similarity.portablePlaneSign(p, d))
        .mkString("[", ", ", "]")
      s"($p, ${1L << p}, $lst)"
    }.mkString(",\n  ")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |signs(p, pw, s) AS (VALUES
       |  $signRows),
       |proj AS (
       |  SELECT v.vec_id, sg.pw,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> v.q[i] * sg.s[i]), 'sum') AS BIGINT) AS pr
       |  FROM qv v CROSS JOIN signs sg),
       |bkt AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN pr >= 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |bj AS (SELECT v.vec_id, v.q, b.bucket FROM qv v JOIN bkt b USING (vec_id)),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> q.q[i] * c.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM bj q JOIN bj c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 20 = 0)
       |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank,
       |  cid AS neighbor_id, idot
       |FROM (SELECT qid, cid, idot,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY idot DESC, cid ASC) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q285: multi-probe LSH replay — q175's bucket chain with the
    * query side expanded to its own bucket plus the nPlanes
    * Hamming-1 flips (xor with each plane weight). */
  private[graft] val q285 = {
    val dims = 64; val nPlanes = 8
    val signRows = (0 until nPlanes).map { p =>
      val lst = (0 until dims)
        .map(d => graft.operators.Similarity.portablePlaneSign(p, d))
        .mkString("[", ", ", "]")
      s"($p, ${1L << p}, $lst)"
    }.mkString(",\n  ")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |signs(p, pw, s) AS (VALUES
       |  $signRows),
       |proj AS (
       |  SELECT v.vec_id, sg.pw,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> v.q[i] * sg.s[i]), 'sum') AS BIGINT) AS pr
       |  FROM qv v CROSS JOIN signs sg),
       |bkt AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN pr >= 0 THEN pw ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM proj GROUP BY vec_id),
       |bj AS (
       |  SELECT v.vec_id, v.q, b.bucket
       |  FROM qv v JOIN bkt b USING (vec_id)),
       |pr AS (
       |  SELECT vec_id, q, bucket AS probe FROM bj
       |  WHERE vec_id % 20 = 0
       |  UNION ALL
       |  SELECT b.vec_id, b.q, xor(b.bucket, sg.pw) AS probe
       |  FROM bj b CROSS JOIN signs sg
       |  WHERE b.vec_id % 20 = 0),
       |scored AS (
       |  SELECT p.vec_id AS qid, c.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> p.q[i] * c.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM pr p JOIN bj c ON c.bucket = p.probe
       |    AND c.vec_id <> p.vec_id)
       |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank,
       |  cid AS neighbor_id, idot
       |FROM (SELECT qid, cid, idot,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY idot DESC, cid ASC) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q176: portable IVF — both Lloyd iterations unrolled as CTE pairs
    * (the q102 unrolled-iteration pattern): assign = integer-L2 argmin
    * vs the current centroid table, update = per-dim floor(sum/n)
    * (division in double; sums < 2^53, so the floor is engine-exact).
    * Init = the 4 lowest vec_ids in id order, exactly the Spark seed.
    * Search probes the 2 nearest lists and ranks by integer dot. */
  private[graft] val q176 = {
    val dims = 64; val k = 4
    def assignCte(cent: String, out: String): String =
      s"""d_$out AS (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS (SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k)),
       |${assignCte("c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("c2", "lists")},
       |dq AS (
       |  SELECT v.vec_id, v.q, c.cl,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
       |  FROM qv v CROSS JOIN c2 c WHERE v.vec_id % 20 = 0),
       |probes AS (
       |  SELECT vec_id AS qid, q AS qq, cl FROM (
       |    SELECT vec_id, q, cl,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM dq)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT p.qid, l.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> p.qq[i] * l.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM probes p JOIN lists l ON p.cl = l.cl AND l.vec_id <> p.qid)
       |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank,
       |  cid AS neighbor_id, idot
       |FROM (SELECT qid, cid, idot,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY idot DESC, cid ASC) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q129/q131: BPE learning replayed in SQL. Each of the 5 rounds is
    * an unrolled CTE pair — pair counts over the distinct-word vocab,
    * lexicographic argmax, then the merge applied to every word via
    * `list_reduce` over a unit-separator-joined accumulator string.
    * The left fold IS Sennrich's left-to-right non-overlapping scan:
    * a token formed this round equals `left||right` and can never
    * equal `left` again (right is non-empty), so greedy
    * merge-with-last is exact. q131 extends the chain: the final
    * vocab's symbol counts joined back to per-document words. */
  private def bpeRewrite(m: String): String = {
    def sp(a: String) = s"string_split($a, chr(31))"
    // NB: no continuation line may start with "||" — this snippet is
    // interpolated through two more stripMargin passes that would eat
    // the operator's leading pipes.
    s"""string_split(list_reduce(list_prepend('', syms), (acc, x) ->
       |      CASE WHEN acc = '' THEN x
       |        WHEN array_extract(${sp("acc")}, -1) = $m."left" AND x = $m."right"
       |        THEN CASE WHEN len(${sp("acc")}) = 1
       |          THEN $m."left" || $m."right"
       |          ELSE array_to_string(list_slice(${sp("acc")}, 1,
       |            len(${sp("acc")}) - 1), chr(31)) || chr(31) ||
       |            $m."left" || $m."right" END
       |        ELSE acc || chr(31) || x END), chr(31))""".stripMargin
  }

  private def bpeRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM v${i - 1}, UNNEST(range(1, len(syms))) t(i)
         |  GROUP BY 1, 2),
         |m$i AS (
         |  SELECT $i AS rank, l AS "left", r AS "right", n
         |  FROM p$i ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         |v$i AS (
         |  -- LEFT JOIN, not CROSS: an exhausted round (empty m$i) must
         |  -- pass the vocabulary through unchanged (the engine's learn
         |  -- loop early-stops), not wipe it; NULL left/right make every
         |  -- lambda comparison fall to the rebuild-unchanged branch
         |  SELECT word, freq, ${bpeRewrite(s"m$i")} AS syms
         |  FROM v${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin
    }.mkString(",\n")

  private val bpeVocabCte =
    """w AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT UNNEST(string_split(lower(text), ' ')) AS word
      |    FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |v0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w)""".stripMargin

  private[graft] val q129 =
    s"""WITH $bpeVocabCte,
       |${bpeRoundCtes(5)}
       |SELECT rank, "left", "right", n FROM (
       |  SELECT * FROM m1 UNION ALL SELECT * FROM m2
       |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4
       |  UNION ALL SELECT * FROM m5)
       |ORDER BY rank""".stripMargin

  private[graft] val q131 =
    s"""WITH $bpeVocabCte,
       |${bpeRoundCtes(5)},
       |dwf AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE word <> ''),
       |j AS (
       |  SELECT w.doc_id, len(w.word) AS nc, len(e.syms) AS nt
       |  FROM dwf w JOIN v5 e USING (word))
       |SELECT d.doc_id,
       |  CAST(COALESCE(SUM(j.nc), 0) AS BIGINT) AS n_chars_tok,
       |  CAST(COALESCE(SUM(j.nt), 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** q177/q178: the oracle is NOT a recomputation — DuckDB cannot read
    * SQLite here (no extension in the zero-egress sandbox) — but the
    * expected values themselves, extracted from the reference's
    * read-only `510FinalProject.db` with an independent reader and
    * frozen as literals. A hash match therefore proves the engine's
    * native SQLite scan decodes every table (q177: counts, integer
    * sums incl. rowid aliases, text lengths, quantized REAL sums) and
    * row-level content (q178: all 41 episode rows) correctly. */
  private[graft] val q177 =
    """SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(id_sum AS BIGINT) AS id_sum,
      |  CAST(text_len AS BIGINT) AS text_len,
      |  CAST(real_q AS BIGINT) AS real_q
      |FROM (VALUES
      |  ('emotion_table', 6, 21, 29, 0),
      |  ('episode_emotion_table', 41, 861, 0, 41861),
      |  ('episode_table', 41, 861, 895, 0),
      |  ('strain_flavor_table', 48, 1176, 300, 0),
      |  ('strain_id_table', 0, 0, 0, 0),
      |  ('strain_medical_table', 15, 120, 135, 0),
      |  ('strain_neg_table', 5, 15, 37, 0),
      |  ('strain_pos_table', 13, 91, 92, 0),
      |  ('strain_race_table', 3, 6, 18, 0),
      |  ('strain_review_table', 278, 278, 2038, 77029),
      |  ('strain_to_negative_table', 4674, 5278016, 35838, 0),
      |  ('strain_to_positive_table', 9286, 10251212, 65096, 0),
      |  ('test_table', 0, 0, 0, 0)
      |) t(tbl, n_rows, id_sum, text_len, real_q)
      |ORDER BY tbl""".stripMargin

  private[graft] val q178 =
    """SELECT CAST(episode_id AS BIGINT) AS episode_id, episode_name,
      |  CAST(happy_q AS BIGINT) AS happy_q,
      |  CAST(excited_q AS BIGINT) AS excited_q
      |FROM (VALUES
      |  (1, 'Pilot', 99, 95),
      |  (2, 'Lawnmower Dog', 24, 503),
      |  (3, 'Anatomy Park', 160, 197),
      |  (4, 'M. Night Shaym-Aliens!', 46, 246),
      |  (5, 'Meeseeks and Destroy', 138, 188),
      |  (6, 'Rick Potion #9', 330, 307),
      |  (7, 'Raising Gazorpazorp', 197, 197),
      |  (8, 'Rixty Minutes', 37, 149),
      |  (9, 'Something Ricked This Way Comes', 112, 224),
      |  (10, 'Close Rick-counters of the Rick Kind', 136, 183),
      |  (11, 'Ricksy Business', 258, 260),
      |  (12, 'A Rickle in Time', 58, 125),
      |  (13, 'Mortynight Run', 49, 153),
      |  (14, 'Auto Erotic Assimilation', 272, 469),
      |  (15, 'Total Rickall', 420, 199),
      |  (16, 'Get Schwifty', 84, 89),
      |  (17, 'The Ricks Must Be Crazy', 118, 313),
      |  (18, 'Big Trouble in Little Sanchez', 204, 412),
      |  (19, 'Interdimensional Cable 2: Tempting Fate', 134, 121),
      |  (20, 'Look Who''s Purging Now', 252, 364),
      |  (21, 'The Wedding Squanchers', 448, 210),
      |  (22, 'The Rickshank Rickdemption', 318, 188),
      |  (23, 'Rickmancing the Stone', 334, 270),
      |  (24, 'Pickle Rick', 179, 225),
      |  (25, 'Vindicators 3: The Return of Worldender', 372, 304),
      |  (26, 'The Whirly Dirly Conspiracy', 79, 97),
      |  (27, 'Rest and Ricklaxation', 76, 92),
      |  (28, 'The Ricklantis Mixup', 84, 165),
      |  (29, 'Morty''s Mind Blowers', 106, 166),
      |  (30, 'The ABC''s of Beth', 65, 141),
      |  (31, 'The Rickchurian Mortydate', 108, 160),
      |  (32, 'Edge of Tomorty: Rick Die Rickpeat', 70, 105),
      |  (33, 'The Old Man and the Seat', 63, 70),
      |  (34, 'One Crew Over the Crewcoo''s Morty', 345, 317),
      |  (35, 'Claw and Hoarder: Special Ricktim''s Morty', 122, 239),
      |  (36, 'Rattlestar Ricklactica', 49, 124),
      |  (37, 'Never Ricking Morty', 223, 210),
      |  (38, 'Promortyus', 85, 116),
      |  (39, 'The Vat of Acid Episode', 102, 175),
      |  (40, 'Childrick of Mort', 129, 182),
      |  (41, 'Star Mort Rickturn of the Jerri', 95, 145)
      |) t(episode_id, episode_name, happy_q, excited_q)
      |ORDER BY episode_id""".stripMargin

  /** q179: URL canonicalization replay — same deterministic raw-URL
    * synthesis from (doc_id, source), same regex field extraction,
    * list filter/sort of query params, and reassembly. Patterns kept
    * RE2-simple so Java regex and DuckDB RE2 agree. */
  private[graft] val q179 =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
      |    source || '.example.com/a/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END) || '?' ||
      |    (CASE WHEN doc_id % 5 = 0
      |      THEN 'b=' || CAST(doc_id % 4 AS VARCHAR) || '&a=' || CAST(doc_id % 3 AS VARCHAR)
      |      ELSE 'a=' || CAST(doc_id % 3 AS VARCHAR) || '&b=' || CAST(doc_id % 4 AS VARCHAR) END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '&utm_source=x' ELSE '' END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      |parts AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(nofrag,
      |      '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\.', '') AS host,
      |    regexp_replace(regexp_extract(nofrag,
      |      '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path0,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(nofrag, '\?([^#]*)', 1), '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid)='))),
      |      '&') AS q
      |  FROM nf),
      |c AS (
      |  SELECT doc_id, url,
      |    'http://' || host || (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url
      |  FROM parts)
      |SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_distinct,
      |  MIN(doc_id) AS min_id
      |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin

  /** q180: PRF pseudonym replay — the same two affine bijections mod
    * 1e9+7 as Privacy.pseudonym, token left-padded to 10 digits. */
  private[graft] val q180 =
    """WITH c AS (
      |  SELECT c_custkey AS ck,
      |    'user_' || lpad(CAST(
      |      (((c_custkey % 1000000007) * 48271 + 7) % 1000000007
      |        * 16807 + 12345) % 1000000007 AS VARCHAR), 10, '0') AS pseud
      |  FROM customer)
      |SELECT pseud, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM orders o JOIN c ON o.o_custkey = c.ck
      |GROUP BY pseud ORDER BY pseud""".stripMargin

  /** q181: hashed linear scorer replay — the polynomial char fold mod
    * 1e9+7, bucket %64, PRF weight in [-8, 8], per-doc integer sum.
    * All integer, so the logit is exact in any engine. */
  private[graft] val q181 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents)
      |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
      |  CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
      |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(w, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
      |      % 64 * 1000003 + 12345) % 1000000007 % 17 - 8))) AS BIGINT) AS logit,
      |  list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
      |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(w, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
      |      % 64 * 1000003 + 12345) % 1000000007 % 17 - 8))) >= 0 AS keep
      |FROM t ORDER BY doc_id""".stripMargin

  /** q182: matryoshka audit replay — two q22-convention float-cosine
    * top-5 passes (full 64 dims and the first 16), neighbor-set
    * intersection per query. The cosine folds are left-associative in
    * both engines, so the float sims (and therefore the rank sets)
    * are bit-identical. */
  private[graft] val q182 = {
    def cosTop(dims: String, out: String): String =
      s"""${out}_s AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    list_aggregate(list_transform(range(1, $dims),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
         |    / sqrt(list_aggregate(list_transform(range(1, $dims),
         |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))
         |    / sqrt(list_aggregate(list_transform(range(1, $dims),
         |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
         |    AS sim
         |  FROM embeddings q CROSS JOIN embeddings c
         |  WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id),
         |$out AS (
         |  SELECT qid, list_sort(list(cid)) AS ids FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
         |    FROM ${out}_s)
         |  WHERE rn <= 5 GROUP BY qid)""".stripMargin
    s"""WITH ${cosTop("65", "fk")},
       |${cosTop("17", "tk")}
       |SELECT fk.qid AS query_id,
       |  CAST(len(list_intersect(fk.ids, tk.ids)) AS INTEGER) AS n_common,
       |  len(list_intersect(fk.ids, tk.ids)) / 5.0 AS recall
       |FROM fk JOIN tk ON fk.qid = tk.qid
       |ORDER BY query_id""".stripMargin
  }

  /** q183: PII scrub replay — same deterministic injection from
    * doc_id, same three ordered regex passes ('g' flag = Spark's
    * replace-all), counts via regexp_extract_all on the exact text
    * each pass scanned. Patterns are RE2-simple so Java and RE2
    * match identical spans. */
  private[graft] val q183 =
    """WITH u AS (
      |  SELECT doc_id, text ||
      |    (CASE WHEN doc_id % 3 = 0 THEN ' mail user' ||
      |      CAST(doc_id % 100 AS VARCHAR) || '@box' ||
      |      CAST(doc_id % 10 AS VARCHAR) || '.example.org' ELSE '' END) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN ' call 555-' ||
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ' from 10.' ||
      |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |      CAST((doc_id * 3) % 256 AS VARCHAR) || '.' ||
      |      CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END) AS t0
      |  FROM documents),
      |p1 AS (SELECT doc_id, t0,
      |  regexp_replace(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
      |    '<EMAIL>', 'g') AS t1 FROM u),
      |p2 AS (SELECT doc_id, t0, t1,
      |  regexp_replace(t1, '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS t2
      |  FROM p1)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t0,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(t1,
      |    '\d{3}-\d{3}-\d{4}')) AS INTEGER) AS n_phones,
      |  CAST(len(regexp_extract_all(t2,
      |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS INTEGER) AS n_ips,
      |  regexp_replace(t2, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}',
      |    '<IP>', 'g') AS clean_text
      |FROM p2 ORDER BY doc_id""".stripMargin

  /** q184: fixed-stride chunk replay — DuckDB's inclusive 1-based
    * list slice mirrors Spark's slice(arr, start, width); floor `//`
    * and Spark's floor(int/int-as-double) agree on the -1 edge, and
    * greatest(…, 0) keeps empty docs at exactly one empty chunk in
    * both engines. */
  private[graft] val q184 =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, greatest((len(toks) - 1) // 6, 0)))
      |      AS chunk_id
      |  FROM d)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  CAST(chunk_id * 6 AS INTEGER) AS chunk_start,
      |  CAST(len(toks[chunk_id*6+1 : chunk_id*6+8]) AS INTEGER)
      |    AS n_chunk_toks,
      |  array_to_string(toks[chunk_id*6+1 : chunk_id*6+8], ' ')
      |    AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** q185: RRF replay — the q181 logit fold ranks quality, n_chars
    * ranks brevity; row_number over each total order, then the pure
    * integer 10¹² // (60 + rank) fusion. CAST ranks to INTEGER
    * (Spark int) and the fused sum to BIGINT (DuckDB // → HUGEINT). */
  private[graft] val q185 =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_chars,
      |    CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(toks, w ->
      |        (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |            list_transform(string_split(w, ''),
      |              c -> CAST(unicode(c) AS BIGINT))),
      |          (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
      |          % 64 * 1000003 + 12345) % 1000000007 % 17 - 8)))
      |      AS BIGINT) AS logit
      |  FROM t),
      |a AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY -logit, doc_id) AS INTEGER) AS rank_a FROM s),
      |b AS (SELECT doc_id, CAST(row_number() OVER
      |  (ORDER BY n_chars, doc_id) AS INTEGER) AS rank_b FROM s)
      |SELECT a.doc_id, rank_a, rank_b,
      |  CAST(1000000000000 // (60 + rank_a) +
      |    1000000000000 // (60 + rank_b) AS BIGINT) AS rrf_scaled
      |FROM a JOIN b ON a.doc_id = b.doc_id
      |ORDER BY rrf_scaled DESC, a.doc_id""".stripMargin

  /** q186: paragraph first-owner dedup replay — q91's block kernel,
    * ownership by row_number over (doc_id, para_id) per raw paragraph
    * text (the engine elects over xxhash64; grouping raw text here
    * also proves the hash collision-free at this SF). */
  private[graft] val q186 =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, (len(toks) - 1) // 8)) AS para_id
      |  FROM d),
      |paras AS (
      |  SELECT doc_id, para_id,
      |    array_to_string(toks[para_id*8+1 : para_id*8+8], ' ') AS ptext
      |  FROM b),
      |own AS (
      |  SELECT doc_id, para_id, ptext,
      |    row_number() OVER (PARTITION BY ptext
      |      ORDER BY doc_id, para_id) AS rn
      |  FROM paras)
      |SELECT doc_id,
      |  count(*) AS n_paras,
      |  count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
      |  COALESCE(array_to_string(
      |    list(ptext ORDER BY para_id) FILTER (WHERE rn = 1),
      |    ' '), '') AS clean_text
      |FROM own GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q187: DSIR replay — q181's char-fold bucket per token, one
    * grouped count for (raw, target), the Laplace integer ratio, and
    * a per-doc sum. Everything BIGINT; `//` outputs re-cast. */
  private[graft] val q187 =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    unnest(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS w
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, source,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(w, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) % 64 AS f
      |  FROM t),
      |feats AS (
      |  SELECT f,
      |    CAST(((count(CASE WHEN source = 'src0' THEN 1 END) + 1)
      |      * 1000000) // (count(*) + 1) AS BIGINT) AS w_scaled
      |  FROM tb GROUP BY f),
      |d AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_toks,
      |    CAST(sum(w_scaled) AS BIGINT) AS score_scaled
      |  FROM tb JOIN feats USING (f) GROUP BY doc_id)
      |SELECT doc_id, n_toks, score_scaled,
      |  CAST(score_scaled // n_toks AS BIGINT) AS avg_w_scaled
      |FROM d ORDER BY doc_id""".stripMargin

  // q97: transformWithState per-(user, type) snapshot — all maintained
  // aggregates are order-independent, so the batch GROUP BY is exact
  // whatever the stream's arrival/trigger decomposition was.
  private[graft] val q97 =
    """SELECT user_id, event_type,
      |  count(*) AS n_events,
      |  min(event_id) AS min_event_id,
      |  max(value) AS max_value
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // q98: per-source heavy hitters — grouped Misra-Gries(k=24) +
  // exact verify on the Spark side; cnt·25 > per-source total sits on
  // the per-group no-false-negative line, so plain grouped
  // GROUP BY / HAVING is the exact answer.
  private[graft] val q98 =
    """WITH w AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |t AS (SELECT source, count(*) AS n_total FROM w GROUP BY source)
      |SELECT w.source, word, count(*) AS cnt
      |FROM w JOIN t USING (source)
      |GROUP BY w.source, word, t.n_total
      |HAVING count(*) * 25 > t.n_total
      |ORDER BY source, word""".stripMargin

  // q99: Bloom-pruned semi join — the sketch admits no false
  // negatives, so the pruned plan returns exactly the plain semi join.
  private[graft] val q99 =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey IN
      |  (SELECT user_id FROM events WHERE event_type = 'click')
      |ORDER BY c_custkey""".stripMargin

  // q100: duplicated-span removal — q79's grouping on raw span text,
  // then every covered token position (span start + 0..7) is cut and
  // the survivors reassemble via the ordered FILTER list (q91
  // convention). DuckDB positions are 1-based where Spark's are
  // 0-based; both schemes are internally consistent so the kept token
  // sequences agree.
  private[graft] val q100 =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks) - 7)) AS pos
      |  FROM d WHERE len(toks) >= 8),
      |sp AS (
      |  SELECT doc_id, pos,
      |    array_to_string(toks[pos : pos + 7], ' ') AS span
      |  FROM s),
      |dup AS (
      |  SELECT span FROM sp
      |  GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
      |rm AS (
      |  SELECT DISTINCT sp.doc_id, sp.pos + t.off AS p
      |  FROM sp JOIN dup USING (span)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off) t),
      |tok AS (
      |  SELECT doc_id, unnest(toks) AS tok,
      |    generate_subscripts(toks, 1) AS p
      |  FROM d)
      |SELECT t.doc_id,
      |  CAST(count(*) AS INTEGER) AS n_tokens,
      |  CAST(count(rm.p) AS INTEGER) AS n_removed,
      |  COALESCE(array_to_string(
      |    list(t.tok ORDER BY t.p) FILTER (WHERE rm.p IS NULL), ' '),
      |    '') AS clean_text
      |FROM tok t LEFT JOIN rm ON t.doc_id = rm.doc_id AND t.p = rm.p
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** q188/q208 shared body: PR-curve replay — the q181 logit fold
    * feeds a per-distinct-score aggregation, then a descending
    * cumulative window (CAST to BIGINT: DuckDB windowed SUM returns
    * HUGEINT — the q102 lesson) and ppm integer division. q188 keeps
    * the full sweep; q208 keeps the argmax-F1 row (ties → stricter
    * threshold). */
  private val prCurveBody =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, (n_chars >= 400) AS gold,
      |    CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
      |      (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(string_split(w, ''),
      |            c -> CAST(unicode(c) AS BIGINT))),
      |        (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
      |        % 64 * 1000003 + 12345) % 1000000007 % 17 - 8))) AS BIGINT)
      |      AS logit
      |  FROM t),
      |s AS (
      |  SELECT logit AS thr, CAST(count(*) AS BIGINT) AS n,
      |    CAST(coalesce(sum(CASE WHEN gold THEN 1 ELSE 0 END), 0) AS BIGINT)
      |      AS np
      |  FROM g GROUP BY 1),
      |c AS (
      |  SELECT thr,
      |    CAST(sum(n) OVER w AS BIGINT) AS scanned,
      |    CAST(sum(np) OVER w AS BIGINT) AS tp
      |  FROM s
      |  WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)),
      |p AS (
      |  SELECT CAST(coalesce(sum(CASE WHEN gold THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS p_all FROM g)
      |SELECT thr, tp, scanned - tp AS fp, p_all - tp AS fn,
      |  CAST(1000000 * tp // scanned AS BIGINT) AS prec_ppm,
      |  CASE WHEN p_all > 0 THEN CAST(1000000 * tp // p_all AS BIGINT)
      |    END AS rec_ppm,
      |  CAST(2000000 * tp // (scanned + p_all) AS BIGINT) AS f1_ppm
      |FROM c, p""".stripMargin
  private[graft] val q188 = prCurveBody + "\nORDER BY thr DESC"
  private[graft] val q208 = prCurveBody + "\nORDER BY f1_ppm DESC, thr DESC LIMIT 1"

  /** q189: Cohen's kappa replay — integer confusion-cell arithmetic;
    * the fixed point divides MAGNITUDES only so DuckDB's floor //
    * agrees with Spark's truncating DIV on the (possibly negative)
    * numerator. */
  private[graft] val q189 =
    """WITH r AS (
      |  SELECT
      |    CASE WHEN n_chars < 250 THEN 'short'
      |         WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS la,
      |    CASE WHEN len(list_filter(string_split(lower(text), ' '),
      |             w -> w <> '')) < 45 THEN 'short'
      |         WHEN len(list_filter(string_split(lower(text), ' '),
      |             w -> w <> '')) < 70 THEN 'mid' ELSE 'long' END AS lb
      |  FROM documents),
      |cells AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
      |          FROM r GROUP BY 1, 2),
      |m AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(coalesce(sum(CASE WHEN la = lb THEN c END), 0) AS BIGINT)
      |      AS d
      |  FROM cells),
      |sx AS (
      |  SELECT CAST(coalesce(sum(x.ra * y.cb), 0) AS BIGINT) AS s
      |  FROM (SELECT la AS l, CAST(sum(c) AS BIGINT) AS ra
      |        FROM cells GROUP BY 1) x
      |  JOIN (SELECT lb AS l, CAST(sum(c) AS BIGINT) AS cb
      |        FROM cells GROUP BY 1) y USING (l))
      |SELECT n, d, s,
      |  CAST(1000000 * d // n AS BIGINT) AS po_ppm,
      |  CAST(1000000 * s // (n * n) AS BIGINT) AS pe_ppm,
      |  CASE WHEN n * n = s THEN CAST(1000000 AS BIGINT)
      |       WHEN n * d - s >= 0
      |         THEN CAST(1000000 * (n * d - s) // (n * n - s) AS BIGINT)
      |       ELSE CAST(-(1000000 * (s - n * d) // (n * n - s)) AS BIGINT)
      |  END AS kappa_ppm
      |FROM m, sx""".stripMargin

  /** q190: α-sampling replay — exact isqrt (float seed ±1-corrected in
    * integer comparisons), largest-remainder apportionment over the
    * bounded per-source frame, scramble-order application (q78's key). */
  private[graft] val q190 =
    """WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM documents GROUP BY 1),
      |i1 AS (SELECT source, n_rows,
      |         CAST(floor(sqrt(CAST(n_rows AS DOUBLE))) AS BIGINT) AS a
      |       FROM c),
      |i2 AS (SELECT source, n_rows,
      |         a - CASE WHEN a * a > n_rows THEN 1 ELSE 0 END AS dn
      |       FROM i1),
      |i3 AS (SELECT source, n_rows,
      |         dn + CASE WHEN (dn + 1) * (dn + 1) <= n_rows THEN 1 ELSE 0
      |              END AS w
      |       FROM i2),
      |q1 AS (SELECT source, w, CAST(sum(w) OVER () AS BIGINT) AS wsum
      |       FROM i3),
      |q2 AS (SELECT source, w, wsum,
      |         CAST(150 * w // wsum AS BIGINT) AS base,
      |         row_number() OVER (ORDER BY (150 * w) % wsum DESC,
      |           source ASC) AS rem_rank
      |       FROM q1),
      |q3 AS (SELECT source,
      |         base + CASE WHEN rem_rank <=
      |             150 - CAST(sum(base) OVER () AS BIGINT)
      |           THEN 1 ELSE 0 END AS quota
      |       FROM q2),
      |r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY (doc_id % 2147483647) * 2654435761 % 2147483647 ASC,
      |               doc_id ASC) AS samp_rank
      |  FROM documents)
      |SELECT r.doc_id, r.source,
      |  CAST(r.samp_rank AS INTEGER) AS samp_rank,
      |  CAST(q3.quota AS BIGINT) AS quota
      |FROM r JOIN q3 USING (source)
      |WHERE r.samp_rank <= q3.quota
      |ORDER BY source, samp_rank""".stripMargin

  /** q191: lexical-diversity replay (round 8, all-integer — the q201
    * convention; the rounds-6/7 entropy publications hash-missed at
    * BOTH (18,9) and (18,6) because double→DECIMAL cast semantics
    * differ by engine, so the double is gone entirely): exact BIGINT
    * Σc² over the distinct-token list, truncating `//` for ttr_ppm
    * (BIGINT // BIGINT is integer division in DuckDB), and the
    * low_diversity cut is an integer comparison. */
  private[graft] val q191 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |d AS (SELECT doc_id, toks,
      |        list_sort(list_distinct(toks)) AS dts FROM t),
      |e AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST(len(dts) AS BIGINT) AS n_distinct,
      |    CAST(coalesce(list_sum(
      |      list_transform(
      |        list_transform(dts, x ->
      |          CAST(len(list_filter(toks, t2 -> t2 = x)) AS BIGINT)),
      |        c -> c * c)), 0) AS BIGINT) AS simpson_c2
      |  FROM d)
      |SELECT doc_id, n_toks, n_distinct,
      |  CAST(CASE WHEN n_toks > 0
      |    THEN 1000000 * n_distinct // n_toks
      |    ELSE 0 END AS BIGINT) AS ttr_ppm,
      |  simpson_c2,
      |  n_toks > 0 AND simpson_c2 * 12 >= n_toks * n_toks
      |    AS low_diversity
      |FROM e ORDER BY doc_id""".stripMargin

  /** q192: split-leakage replay — q147's exhaustive lossless pair join
    * composed with q78's split assignment; cross-split pairs only. */
  private[graft] val q192 =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ws
      |  FROM ws WHERE len(w) >= 3),
      |pp AS (SELECT doc_id, unnest(ws) AS tok FROM t WHERE len(ws) > 0),
      |cand AS (
      |  SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
      |  FROM pp p1 JOIN pp p2 ON p1.tok = p2.tok AND p1.doc_id < p2.doc_id),
      |v AS (
      |  SELECT a, b,
      |    len(list_intersect(ta.ws, tb.ws)) AS common,
      |    len(ta.ws) AS sza, len(tb.ws) AS szb
      |  FROM cand
      |  JOIN t ta ON ta.doc_id = cand.a
      |  JOIN t tb ON tb.doc_id = cand.b),
      |pr AS (
      |  SELECT a, b, common, sza, szb FROM v
      |  WHERE common * 5 >= (sza + szb - common) * 3),
      |r AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY (doc_id % 2147483647) * 2654435761 % 2147483647 ASC,
      |               doc_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS cnt
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN rn * 100 <= cnt * 80 THEN 'train'
      |         WHEN rn * 100 <= cnt * 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM r)
      |SELECT pr.a, pr.b, CAST(pr.common AS INTEGER) AS common,
      |  pr.common / (pr.sza + pr.szb - pr.common) AS jaccard,
      |  sa.split AS split_a, sb.split AS split_b,
      |  (sa.split = 'train' OR sb.split = 'train') AS leaks_train
      |FROM pr
      |JOIN sp sa ON sa.doc_id = pr.a
      |JOIN sp sb ON sb.doc_id = pr.b
      |WHERE sa.split <> sb.split
      |ORDER BY a, b""".stripMargin

  /** q193: zone-map replay — file_id off a row_number over the unique
    * layout key (Spark's globalRowIds total order), grouped min/max
    * zone stats, both layouts unioned. */
  private[graft] val q193 = {
    def audit(keyExpr: String, tag: String): String =
      s"""SELECT '$tag' AS layout,
         |  CAST((row_number() OVER (ORDER BY $keyExpr ASC) - 1) // 500
         |    AS BIGINT) AS file_id,
         |  o_custkey AS v
         |FROM orders""".stripMargin
    s"""WITH na AS (${audit("o_orderkey", "natural")}),
       |cl AS (${audit("o_custkey * 1000000000 + o_orderkey", "clustered")}),
       |u AS (SELECT * FROM na UNION ALL SELECT * FROM cl)
       |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(v) AS min_v, max(v) AS max_v,
       |  (max(v) < 100 OR min(v) > 300) AS pruned,
       |  CAST(coalesce(sum(CASE WHEN v BETWEEN 100 AND 300 THEN 1 ELSE 0
       |    END), 0) AS BIGINT) AS n_match,
       |  layout
       |FROM u GROUP BY layout, file_id
       |ORDER BY layout, file_id""".stripMargin
  }

  /** q194: stratified k-fold replay — q78's scramble order, fold =
    * (rn − 1) mod 5. */
  private[graft] val q194 =
    """SELECT doc_id, lang,
      |  CAST((row_number() OVER (PARTITION BY lang
      |    ORDER BY (doc_id % 2147483647) * 2654435761 % 2147483647 ASC,
      |             doc_id ASC) - 1) % 5 AS INTEGER) AS fold
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q195: Bradley–Terry replay — monthly nation-revenue contests
    * (exact decimal compares), then both MM iterations unrolled as
    * CTEs in the same 10⁶/10¹² integer fixed point (the q102/q176
    * unrolled-iteration pattern); both engines clamp denominators to
    * ≥ 1 and floor-divide non-negative operands. */
  private[graft] val q195 =
    """WITH rev AS (
      |  SELECT c.c_nationkey AS nk,
      |    date_trunc('month', o.o_orderdate) AS m,
      |    sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |con AS (
      |  SELECT
      |    CASE WHEN x.rev > y.rev THEN x.nk
      |         WHEN y.rev > x.rev THEN y.nk
      |         ELSE least(x.nk, y.nk) END AS winner,
      |    CASE WHEN x.rev > y.rev THEN y.nk
      |         WHEN y.rev > x.rev THEN x.nk
      |         ELSE greatest(x.nk, y.nk) END AS loser
      |  FROM rev x JOIN rev y ON x.m = y.m AND x.nk < y.nk),
      |e0 AS (SELECT winner AS u, loser AS v FROM con
      |       UNION ALL SELECT loser, winner FROM con),
      |e AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n
      |      FROM e0 GROUP BY 1, 2),
      |wn AS (SELECT winner AS u, CAST(count(*) AS BIGINT) AS w
      |       FROM con GROUP BY 1),
      |tot AS (SELECT u, CAST(sum(n) AS BIGINT) AS n_all
      |        FROM e GROUP BY 1),
      |p0 AS (SELECT t.u, coalesce(wn.w, 0) AS w, t.n_all AS n,
      |         CAST(1000000 AS BIGINT) AS p
      |       FROM tot t LEFT JOIN wn USING (u)),
      |d1 AS (
      |  SELECT e.u,
      |    CAST(sum(e.n * 1000000000000 // greatest(pu.p + pv.p, 1))
      |      AS BIGINT) AS d
      |  FROM e JOIN p0 pu ON pu.u = e.u JOIN p0 pv ON pv.u = e.v
      |  GROUP BY 1),
      |p1 AS (SELECT p0.u, p0.w, p0.n,
      |         CAST(p0.w * 1000000000000 // greatest(d1.d, 1) AS BIGINT)
      |           AS p
      |       FROM p0 JOIN d1 USING (u)),
      |d2 AS (
      |  SELECT e.u,
      |    CAST(sum(e.n * 1000000000000 // greatest(pu.p + pv.p, 1))
      |      AS BIGINT) AS d
      |  FROM e JOIN p1 pu ON pu.u = e.u JOIN p1 pv ON pv.u = e.v
      |  GROUP BY 1),
      |p2 AS (SELECT p1.u, p1.w, p1.n,
      |         CAST(p1.w * 1000000000000 // greatest(d2.d, 1) AS BIGINT)
      |           AS p
      |       FROM p1 JOIN d2 USING (u))
      |SELECT u AS nationkey, w, n, p
      |FROM p2 ORDER BY p DESC, nationkey""".stripMargin

  /** q196: PMI collocation replay (round 8, all-integer — ln is
    * monotone so ranking by PMI ≡ ranking by the exact rational
    * c₁₂·T/(c₁·c₂); rounds 6/7's ln-quantized publications
    * hash-missed at both (18,9) and (18,6) — double→DECIMAL cast
    * semantics, not an ln ulp). HUGEINT staging; `//` truncates
    * toward zero exactly like Spark's DIV. */
  private[graft] val q196 =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
      |  FROM documents),
      |s AS (
      |  SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |  FROM base WHERE len(w) >= 2),
      |bi0 AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM s GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(c12) AS BIGINT) AS t_bi FROM bi0),
      |bi AS (SELECT * FROM bi0 WHERE c12 >= 5),
      |u AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(w) AS tok FROM base) GROUP BY 1)
      |SELECT b.w1, b.w2, b.c12,
      |  CAST((CAST(b.c12 AS HUGEINT) * t.t_bi * 1000000) //
      |    (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS ratio_ppm
      |FROM bi b
      |JOIN u u1 ON u1.tok = b.w1
      |JOIN u u2 ON u2.tok = b.w2, t
      |ORDER BY ratio_ppm DESC, w1, w2 LIMIT 40""".stripMargin

  /** q197: hapax / Good–Turing unseen-mass replay — exact integer
    * counts, ppm floor division. */
  private[graft] val q197 =
    """WITH u AS (
      |  SELECT source AS grp,
      |    unnest(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS tok
      |  FROM documents),
      |c AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS c
      |      FROM u GROUP BY 1, 2),
      |g AS (
      |  SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS n_hapax
      |  FROM c GROUP BY 1)
      |SELECT grp AS source, n_tokens, vocab, n_hapax,
      |  CAST(1000000 * n_hapax // n_tokens AS BIGINT) AS unseen_mass_ppm,
      |  CAST(1000000 * n_hapax // vocab AS BIGINT) AS hapax_share_ppm
      |FROM g ORDER BY source""".stripMargin

  /** q198: Markov next-event eval replay — lead() transitions in
    * (epoch_us, id) order, argmax model on train users (uid % 5 ≠ 0),
    * exact-integer accuracy on the holdout. */
  private[graft] val q198 =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
      |  FROM events),
      |tr AS (SELECT user_id AS uid, event_type AS cur, next_type
      |       FROM e WHERE next_type IS NOT NULL),
      |m0 AS (
      |  SELECT cur, next_type, CAST(count(*) AS BIGINT) AS n_train
      |  FROM tr WHERE uid % 5 <> 0 GROUP BY 1, 2),
      |m AS (
      |  SELECT cur, next_type AS pred FROM (
      |    SELECT cur, next_type,
      |      row_number() OVER (PARTITION BY cur
      |        ORDER BY n_train DESC, next_type ASC) AS rk
      |    FROM m0) WHERE rk = 1),
      |a AS (
      |  SELECT t.cur AS event_type, CAST(count(*) AS BIGINT) AS n_test,
      |    CAST(coalesce(sum(CASE WHEN t.next_type = m.pred THEN 1
      |      ELSE 0 END), 0) AS BIGINT) AS n_hits
      |  FROM (SELECT * FROM tr WHERE uid % 5 = 0) t
      |  JOIN m ON m.cur = t.cur GROUP BY 1)
      |SELECT event_type, n_test, n_hits,
      |  CAST(1000000 * n_hits // n_test AS BIGINT) AS acc_ppm
      |FROM a ORDER BY event_type""".stripMargin

  /** q199: label-propagation replay — q102's trade-edge CTE, top-3
    * sparsification, symmetrize+dedup, both synchronous rounds
    * unrolled with the (count DESC, label ASC) argmax. */
  /** Shared CTE prefix for q199/q221: the sparsified trade graph, its
    * symmetrized edge set, and two unrolled label-propagation rounds
    * ending in `l2` (node, label). */
  private val lpaCtes = {
    def round(prev: String, out: String): String =
      s"""${out}n AS (
         |  SELECT und.u, l.label, CAST(count(*) AS BIGINT) AS n
         |  FROM und JOIN $prev l ON l.node = und.v
         |  GROUP BY 1, 2),
         |$out AS (
         |  SELECT u AS node, label FROM (
         |    SELECT u, label, row_number() OVER (PARTITION BY u
         |      ORDER BY n DESC, label ASC) AS rk
         |    FROM ${out}n) WHERE rk = 1)""".stripMargin
    s"""edges AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |sparse AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY w DESC, dst ASC) AS rk
       |    FROM edges) WHERE rk <= 3),
       |und AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT src AS u, dst AS v FROM sparse
       |    UNION ALL SELECT dst, src FROM sparse)
       |  WHERE u <> v),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
       |${round("l0", "l1")},
       |${round("l1", "l2")}""".stripMargin
  }

  private[graft] val q199 =
    s"""WITH $lpaCtes
       |SELECT node AS nationkey, label AS community
       |FROM l2 ORDER BY nationkey""".stripMargin

  /** q200: Poisson-bootstrap replay — the Privacy-PRF uniform with
    * the replicate folded into the key, the identical Poisson(1)
    * inverse-CDF double-literal ladder, decimal-exact weighted sums. */
  private[graft] val q200 =
    """WITH rep AS (
      |  SELECT o_orderkey AS id,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |    unnest(generate_series(0, 31)) AS b
      |  FROM orders),
      |h AS (
      |  SELECT b, x,
      |    ((((id % 1000000007) * 1009 + b) % 1000000007 * 48271
      |      + 20240813) % 1000000007 * 16807 + 12345) % 1000000007 AS h2
      |  FROM rep),
      |wt AS (
      |  SELECT b, x,
      |    CASE WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.36787944117144233 THEN 0
      |         WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.7357588823428847 THEN 1
      |         WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.9196986029286058 THEN 2
      |         WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.9810118431238462 THEN 3
      |         WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.9963401531726563 THEN 4
      |         WHEN (CAST(h2 AS DOUBLE) + 0.5) / 1000000007
      |           < 0.9994058151824183 THEN 5
      |         ELSE 6 END AS w
      |  FROM h)
      |SELECT CAST(b AS INTEGER) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CAST(CAST(sum(w * x) AS DECIMAL(38,2)) AS DOUBLE) /
      |    CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean
      |FROM wt GROUP BY b ORDER BY b""".stripMargin

  /** q201: Welch t-test replay — round-7 all-integer publication (the
    * q112/q189 convention, zero doubles). Exact decimal moments are
    * scaled to exact integers (S = 100Σx cents, Q = 10⁴Σx² cents²)
    * and everything downstream runs in HUGEINT, whose `//` truncates
    * toward zero exactly like Spark's DIV on DECIMAL(38,0): se2·10⁹ =
    * (nQ−S²)·10⁵ // n²(n−1) per arm, Δ·10⁶, t²·10⁹ = Δu²·10⁶ //
    * Σse2n, df·10⁹ off milli-coarsened se2n (widest intermediate
    * (am+bm)²·10⁹ < 10³⁸). Round 6's DECIMAL(18,9)-of-double t9/df9
    * hash-missed in the driver's oracle env despite local bit-equality
    * — a decimal-from-double cast difference — so the double path is
    * gone entirely. */
  private[graft] val q201 =
    """WITH d AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |    o_orderpriority = '1-URGENT' AS arm
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
      |    CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS HUGEINT) AS n_b,
      |    CAST(CAST(sum(CASE WHEN arm THEN x
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) * 100
      |      AS HUGEINT) AS s_a,
      |    CAST(CAST(sum(CASE WHEN NOT arm THEN x
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) * 100
      |      AS HUGEINT) AS s_b,
      |    CAST(CAST(sum(CASE WHEN arm THEN CAST(x * x AS DECIMAL(38,4))
      |        ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(28,4)) * 10000
      |      AS HUGEINT) AS q_a,
      |    CAST(CAST(sum(CASE WHEN NOT arm THEN CAST(x * x AS DECIMAL(38,4))
      |        ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(28,4)) * 10000
      |      AS HUGEINT) AS q_b
      |  FROM d),
      |v AS (
      |  SELECT n_a, n_b, s_a, s_b,
      |    (n_a * q_a - s_a * s_a) AS va0,
      |    (n_b * q_b - s_b * s_b) AS vb0
      |  FROM m),
      |se AS (
      |  SELECT n_a, n_b, s_a, s_b,
      |    (va0 * 100000) // NULLIF(n_a * n_a * (n_a - 1), 0) AS se2n_a,
      |    (vb0 * 100000) // NULLIF(n_b * n_b * (n_b - 1), 0) AS se2n_b,
      |    s_a * n_b - s_b * n_a AS dc
      |  FROM v),
      |t AS (
      |  SELECT n_a, n_b, s_a, s_b, se2n_a, se2n_b, dc,
      |    (dc * 1000000) // NULLIF(100 * n_a * n_b, 0) AS du,
      |    se2n_a // 1000000 AS am,
      |    se2n_b // 1000000 AS bm
      |  FROM se)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST((s_a * 10000) // NULLIF(n_a, 0) AS BIGINT) AS mean_a_u,
      |  CAST((s_b * 10000) // NULLIF(n_b, 0) AS BIGINT) AS mean_b_u,
      |  CAST(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 ELSE 0 END
      |    AS BIGINT) AS t_sign,
      |  CAST((du * du * 1000000) // NULLIF(se2n_a + se2n_b, 0)
      |    AS BIGINT) AS t2_9,
      |  CAST(((am + bm) * (am + bm) * 1000000000)
      |    // NULLIF((am * am) // NULLIF(n_a - 1, 0) +
      |              (bm * bm) // NULLIF(n_b - 1, 0), 0)
      |    AS BIGINT) AS df9
      |FROM t""".stripMargin

  /** q202: content-defined chunking replay — q181's char-fold token
    * hashes, the 4-token rolling fold mod 1e9+7, boundaries at 0 mod
    * 8, list-slice chunk extraction. */
  private[graft] val q202 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, toks,
      |    list_transform(toks, w ->
      |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(w, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)) AS th
      |  FROM t),
      |b AS (
      |  SELECT doc_id, toks,
      |    list_prepend(CAST(0 AS BIGINT),
      |      CASE WHEN len(toks) >= 4 THEN
      |        list_filter(range(4, len(toks) + 1), e ->
      |          ((((th[e-3] * 33 + th[e-2]) % 1000000007 * 33
      |            + th[e-1]) % 1000000007 * 33
      |            + th[e]) % 1000000007) % 8 = 0)
      |      ELSE CAST([] AS BIGINT[]) END) AS starts
      |  FROM h),
      |c AS (
      |  SELECT doc_id, toks, starts,
      |    unnest(generate_series(1, len(starts))) AS i
      |  FROM b)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_id,
      |  CAST(starts[i] AS INTEGER) AS start_tok,
      |  CAST((CASE WHEN i < len(starts) THEN starts[i+1]
      |        ELSE len(toks) END) - starts[i] AS INTEGER) AS n_chunk_toks,
      |  array_to_string(toks[starts[i]+1 :
      |    CASE WHEN i < len(starts) THEN starts[i+1] ELSE len(toks) END],
      |    ' ') AS chunk_text
      |FROM c
      |WHERE (CASE WHEN i < len(starts) THEN starts[i+1]
      |       ELSE len(toks) END) - starts[i] > 0
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** q203: reciprocal-NN replay — the q182 float-cosine convention
    * (left-associative fold, bit-identical sims) restricted to the
    * eval subset on BOTH sides, top-1 per vector, mutual join. */
  private[graft] val q203 =
    """WITH s AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_aggregate(list_transform(range(1, 65),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
      |    / sqrt(list_aggregate(list_transform(range(1, 65),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))
      |    / sqrt(list_aggregate(list_transform(range(1, 65),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
      |    AS sim
      |  FROM embeddings q CROSS JOIN embeddings c
      |  WHERE q.vec_id % 20 = 0 AND c.vec_id % 20 = 0
      |    AND c.vec_id <> q.vec_id),
      |t AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |      ORDER BY sim DESC, cid ASC) AS rn
      |    FROM s) WHERE rn = 1)
      |SELECT x.qid AS a, x.cid AS b
      |FROM t x JOIN t y ON x.qid = y.cid AND x.cid = y.qid
      |WHERE x.qid < x.cid
      |ORDER BY a""".stripMargin

  /** q204: vocab-growth replay — first-occurrence histogram, then the
    * cumulative window (CAST BIGINT — the q102 HUGEINT lesson). */
  private[graft] val q204 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT tok, min(doc_id) AS first_doc
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1),
      |nt AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT)
      |         AS new_types FROM f GROUP BY 1),
      |p AS (
      |  SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types
      |  FROM t LEFT JOIN nt USING (doc_id))
      |SELECT doc_id, n_toks, new_types,
      |  CAST(sum(n_toks) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(sum(new_types) OVER w AS BIGINT) AS cum_vocab
      |FROM p WINDOW w AS (ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING)
      |ORDER BY doc_id""".stripMargin

  /** q205: burstiness replay — exact integer VMR; numerator ≥ 0 by
    * Cauchy–Schwarz so // matches Spark's DIV. */
  private[graft] val q205 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |pd AS (
      |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |a AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(c) AS BIGINT) AS total,
      |    CAST(sum(c * c) AS BIGINT) AS s2,
      |    CAST(max(c) AS BIGINT) AS max_in_doc
      |  FROM pd GROUP BY 1)
      |SELECT tok, df, total, max_in_doc,
      |  CAST(1000000 * (n.n_docs * s2 - total * total)
      |    // (n.n_docs * total) AS BIGINT) AS vmr_ppm
      |FROM a, n WHERE df >= 5
      |ORDER BY vmr_ppm DESC, tok LIMIT 30""".stripMargin

  /** q206: trending-token replay — integer midpoint split, one-pass
    * half-tagged counts, smoothed integer odds. */
  private[graft] val q206 =
    """WITH ids AS (
      |  SELECT CAST((min(doc_id) + max(doc_id)) // 2 AS BIGINT) AS mid
      |  FROM documents),
      |tg AS (
      |  SELECT d.doc_id > ids.mid AS recent,
      |    unnest(list_filter(string_split(lower(d.text), ' '),
      |      w -> w <> '')) AS tok
      |  FROM documents d, ids),
      |c AS (
      |  SELECT tok,
      |    CAST(coalesce(sum(CASE WHEN NOT recent THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS c_old,
      |    CAST(coalesce(sum(CASE WHEN recent THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS c_new
      |  FROM tg GROUP BY 1),
      |t AS (SELECT CAST(sum(c_old) AS BIGINT) AS t_old,
      |        CAST(sum(c_new) AS BIGINT) AS t_new FROM c)
      |SELECT tok, c_old, c_new,
      |  CAST(1000000 * (c_new + 1) * t.t_old
      |    // ((c_old + 1) * t.t_new) AS BIGINT) AS trend_ppm
      |FROM c, t WHERE c_new >= 5
      |ORDER BY trend_ppm DESC, tok LIMIT 30""".stripMargin

  /** q207: kNN-outlier replay — the q203 float-cosine CTE, rank-5 row
    * per query, threshold flag on the bit-replayed sim. */
  private[graft] val q207 =
    """WITH s AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_aggregate(list_transform(range(1, 65),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
      |    / sqrt(list_aggregate(list_transform(range(1, 65),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))
      |    / sqrt(list_aggregate(list_transform(range(1, 65),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
      |    AS sim
      |  FROM embeddings q CROSS JOIN embeddings c
      |  WHERE q.vec_id % 20 = 0 AND c.vec_id % 20 = 0
      |    AND c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT qid, sim, row_number() OVER (PARTITION BY qid
      |    ORDER BY sim DESC, cid ASC) AS rn
      |  FROM s)
      |SELECT qid AS query_id, sim AS sim_k, sim < 0.35 AS outlier
      |FROM r WHERE rn = 5 ORDER BY query_id""".stripMargin

  /** q209: dedup-impact replay — exact stage groups the RAW lowercased
    * text where Spark groups its xxhash64 (the q186 collision
    * convention); the paragraph stage is q186's CTE body over the
    * stage-1 survivors; each report row is a scalar aggregate. */
  private[graft] val q209 =
    """WITH base AS (
      |  SELECT doc_id, text AS t,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS n_toks
      |  FROM documents),
      |raw AS (
      |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(n_toks) AS BIGINT) AS tokens
      |  FROM base),
      |k1 AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY lower(t)),
      |s1b AS (SELECT b.* FROM base b JOIN k1 USING (doc_id)),
      |s1 AS (
      |  SELECT '1_exact' AS stage, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(n_toks) AS BIGINT) AS tokens
      |  FROM s1b),
      |d AS (SELECT doc_id, string_split(lower(t), ' ') AS toks FROM s1b),
      |b2 AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, (len(toks) - 1) // 8)) AS para_id
      |  FROM d),
      |paras AS (
      |  SELECT doc_id, para_id,
      |    array_to_string(toks[para_id*8+1 : para_id*8+8], ' ') AS ptext
      |  FROM b2),
      |own AS (
      |  SELECT doc_id, para_id, ptext,
      |    row_number() OVER (PARTITION BY ptext
      |      ORDER BY doc_id, para_id) AS rn
      |  FROM paras),
      |pd AS (
      |  SELECT doc_id,
      |    count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
      |    COALESCE(array_to_string(
      |      list(ptext ORDER BY para_id) FILTER (WHERE rn = 1),
      |      ' '), '') AS clean_text
      |  FROM own GROUP BY doc_id),
      |s2 AS (
      |  SELECT '2_paragraph' AS stage,
      |    CAST(coalesce(sum(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS docs,
      |    CAST(sum(len(list_filter(string_split(clean_text, ' '),
      |      w -> w <> ''))) AS BIGINT) AS tokens
      |  FROM pd)
      |SELECT * FROM raw UNION ALL SELECT * FROM s1
      |UNION ALL SELECT * FROM s2 ORDER BY stage""".stripMargin

  /** q96: per-source compressibility rollup replay (round 8 — the
    * registration's hashable surface; the raw zlib ratio stays an
    * engine API, see COVERAGE.md). Same per-doc 4-gram kernel as
    * q211, then one integer aggregation by source; dup4_ppm is
    * mass-weighted (Σdup // Σgrams on BIGINTs). */
  private[graft] val q96n =
    """WITH t AS (
      |  SELECT doc_id, source, strlen(text) AS n_bytes,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, n_bytes,
      |    CASE WHEN len(toks) >= 4 THEN
      |      list_transform(range(1, len(toks) - 2),
      |        i -> array_to_string(toks[i:i+3], ' '))
      |    ELSE [] END AS grams
      |  FROM t),
      |d AS (
      |  SELECT doc_id, source, CAST(n_bytes AS BIGINT) AS n_bytes,
      |    CAST(len(grams) AS BIGINT) AS n_grams,
      |    CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
      |    CASE WHEN len(grams) > 0 THEN
      |      CAST(1000000 * (len(grams) - len(list_distinct(grams)))
      |        // len(grams) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS dup4_ppm
      |  FROM g)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
      |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
      |  CAST(sum(n_grams - n_distinct_grams) AS BIGINT) AS sum_dup_grams,
      |  CAST(CASE WHEN sum(n_grams) > 0
      |    THEN 1000000 * sum(n_grams - n_distinct_grams) // sum(n_grams)
      |    ELSE 0 END AS BIGINT) AS dup4_ppm,
      |  CAST(coalesce(sum(CASE WHEN dup4_ppm >= 250000 THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS high_dup_docs
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** q211: compressibility-proxy replay — duplicate-4-gram mass
    * (strlen = UTF-8 bytes in both engines; list slice [i:i+3] is the
    * q113 n-gram pattern; ppm floor division on non-negatives). */
  private[graft] val q211 =
    """WITH t AS (
      |  SELECT doc_id, strlen(text) AS n_bytes,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, n_bytes,
      |    CASE WHEN len(toks) >= 4 THEN
      |      list_transform(range(1, len(toks) - 2),
      |        i -> array_to_string(toks[i:i+3], ' '))
      |    ELSE [] END AS grams
      |  FROM t)
      |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
      |  CASE WHEN len(grams) > 0 THEN
      |    CAST(1000000 * (len(grams) - len(list_distinct(grams)))
      |      // len(grams) AS BIGINT)
      |  ELSE CAST(0 AS BIGINT) END AS dup4_ppm
      |FROM g ORDER BY doc_id""".stripMargin

  /** q212: quality-canonical election replay — q132's portable MinHash
    * pair construction as a CTE, the q47 recursive min-label walk for
    * components, the q188 integer-logit fragment for quality, then one
    * window rank per cluster (logit DESC, doc_id ASC). */
  private[graft] val q212 =
    s"""WITH RECURSIVE pr AS ($q132),
       |sym AS (
       |  SELECT a AS src, b AS dst FROM pr
       |  UNION SELECT b AS src, a AS dst FROM pr),
       |walk(node, label) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, w.label FROM sym s JOIN walk w ON w.node = s.dst),
       |cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id
       |       FROM walk GROUP BY node),
       |t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
       |      (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split(w, ''),
       |            c -> CAST(unicode(c) AS BIGINT))),
       |        (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
       |        % 64 * 1000003 + 12345) % 1000000007 % 17 - 8))) AS BIGINT)
       |      AS logit
       |  FROM t),
       |r AS (
       |  SELECT c.doc_id, c.cluster_id, g.logit,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY g.logit DESC, c.doc_id ASC) AS rn
       |  FROM cl c JOIN g USING (doc_id))
       |SELECT doc_id, cluster_id, logit, rn = 1 AS keep
       |FROM r ORDER BY cluster_id, doc_id""".stripMargin

  /** q213: benchmark-decontamination replay — distinct 8-gram posting
    * lists (the q132 slicing pattern), benchmark side = doc_id % 97,
    * self-matches excluded, ppm floor division on non-negatives. */
  private[graft] val q213 =
    """WITH b AS (
      |  SELECT doc_id, doc_id % 97 = 0 AS is_bench,
      |    string_split(lower(text), ' ') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS shingle
      |  FROM b, UNNEST(range(1, len(ws) - 6)) t(i)
      |  WHERE len(ws) >= 8),
      |bg AS (
      |  SELECT g.shingle, g.doc_id AS bench_doc
      |  FROM g JOIN b USING (doc_id) WHERE b.is_bench),
      |hit AS (
      |  SELECT DISTINCT c.doc_id, c.shingle
      |  FROM g c JOIN bg ON c.shingle = bg.shingle
      |   AND c.doc_id <> bg.bench_doc),
      |hc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      |       FROM hit GROUP BY 1),
      |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |       FROM g GROUP BY 1)
      |SELECT b.doc_id, b.is_bench,
      |  coalesce(tc.n_grams, 0) AS n_grams,
      |  coalesce(hc.n_contaminated, 0) AS n_contaminated,
      |  CASE WHEN coalesce(tc.n_grams, 0) > 0
      |    THEN CAST(1000000 * coalesce(hc.n_contaminated, 0) // tc.n_grams
      |         AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS contam_ppm,
      |  NOT b.is_bench AND coalesce(hc.n_contaminated, 0) >= 1 AS flagged
      |FROM b LEFT JOIN tc USING (doc_id) LEFT JOIN hc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q214: image-decode replay WITHOUT images — the engine renders a
    * closed-form pattern (w = 8 + id mod 9, h = 8 + 3·id mod 9;
    * r = (7x+id) mod 256, g = (11y+2·id) mod 256,
    * b = (x+y+3·id) mod 256) into real BMP/PNG bytes and decodes them
    * back; the oracle computes the identical integer stats directly
    * from the formula (cross join against 0..15 coordinate ranges,
    * nearest-neighbor index t·dim//4 for the 4×4 resize, integer
    * 77/150/29 luma with //256). A hash match proves the codec
    * round-trip recovered every pixel byte-exactly. */
  private[graft] val q214 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    8 + doc_id % 9 AS w,
      |    8 + (3 * doc_id) % 9 AS h
      |  FROM documents),
      |px AS (
      |  SELECT i.doc_id,
      |    CAST(SUM((7 * x.v + i.doc_id) % 256) AS BIGINT) AS sum_r,
      |    CAST(SUM((11 * y.v + 2 * i.doc_id) % 256) AS BIGINT) AS sum_g,
      |    CAST(SUM((x.v + y.v + 3 * i.doc_id) % 256) AS BIGINT) AS sum_b
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 16)) x ON x.v < i.w
      |  JOIN (SELECT range AS v FROM range(0, 16)) y ON y.v < i.h
      |  GROUP BY i.doc_id),
      |rl AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(
      |      (  77 * ((7 * ((tx.v * i.w) // 4) + i.doc_id) % 256)
      |       + 150 * ((11 * ((ty.v * i.h) // 4) + 2 * i.doc_id) % 256)
      |       +  29 * (((tx.v * i.w) // 4 + (ty.v * i.h) // 4
      |                 + 3 * i.doc_id) % 256)
      |      ) // 256) AS BIGINT) AS resized_luma_sum
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(i.w AS BIGINT) AS width, CAST(i.h AS BIGINT) AS height,
      |  px.sum_r, px.sum_g, px.sum_b, rl.resized_luma_sum,
      |  TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q241: mixed-profile image replay — q214's scheme with a per-
    * profile branch: ids with doc_id % 4 = 3 carry 8-bit grayscale
    * PNGs (raster v = (7x+11y+id) mod 256, luma of a gray pixel is
    * exactly v since (77+150+29)v >> 8 = v), everything else the
    * standard rgb formula regardless of container (BMP, truecolor
    * PNG, or paletted PNG — the PLTE indirection is lossless). */
  private[graft] val q241 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    8 + doc_id % 9 AS w,
      |    8 + (3 * doc_id) % 9 AS h,
      |    doc_id % 4 AS prof
      |  FROM documents),
      |px AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(CASE WHEN i.prof = 3
      |      THEN (7 * x.v + 11 * y.v + i.doc_id) % 256
      |      ELSE (7 * x.v + i.doc_id) % 256 END) AS BIGINT) AS sum_r,
      |    CAST(SUM(CASE WHEN i.prof = 3
      |      THEN (7 * x.v + 11 * y.v + i.doc_id) % 256
      |      ELSE (11 * y.v + 2 * i.doc_id) % 256 END) AS BIGINT) AS sum_g,
      |    CAST(SUM(CASE WHEN i.prof = 3
      |      THEN (7 * x.v + 11 * y.v + i.doc_id) % 256
      |      ELSE (x.v + y.v + 3 * i.doc_id) % 256 END) AS BIGINT) AS sum_b
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 16)) x ON x.v < i.w
      |  JOIN (SELECT range AS v FROM range(0, 16)) y ON y.v < i.h
      |  GROUP BY i.doc_id),
      |rl AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(CASE WHEN i.prof = 3
      |      THEN (7 * ((tx.v * i.w) // 4) + 11 * ((ty.v * i.h) // 4)
      |            + i.doc_id) % 256
      |      ELSE
      |      (  77 * ((7 * ((tx.v * i.w) // 4) + i.doc_id) % 256)
      |       + 150 * ((11 * ((ty.v * i.h) // 4) + 2 * i.doc_id) % 256)
      |       +  29 * (((tx.v * i.w) // 4 + (ty.v * i.h) // 4
      |                 + 3 * i.doc_id) % 256)
      |      ) // 256 END) AS BIGINT) AS resized_luma_sum
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(i.w AS BIGINT) AS width, CAST(i.h AS BIGINT) AS height,
      |  px.sum_r, px.sum_g, px.sum_b, rl.resized_luma_sum,
      |  TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q215: WAV-decode replay WITHOUT audio — same scheme as q214: the
    * engine encodes s(i) = (17i + 3·id) mod 2001 − 1000 (n = 64 +
    * id mod 65 mono samples at 8000 + (id mod 5)·1000 Hz) into real
    * RIFF PCM bytes and decodes them back; the oracle computes the
    * identical integer stats from the formula, with LAG over the
    * sample index for the strict sign-flip zero-crossings. */
  private[graft] val q215 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    64 + doc_id % 65 AS n,
      |    8000 + (doc_id % 5) * 1000 AS sr
      |  FROM documents),
      |s AS (
      |  SELECT i.doc_id, t.v AS si,
      |    ((17 * t.v + 3 * i.doc_id) % 2001) - 1000 AS s
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 129)) t ON t.v < i.n),
      |sl AS (
      |  SELECT doc_id, si, s,
      |    LAG(s) OVER (PARTITION BY doc_id ORDER BY si) AS prev
      |  FROM s),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
      |    CAST(MAX(ABS(s)) AS BIGINT) AS max_abs,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND s * prev < 0
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      |  FROM sl GROUP BY doc_id)
      |SELECT i.doc_id,
      |  CAST(i.sr AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS channels,
      |  CAST(i.n AS BIGINT) AS n_samples,
      |  CAST((1000 * i.n) // i.sr AS BIGINT) AS dur_ms,
      |  agg.sum_abs, agg.max_abs, agg.zero_crossings,
      |  TRUE AS decoded
      |FROM ids i JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q216: animated-GIF frame replay WITHOUT GIF support — the engine
    * LZW-encodes formula index rasters ((x + 3y + 5f + id) mod 64
    * over palette ((4i+1) mod 256, (2i+7) mod 256, (5i+3) mod 256))
    * into real GIF89a bytes and decodes one row per frame; the
    * oracle computes identical per-frame channel sums from the
    * formula over (frame, x, y) coordinate ranges. */
  private[graft] val q216 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    6 + doc_id % 6 AS w,
      |    6 + (2 * doc_id) % 6 AS h,
      |    2 + doc_id % 4 AS nf
      |  FROM documents),
      |fr AS (
      |  SELECT i.doc_id, i.w, i.h, f.v AS frame_idx
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 5)) f ON f.v < i.nf),
      |px AS (
      |  SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
      |    (x.v + 3 * y.v + 5 * fr.frame_idx + fr.doc_id) % 64 AS idx
      |  FROM fr
      |  JOIN (SELECT range AS v FROM range(0, 11)) x ON x.v < fr.w
      |  JOIN (SELECT range AS v FROM range(0, 11)) y ON y.v < fr.h)
      |SELECT doc_id,
      |  CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(w AS BIGINT) AS width,
      |  CAST(h AS BIGINT) AS height,
      |  CAST(4 + frame_idx AS BIGINT) AS delay_cs,
      |  CAST(SUM((4 * idx + 1) % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((2 * idx + 7) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((5 * idx + 3) % 256) AS BIGINT) AS sum_b
      |FROM px
      |GROUP BY doc_id, frame_idx, w, h
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** q217: framed-energy replay — frames of 16 samples at hop 8 over
    * the q215 waveform formula; energy = Σs², active iff
    * mean-square > 333000 (energy > 333000·16, integer compare). */
  private[graft] val q217 =
    """WITH ids AS (
      |  SELECT doc_id, 64 + doc_id % 65 AS n FROM documents),
      |fr AS (
      |  SELECT i.doc_id, i.n, f.v AS frame_idx
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 15)) f
      |    ON f.v <= (i.n - 16) // 8),
      |e AS (
      |  SELECT fr.doc_id, fr.frame_idx,
      |    CAST(SUM(
      |      (((17 * (8 * fr.frame_idx + j.v) + 3 * fr.doc_id) % 2001)
      |        - 1000)
      |      * (((17 * (8 * fr.frame_idx + j.v) + 3 * fr.doc_id) % 2001)
      |        - 1000)) AS BIGINT) AS energy
      |  FROM fr
      |  CROSS JOIN (SELECT range AS v FROM range(0, 16)) j
      |  GROUP BY fr.doc_id, fr.frame_idx)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, energy,
      |  energy > 333000 * 16 AS active
      |FROM e ORDER BY doc_id, frame_idx""".stripMargin

  /** q296: resampling replay — the q217 waveform closed form
    * s(k) = ((17k + 3·id) % 2001) − 1000, rate 8000 + (id%5)·1000,
    * linearly interpolated to 10 kHz with the same div/mod
    * arithmetic (DuckDB // and Scala / both truncate toward zero, so
    * negative samples replay bit-exactly). */
  private[graft] val q296 =
    """WITH ids AS (
      |  SELECT doc_id, 64 + doc_id % 65 AS n,
      |    8000 + (doc_id % 5) * 1000 AS rate
      |  FROM documents),
      |pos AS (
      |  SELECT i.doc_id, i.n, i.rate, u.i AS oi,
      |    (u.i * i.rate) // 10000 AS j,
      |    (u.i * i.rate) % 10000 AS r
      |  FROM ids i,
      |    UNNEST(range(0, ((i.n - 1) * 10000) // i.rate + 1)) u(i)),
      |v AS (
      |  SELECT doc_id, n, rate,
      |    CASE WHEN r = 0
      |      THEN ((17 * j + 3 * doc_id) % 2001) - 1000
      |      ELSE ((((17 * j + 3 * doc_id) % 2001) - 1000)
      |              * (10000 - r)
      |            + (((17 * (j + 1) + 3 * doc_id) % 2001) - 1000) * r)
      |           // 10000 END AS s
      |  FROM pos)
      |SELECT doc_id,
      |  CAST(rate AS BIGINT) AS src_rate,
      |  CAST(10000 AS BIGINT) AS dst_rate,
      |  CAST(n AS BIGINT) AS n_in,
      |  CAST(COUNT(*) AS BIGINT) AS n_out,
      |  CAST(SUM(s) AS BIGINT) AS sum_out,
      |  CAST(SUM(s * s) AS BIGINT) AS energy_out
      |FROM v GROUP BY doc_id, rate, n
      |ORDER BY doc_id""".stripMargin

  /** q218: dHash replay — 9×8 nearest resize of the q214 pattern
    * (sx = x·w//9, sy = y·h//8), integer 77/150/29 luma, bit
    * k = 8y+x set iff gray(x+1,y) > gray(x,y); published as two
    * unsigned 32-bit halves via BIGINT shifts (no 2⁶³ term), plus
    * the per-hash group size. */
  /** Shared CTE prefix for q218/q228: the synthetic-image dHash
    * replay ending in `hx` (doc_id, dhash_hi, dhash_lo). */
  private val dhashCtes =
    """ids AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3 * doc_id) % 9 AS h
      |  FROM documents),
      |g AS (
      |  SELECT i.doc_id, x.v AS x, y.v AS y,
      |    (  77 * ((7 * ((x.v * i.w) // 9) + i.doc_id) % 256)
      |     + 150 * ((11 * ((y.v * i.h) // 8) + 2 * i.doc_id) % 256)
      |     +  29 * (((x.v * i.w) // 9 + (y.v * i.h) // 8
      |               + 3 * i.doc_id) % 256)) // 256 AS gray
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 9)) x
      |  CROSS JOIN (SELECT range AS v FROM range(0, 8)) y),
      |bits AS (
      |  SELECT a.doc_id, a.y * 8 + a.x AS k,
      |    CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b
      |    ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
      |  WHERE a.x < 8),
      |hx AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN k >= 32
      |      THEN CAST(bit AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT)
      |      AS dhash_hi,
      |    CAST(SUM(CASE WHEN k < 32
      |      THEN CAST(bit AS BIGINT) << k ELSE 0 END) AS BIGINT)
      |      AS dhash_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private[graft] val q218 =
    s"""WITH $dhashCtes,
       |cnt AS (
       |  SELECT dhash_hi, dhash_lo, CAST(count(*) AS BIGINT) AS dup_count
       |  FROM hx GROUP BY dhash_hi, dhash_lo)
       |SELECT hx.doc_id, hx.dhash_hi, hx.dhash_lo, cnt.dup_count
       |FROM hx JOIN cnt USING (dhash_hi, dhash_lo)
       |ORDER BY hx.doc_id""".stripMargin

  /** q228: banded-dHash image near-dup replay — distinct hashes with
    * group sizes, four 16-bit bands, equi-join per band, exact
    * bit_count(xor) Hamming over the halves. */
  private[graft] val q228 =
    s"""WITH $dhashCtes,
       |dh AS (
       |  SELECT dhash_hi AS hi, dhash_lo AS lo,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(min(doc_id) AS BIGINT) AS rep
       |  FROM hx GROUP BY 1, 2),
       |bands AS (
       |  SELECT hi, lo, n, rep, b.i AS band_idx,
       |    CASE b.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
       |             WHEN 2 THEN lo // 65536 ELSE lo % 65536 END
       |      AS band_val
       |  FROM dh, UNNEST(range(0, 4)) b(i)),
       |cand AS (
       |  SELECT DISTINCT
       |    a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b,
       |    a.rep AS rep_a, b.rep AS rep_b, a.n AS n_a, b.n AS n_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |  WHERE a.hi < b.hi OR (a.hi = b.hi AND a.lo < b.lo))
       |SELECT hi_a, lo_a, hi_b, lo_b, rep_a, rep_b, n_a, n_b,
       |  CAST(bit_count(xor(hi_a, hi_b))
       |     + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming,
       |  (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))) <= 3
       |    AS is_near
       |FROM cand
       |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 6
       |ORDER BY rep_a, rep_b""".stripMargin

  /** q219: sorted-neighborhood replay — ROW_NUMBER over the squashed
    * prefix key (the oracle MAY use the single-partition window the
    * engine avoids; the ordinal is the same total order), pairs by
    * position distance < w, truncating `//` for jacc_ppm. */
  private[graft] val q219 =
    """WITH t AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
      |           1, 16) AS k,
      |    list_distinct(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, toks,
      |    ROW_NUMBER() OVER (ORDER BY k, doc_id) AS pos
      |  FROM t),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.pos AS pos_a, b.pos AS pos_b,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT)
      |      AS uni
      |  FROM p a JOIN p b ON b.pos > a.pos AND b.pos < a.pos + 5)
      |SELECT a_id, b_id, pos_a, pos_b,
      |  CAST(CASE WHEN uni > 0 THEN 1000000 * inter // uni
      |    ELSE 0 END AS BIGINT) AS jacc_ppm,
      |  (CASE WHEN uni > 0 THEN 1000000 * inter // uni
      |    ELSE 0 END) >= 600000 AS is_dup
      |FROM pr ORDER BY a_id, b_id""".stripMargin

  /** q220: Unicode-script profile replay — per-codepoint class counts
    * (unicode(c) ↔ Spark ascii(c), the q212 pairing), GREATEST for
    * the dominant count, CASE chain in canonical class order for the
    * tie-break, truncating `//` for the ppm share. */
  private[graft] val q220 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_transform(list_filter(string_split(text, ''),
      |      c -> c <> ''), c -> unicode(c)) AS cps
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(cps) AS BIGINT) AS n_chars,
      |    CAST(len(list_filter(cps, p -> (p BETWEEN 65 AND 90)
      |      OR (p BETWEEN 97 AND 122))) AS BIGINT) AS latin,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 48 AND 57))
      |      AS BIGINT) AS digit,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 880 AND 1023))
      |      AS BIGINT) AS greek,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 1024 AND 1279))
      |      AS BIGINT) AS cyrillic,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 1536 AND 1791))
      |      AS BIGINT) AS arabic,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 2304 AND 2431))
      |      AS BIGINT) AS devanagari,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 12352 AND 12543))
      |      AS BIGINT) AS kana,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 19968 AND 40959))
      |      AS BIGINT) AS cjk,
      |    CAST(len(list_filter(cps, p -> p BETWEEN 44032 AND 55203))
      |      AS BIGINT) AS hangul,
      |    CAST(len(list_filter(cps, p -> p = 32
      |      OR (p BETWEEN 9 AND 13))) AS BIGINT) AS space
      |  FROM t),
      |d AS (
      |  SELECT *,
      |    n_chars - latin - digit - greek - cyrillic - arabic
      |      - devanagari - kana - cjk - hangul - space AS other,
      |    latin + greek + cyrillic + arabic + devanagari + kana
      |      + cjk + hangul AS ltrs,
      |    GREATEST(latin, greek, cyrillic, arabic, devanagari, kana,
      |      cjk, hangul) AS mx
      |  FROM c)
      |SELECT doc_id, n_chars, latin, digit, greek, cyrillic, arabic,
      |  devanagari, kana, cjk, hangul, space, other,
      |  CASE WHEN ltrs = 0 THEN 'none'
      |    WHEN latin = mx THEN 'latin'
      |    WHEN greek = mx THEN 'greek'
      |    WHEN cyrillic = mx THEN 'cyrillic'
      |    WHEN arabic = mx THEN 'arabic'
      |    WHEN devanagari = mx THEN 'devanagari'
      |    WHEN kana = mx THEN 'kana'
      |    WHEN cjk = mx THEN 'cjk'
      |    ELSE 'hangul' END AS dominant_script,
      |  CAST(CASE WHEN ltrs = 0 THEN 0
      |    ELSE 1000000 * mx // ltrs END AS BIGINT) AS dominant_ppm
      |FROM d ORDER BY doc_id""".stripMargin

  /** q221: Newman modularity of the q199 communities — canonical
    * (u<v) edge set for m and intra-counts, degrees from the
    * symmetric set, exact-integer q_num = 4·m·e_c − d_c² and
    * q_den = 4m² (HUGEINT-free: the engine enforces m ≤ 10⁸). */
  private[graft] val q221 =
    s"""WITH $lpaCtes,
       |ce AS (SELECT u, v FROM und WHERE u < v),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ce),
       |deg AS (
       |  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY u),
       |dc AS (
       |  SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS degree_sum
       |  FROM l2 l JOIN deg d USING (node) GROUP BY l.label),
       |ic AS (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM ce
       |  JOIN l2 la ON la.node = ce.u
       |  JOIN l2 lb ON lb.node = ce.v
       |  WHERE la.label = lb.label
       |  GROUP BY la.label)
       |SELECT dc.label AS community, dc.n_nodes,
       |  CAST(COALESCE(ic.intra_edges, 0) AS BIGINT) AS intra_edges,
       |  dc.degree_sum,
       |  CAST(4 * mm.m * COALESCE(ic.intra_edges, 0)
       |    - dc.degree_sum * dc.degree_sum AS BIGINT) AS q_num,
       |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
       |FROM dc LEFT JOIN ic USING (label) CROSS JOIN mm
       |ORDER BY community""".stripMargin

  /** q222: ZCR + silence-trim replay from the q215 synthetic waveform
    * smp(i) = ((17i + 3·id) % 2001) − 1000, n = 64 + id%65, rate =
    * 8000 + (id%5)·1000; silence = |smp| < 100, truncating `//` for
    * zcr_ppm, all-silent docs report lead = n, trail = 0. */
  private[graft] val q222 =
    """WITH ids AS (
      |  SELECT doc_id, 64 + doc_id % 65 AS n,
      |    8000 + (doc_id % 5) * 1000 AS rate
      |  FROM documents),
      |s AS (
      |  SELECT i.doc_id, i.n, i.rate, v.v AS idx,
      |    ((17 * v.v + 3 * i.doc_id) % 2001) - 1000 AS smp
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 129)) v ON v.v < i.n),
      |zc AS (
      |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS zero_crossings
      |  FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
      |  WHERE (a.smp < 0) <> (b.smp < 0)
      |  GROUP BY a.doc_id),
      |act AS (
      |  SELECT doc_id, MIN(idx) AS first_a, MAX(idx) AS last_a
      |  FROM s WHERE abs(smp) >= 100 GROUP BY doc_id)
      |SELECT i.doc_id, CAST(i.n AS BIGINT) AS n_samples,
      |  CAST(i.rate AS BIGINT) AS sample_rate,
      |  COALESCE(zc.zero_crossings, 0) AS zero_crossings,
      |  CAST(CASE WHEN i.n >= 2
      |    THEN 1000000 * COALESCE(zc.zero_crossings, 0) // (i.n - 1)
      |    ELSE 0 END AS BIGINT) AS zcr_ppm,
      |  CAST(CASE WHEN act.first_a IS NULL THEN i.n
      |    ELSE act.first_a END AS BIGINT) AS lead_silence,
      |  CAST(CASE WHEN act.first_a IS NULL THEN 0
      |    ELSE i.n - 1 - act.last_a END AS BIGINT) AS trail_silence,
      |  CAST(CASE WHEN act.first_a IS NULL THEN 0
      |    ELSE act.last_a - act.first_a + 1 END AS BIGINT)
      |    AS active_span,
      |  TRUE AS decoded
      |FROM ids i
      |LEFT JOIN zc USING (doc_id)
      |LEFT JOIN act ON act.doc_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin

  /** q223: suffix-rank replay — the oracle MAY use the one-shot
    * dense_rank over full list-valued suffixes (lexicographic list
    * compare ≡ the engine's pairwise-rank order); the engine builds
    * the same permutation by distributed prefix doubling. */
  private[graft] val q223 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '')
      |      AS ws
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, u.i, ws[u.i:] AS suf
      |  FROM t, UNNEST(range(1, len(ws) + 1)) u(i)),
      |r AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS off,
      |    CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS sa_rank
      |  FROM p)
      |SELECT doc_id, off, sa_rank FROM r
      |WHERE (doc_id + off) % 17 = 0
      |ORDER BY doc_id, off""".stripMargin

  /** Shared q224/q240 span-mining chain: tokenize, capped suffixes,
    * dense suffix ranks, rank-group representatives, dup + adj span
    * candidates. dup = tie groups (exact length), adj = LCP between
    * min-(doc,off) representatives of adjacent ranks over 64-token
    * capped slices, via the q212 stopped-fold. */
  private val saMineCtes =
    """t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '')
      |      AS ws
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, CAST(u.i AS BIGINT) AS off, ws[u.i:] AS suf,
      |    CAST(len(ws) - u.i + 1 AS BIGINT) AS suf_len,
      |    ws[u.i:u.i + 63] AS csuf
      |  FROM t, UNNEST(range(1, len(ws) + 1)) u(i)),
      |r AS (
      |  SELECT doc_id, off, suf_len, csuf,
      |    CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS sa_rank
      |  FROM p),
      |g AS (
      |  SELECT sa_rank, doc_id, off, suf_len, csuf,
      |    CAST(count(*) OVER (PARTITION BY sa_rank) AS BIGINT)
      |      AS n_occurrences,
      |    row_number() OVER (PARTITION BY sa_rank
      |      ORDER BY doc_id, off) AS rn
      |  FROM r),
      |rep AS (SELECT * FROM g WHERE rn = 1),
      |dup AS (
      |  SELECT sa_rank, 'dup' AS kind, suf_len AS span,
      |    n_occurrences, doc_id, off
      |  FROM rep WHERE n_occurrences >= 2),
      |adj AS (
      |  SELECT a.sa_rank, 'adj' AS kind,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        range(1, least(len(a.csuf), len(b.csuf)) + 1)),
      |      (acc, j) -> CASE WHEN acc = j - 1
      |        AND a.csuf[CAST(j AS INTEGER)] = b.csuf[CAST(j AS INTEGER)]
      |        THEN j ELSE acc END) AS BIGINT) AS span,
      |    CAST(2 AS BIGINT) AS n_occurrences, a.doc_id, a.off
      |  FROM rep a JOIN rep b ON b.sa_rank = a.sa_rank + 1)""".stripMargin

  /** q224: repeated-span replay over [[saMineCtes]]. */
  private[graft] val q224 =
    s"""WITH $saMineCtes
      |SELECT * FROM (
      |  SELECT * FROM dup UNION ALL SELECT * FROM adj)
      |WHERE span >= 2
      |ORDER BY span DESC, sa_rank ASC, kind ASC LIMIT 25""".stripMargin

  /** q240: mined-span removal replay — the q224 chain as a `mined`
    * CTE, span text from the representative location, per-length
    * window generation, raw-text matching (the engine matches
    * xxhash64 of the same text), covered-index expansion, and
    * order-preserving reassembly. */
  private[graft] val q240 =
    s"""WITH $saMineCtes,
      |mined AS (
      |  SELECT * FROM (
      |    SELECT * FROM dup UNION ALL SELECT * FROM adj)
      |  WHERE span >= 2
      |  ORDER BY span DESC, sa_rank ASC, kind ASC LIMIT 25),
      |sp AS (
      |  SELECT DISTINCT
      |    array_to_string(t.ws[CAST(m.off AS INTEGER) :
      |      CAST(m.off + m.span - 1 AS INTEGER)], ' ') AS stext,
      |    CAST(m.span AS INTEGER) AS len
      |  FROM mined m JOIN t ON t.doc_id = m.doc_id),
      |lens AS (SELECT DISTINCT len FROM sp),
      |wnd AS (
      |  SELECT t.doc_id, CAST(u.i AS INTEGER) AS pos0, l.len,
      |    array_to_string(t.ws[CAST(u.i + 1 AS INTEGER) :
      |      CAST(u.i + l.len AS INTEGER)], ' ') AS wtext
      |  FROM t CROSS JOIN lens l,
      |    UNNEST(range(0, len(t.ws) - l.len + 1)) u(i)
      |  WHERE len(t.ws) >= l.len),
      |fl AS (
      |  SELECT DISTINCT w.doc_id, w.pos0, w.len
      |  FROM wnd w JOIN sp ON sp.len = w.len AND sp.stext = w.wtext),
      |covp AS (
      |  SELECT DISTINCT fl.doc_id, u.i AS idx
      |  FROM fl, UNNEST(range(fl.pos0, fl.pos0 + fl.len)) u(i)),
      |tok AS (
      |  SELECT t.doc_id, u.i AS idx,
      |    t.ws[CAST(u.i + 1 AS INTEGER)] AS w
      |  FROM t, UNNEST(range(0, len(t.ws))) u(i))
      |SELECT tok.doc_id,
      |  CAST(COUNT(*) AS INTEGER) AS n_tokens,
      |  CAST(COUNT(covp.idx) AS INTEGER) AS n_removed,
      |  COALESCE(array_to_string(
      |    list(tok.w ORDER BY tok.idx) FILTER (WHERE covp.idx IS NULL),
      |    ' '), '') AS clean_text
      |FROM tok LEFT JOIN covp
      |  ON covp.doc_id = tok.doc_id AND covp.idx = tok.idx
      |GROUP BY tok.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  /** q225: Fellegi–Sunter replay — nation-blocked pairs, three
    * agreement fields (IEEE floor bands compare bit-identically on
    * the shared parquet doubles; no cross-engine casts), integer
    * milli weights, total-order top-100. */
  private[graft] val q225 =
    """WITH c AS (
      |  SELECT c_custkey AS a_id, c_nationkey AS nk,
      |    right(c_name, 2) AS nt,
      |    floor(c_acctbal / 1000.0) AS kb,
      |    floor(c_acctbal / 100.0) AS hb
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey AS b_id, s_nationkey AS nk,
      |    right(s_name, 2) AS nt,
      |    floor(s_acctbal / 1000.0) AS kb,
      |    floor(s_acctbal / 100.0) AS hb
      |  FROM supplier),
      |p AS (
      |  SELECT a_id, b_id,
      |    COALESCE(c.nt = s.nt, FALSE) AS agree_name_tail,
      |    COALESCE(c.kb = s.kb, FALSE) AS agree_acct_kband,
      |    COALESCE(c.hb = s.hb, FALSE) AS agree_acct_hband
      |  FROM c JOIN s USING (nk)),
      |sc AS (
      |  SELECT *, CAST(
      |    (CASE WHEN agree_name_tail THEN 2400 ELSE -300 END) +
      |    (CASE WHEN agree_acct_kband THEN 1200 ELSE -600 END) +
      |    (CASE WHEN agree_acct_hband THEN 800 ELSE -100 END)
      |    AS BIGINT) AS score_milli
      |  FROM p)
      |SELECT a_id, b_id, agree_name_tail, agree_acct_kband,
      |  agree_acct_hband, score_milli,
      |  CASE WHEN score_milli >= 2000 THEN 'match'
      |       WHEN score_milli >= 0 THEN 'possible'
      |       ELSE 'non_match' END AS decision
      |FROM sc ORDER BY score_milli DESC, a_id, b_id LIMIT 100""".stripMargin

  /** q266: entity-resolution replay — the q225 scoring CTEs (no
    * LIMIT), match-decision edges with even/odd key encoding, exact
    * connected components via the q47 recursive walk, then the
    * per-cluster membership rollup. */
  private[graft] val q266 =
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey AS a_id, c_nationkey AS nk,
      |    right(c_name, 2) AS nt,
      |    floor(c_acctbal / 1000.0) AS kb,
      |    floor(c_acctbal / 100.0) AS hb
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey AS b_id, s_nationkey AS nk,
      |    right(s_name, 2) AS nt,
      |    floor(s_acctbal / 1000.0) AS kb,
      |    floor(s_acctbal / 100.0) AS hb
      |  FROM supplier),
      |sc AS (
      |  SELECT a_id, b_id,
      |    (CASE WHEN COALESCE(c.nt = s.nt, FALSE)
      |       THEN 2400 ELSE -300 END) +
      |    (CASE WHEN COALESCE(c.kb = s.kb, FALSE)
      |       THEN 1200 ELSE -600 END) +
      |    (CASE WHEN COALESCE(c.hb = s.hb, FALSE)
      |       THEN 800 ELSE -100 END) AS score_milli
      |  FROM c JOIN s USING (nk)),
      |e AS (
      |  SELECT CAST(a_id * 2 AS BIGINT) AS a,
      |    CAST(b_id * 2 + 1 AS BIGINT) AS b
      |  FROM sc WHERE score_milli >= 2000),
      |sym AS (
      |  SELECT a AS src, b AS dst FROM e
      |  UNION SELECT b AS src, a AS dst FROM e),
      |walk(node, label) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT w.node, s2.dst FROM sym s2 JOIN walk w ON s2.src = w.label),
      |comp AS (
      |  SELECT node, MIN(label) AS cluster_id
      |  FROM walk GROUP BY node)
      |SELECT cluster_id,
      |  COUNT(*) AS n_members,
      |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_cust,
      |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_supp,
      |  CAST(MIN(CASE WHEN node % 2 = 0 THEN node // 2 END)
      |    AS BIGINT) AS rep_custkey,
      |  CAST(MIN(CASE WHEN node % 2 = 1 THEN (node - 1) // 2 END)
      |    AS BIGINT) AS rep_suppkey
      |FROM comp GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  /** q267: the partitioned layout changes the PLAN (directory
    * pruning), never the answer — the oracle is the plain
    * filter/aggregate (the q104/q257 convention). */
  private[graft] val q267 =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q268: sketch-rollup replay — the q233 register arithmetic per
    * language plus the SAME arithmetic over all rows as the 'ALL'
    * group; matching the engine's register-merge derivation proves
    * HLL mergeability bit-for-bit. */
  private[graft] val q268 = {
    val cascade = (1 to 24).map(r =>
      s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString("\n      |      ")
    def regs(grp: String, src: String) =
      s"""SELECT $grp AS lang, hv % 64 AS register,
         |    CAST(MAX(CASE
         |      $cascade
         |      ELSE 25 END) AS BIGINT) AS max_rho
         |  FROM (
         |    SELECT lang,
         |      ((doc_id * 1000003 + 12345) % 1000000007)
         |        * ((doc_id * 1000003 + 12345) % 1000000007) AS h2
         |    FROM $src) t,
         |    LATERAL (SELECT (h2 + 17) % 1000000007 AS hv) l,
         |    LATERAL (SELECT hv // 64 AS w) l2
         |  GROUP BY 1, 2""".stripMargin
    s"""SELECT lang, register, max_rho FROM (
       |  ${regs("lang", "documents")}
       |  UNION ALL
       |  ${regs("'ALL'", "documents")})
       |ORDER BY lang, register""".stripMargin
  }

  /** q269: Viterbi-segmentation replay — the substring vocabulary
    * (overlap counts, single chars unconditionally kept), then the 12
    * DP rounds unrolled: round p extends entries at pos = p by every
    * vocab piece matching substr(word, p+1, ·), argmax per (word,
    * pos) with (best DESC, path ASC) — the engine's exact
    * tie-breaking. */
  /** The 12 unrolled Viterbi rounds over a named state/vocab pair —
    * shared by q269 (one DP) and q293 (a DP per EM round). */
  private def viterbiRounds(st: String, vocab: String): String =
    (0 until 12).map { p =>
      // AS MATERIALIZED: each round references the previous one TWICE
      // (carry + extend) — inlined CTEs would replay the whole prefix
      // 2^12 times
      s"""$st${p + 1} AS MATERIALIZED (
         |  SELECT word, pos, best, path FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY word, pos
         |      ORDER BY best DESC, path ASC) AS rn
         |    FROM (
         |      SELECT word, pos, best, path FROM $st$p
         |      UNION ALL
         |      SELECT c.word, $p + len(v.piece) AS pos,
         |        c.best + v.score AS best,
         |        c.path || '|' || v.piece AS path
         |      FROM $st$p c JOIN $vocab v
         |        ON c.pos = $p
         |        AND v.piece = substr(c.word, ${p + 1}, len(v.piece))))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Greedy (MaxMatch) rounds for q305: one state row per word; each
    * round extends unfinished words by the LONGEST vocabulary piece
    * matching at the cursor (row_number by len desc — the substring
    * at a fixed (pos, len) is unique, so no tie order is needed) and
    * carries finished words through. */
  private def greedyRounds(st: String, vocab: String): String =
    (0 until 12).map { p =>
      s"""$st${p + 1} AS MATERIALIZED (
         |  SELECT word, pos, path FROM (
         |    SELECT word, pos, path, 1 AS rn FROM $st$p
         |    WHERE pos = len(word)
         |    UNION ALL
         |    SELECT word, pos, path, rn FROM (
         |      SELECT c.word, c.pos + len(v.piece) AS pos,
         |        c.path || '|' || v.piece AS path,
         |        ROW_NUMBER() OVER (PARTITION BY c.word
         |          ORDER BY len(v.piece) DESC) AS rn
         |      FROM $st$p c JOIN $vocab v
         |        ON c.pos < len(c.word)
         |        AND v.piece = substr(c.word, c.pos + 1, len(v.piece))))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** q305: greedy longest-match replay — the q269 vocabulary, then
    * 12 MaxMatch rounds instead of the Viterbi frontier. */
  private[graft] val q305 = {
    val rounds = greedyRounds("gr", "vocab")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM documents),
       |starts AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM toks),
       |sub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM starts
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM sub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |words AS (
       |  SELECT DISTINCT tok AS word FROM toks WHERE len(tok) <= 12),
       |gr0 AS (
       |  SELECT word, 0 AS pos, '' AS path FROM words),
       |$rounds
       |SELECT word,
       |  CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS n_pieces,
       |  substr(path, 2) AS segments
       |FROM gr12 WHERE pos = len(word)
       |ORDER BY word""".stripMargin
  }

  private[graft] val q269 = {
    val rounds = viterbiRounds("st", "vocab")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM documents),
       |starts AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM toks),
       |sub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM starts
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vocab AS MATERIALIZED (
       |  SELECT piece, COUNT(*) AS cnt,
       |    CAST(COUNT(*) * len(piece) * len(piece) AS BIGINT) AS score
       |  FROM sub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |words AS (
       |  SELECT DISTINCT tok AS word FROM toks WHERE len(tok) <= 12),
       |st0 AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS best, '' AS path
       |  FROM words),
       |$rounds
       |SELECT word, best AS best_score,
       |  CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS n_pieces,
       |  substr(path, 2) AS segments
       |FROM st12 WHERE pos = len(word)
       |ORDER BY word""".stripMargin
  }

  /** q293: EM-with-pruning replay — the q269 vocabulary seeds a first
    * Viterbi DP (sa*), piece usages weighted by word occurrence
    * counts form the M-step (re-score usage·len², prune the bottom
    * 200‰ of multi-char pieces by (usage, piece) ascending, keep
    * every single char), and the refined vocabulary drives the
    * second DP (sb*) whose segmentation is the answer. */
  private[graft] val q293 = {
    val dpA = viterbiRounds("sa", "vocab")
    val dpB = viterbiRounds("sb", "v1")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM documents),
       |starts AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM toks),
       |sub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM starts
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vocab AS MATERIALIZED (
       |  SELECT piece, COUNT(*) AS cnt,
       |    CAST(COUNT(*) * len(piece) * len(piece) AS BIGINT) AS score
       |  FROM sub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |wc AS MATERIALIZED (
       |  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS w_cnt
       |  FROM toks WHERE len(tok) <= 12 GROUP BY tok),
       |sa0 AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS best, '' AS path
       |  FROM wc),
       |$dpA,
       |segA AS (
       |  SELECT word, path FROM sa12 WHERE pos = len(word)),
       |pu AS MATERIALIZED (
       |  SELECT u.piece, CAST(SUM(w.w_cnt) AS BIGINT) AS u_cnt
       |  FROM (SELECT word, unnest(string_split(substr(path, 2), '|'))
       |          AS piece FROM segA) u
       |  JOIN wc w USING (word)
       |  GROUP BY u.piece),
       |multi AS (SELECT * FROM pu WHERE len(piece) > 1),
       |kept AS (
       |  SELECT piece, u_cnt FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY u_cnt ASC, piece ASC)
       |      AS rid FROM multi)
       |  WHERE rid > (SELECT COUNT(*) * 200 // 1000 FROM multi)),
       |v1 AS MATERIALIZED (
       |  SELECT piece, CAST(u_cnt * len(piece) * len(piece) AS BIGINT)
       |    AS score
       |  FROM kept
       |  UNION ALL
       |  SELECT s.piece, CAST(COALESCE(u.u_cnt, 0) AS BIGINT) AS score
       |  FROM (SELECT piece FROM vocab WHERE len(piece) = 1) s
       |  LEFT JOIN pu u USING (piece)),
       |sb0 AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS best, '' AS path
       |  FROM wc),
       |$dpB
       |SELECT word, best AS best_score,
       |  CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS n_pieces,
       |  substr(path, 2) AS segments
       |FROM sb12 WHERE pos = len(word)
       |ORDER BY word""".stripMargin
  }

  /** q300: PAV replay — binned (n, pos) sufficient statistics, then
    * 24 leftmost-merge rounds (each merges the first adjacent
    * strict-violation pair by cross-multiplied rate compare; PAV's
    * fitted values are the unique isotonic optimum, so any correct
    * merge order matches the engine's stack form), and the
    * block-pooled floor ppm per original bin. */
  private[graft] val q300 = {
    val rounds = (0 until 24).map { r =>
      s"""v$r AS (
         |  SELECT MIN(a.ord) AS vo FROM b$r a
         |  JOIN b$r b ON b.ord = a.ord + 1
         |  WHERE a.pos * b.n > b.pos * a.n),
         |b${r + 1} AS MATERIALIZED (
         |  SELECT CASE WHEN v.vo IS NOT NULL AND b.ord > v.vo
         |         THEN b.ord - 1 ELSE b.ord END AS ord,
         |    b.lo, COALESCE(nx.hi, b.hi) AS hi,
         |    b.n + COALESCE(nx.n, 0) AS n,
         |    b.pos + COALESCE(nx.pos, 0) AS pos
         |  FROM b$r b
         |  CROSS JOIN v$r v
         |  LEFT JOIN b$r nx ON b.ord = v.vo AND nx.ord = b.ord + 1
         |  WHERE v.vo IS NULL OR b.ord <> v.vo + 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH bins AS MATERIALIZED (
       |  SELECT CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM customer GROUP BY 1),
       |b0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT)
       |      AS ord,
       |    bin AS lo, bin AS hi, n, pos
       |  FROM bins),
       |$rounds
       |SELECT bn.bin, bn.n, bn.pos,
       |  CAST((1000000 * bk.pos) // bk.n AS BIGINT) AS cal_ppm
       |FROM bins bn JOIN b24 bk ON bn.bin BETWEEN bk.lo AND bk.hi
       |ORDER BY bin""".stripMargin
  }

  /** q301: pixel-level JPEG ENCODER replay — the q256 grid, but the
    * engine is handed raw pixels and runs forward DCT + quantization
    * itself; the fixture (block-constant EVEN v = 2·((5bx+7by+3id)
    * mod 112) + 16) makes the round trip exact, so the oracle is the
    * same closed form evaluated on v directly. */
  private[graft] val q301 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    1 + doc_id % 3 AS wb,
      |    1 + (doc_id // 3) % 3 AS hb
      |  FROM documents),
      |px AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(64 * (2 * ((5 * bx.v + 7 * byy.v + 3 * i.doc_id)
      |      % 112) + 16)) AS BIGINT) AS s
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 3)) bx ON bx.v < i.wb
      |  JOIN (SELECT range AS v FROM range(0, 3)) byy ON byy.v < i.hb
      |  GROUP BY i.doc_id),
      |rl AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(2 * ((5 * ((tx.v * (8 * i.wb)) // 4 // 8)
      |      + 7 * ((ty.v * (8 * i.hb)) // 4 // 8)
      |      + 3 * i.doc_id) % 112) + 16) AS BIGINT) AS rls
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(8 * i.wb AS BIGINT) AS width,
      |  CAST(8 * i.hb AS BIGINT) AS height,
      |  px.s AS sum_r, px.s AS sum_g, px.s AS sum_b,
      |  rl.rls AS resized_luma_sum, TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q302: Kneser–Ney replay — bigram-type counts, the three
    * marginals (left totals + distinct successors, continuation
    * counts, type total), then the SAME two composed floors the
    * engine publishes (cont_ppm quantized first). */
  private[graft] val q302 =
    """WITH t AS (
      |  SELECT list_filter(string_split(lower(text), ' '),
      |    w -> w <> '') AS w
      |  FROM documents),
      |bi AS (
      |  SELECT w[u.i] AS w1, w[u.i + 1] AS w2, COUNT(*) AS cb
      |  FROM t, UNNEST(range(1, len(w))) u(i)
      |  WHERE len(w) >= 2
      |  GROUP BY 1, 2),
      |lft AS (
      |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, COUNT(*) AS n1l
      |  FROM bi GROUP BY w1),
      |cont AS (
      |  SELECT w2, COUNT(*) AS contc FROM bi GROUP BY w2),
      |tot AS (SELECT COUNT(*) AS ntot FROM bi)
      |SELECT b.w1, b.w2, b.cb, l.c1, l.n1l,
      |  (1000000 * c.contc) // t2.ntot AS cont_ppm,
      |  (1000000 * greatest(4 * b.cb - 3, 0)) // (4 * l.c1)
      |    + (3 * l.n1l * ((1000000 * c.contc) // t2.ntot))
      |      // (4 * l.c1) AS kn_ppm
      |FROM bi b
      |JOIN lft l USING (w1)
      |JOIN cont c USING (w2)
      |CROSS JOIN tot t2
      |WHERE b.cb >= 5
      |ORDER BY w1, w2""".stripMargin

  /** q304: pitch-autocorrelation replay — the q215 waveform closed
    * form s(i) = (17i + 3·id) mod 2001 − 1000 over the first 64
    * samples, R(τ) by lag self-join, argmax with smallest-lag ties. */
  private[graft] val q304 =
    """WITH ids AS (SELECT doc_id FROM documents),
      |lags AS (SELECT range AS lag FROM range(2, 32)),
      |sm AS (
      |  SELECT i.doc_id, t.range AS t,
      |    CAST((17 * t.range + 3 * i.doc_id) % 2001 - 1000 AS BIGINT)
      |      AS v
      |  FROM ids i, range(0, 64) t),
      |r AS (
      |  SELECT a.doc_id, l.lag, CAST(SUM(a.v * b.v) AS BIGINT) AS rr
      |  FROM lags l
      |  JOIN sm a ON a.t < 64 - l.lag
      |  JOIN sm b ON b.doc_id = a.doc_id AND b.t = a.t + l.lag
      |  GROUP BY 1, 2),
      |r0 AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS r0
      |       FROM sm GROUP BY 1),
      |best AS (
      |  SELECT doc_id, lag AS best_lag, rr AS r_best,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY rr DESC, lag) AS rn
      |  FROM r)
      |SELECT b.doc_id, CAST(b.best_lag AS BIGINT) AS best_lag,
      |  b.r_best, r0.r0
      |FROM best b JOIN r0 USING (doc_id)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** q307: BWT-runs replay — sentinel-extended token lists, the
    * q223 list-sort suffix order, prior token with the off = 1
    * rotation wrap to the sentinel, LAG-based run counts in both
    * suffix and text order. */
  private[graft] val q307 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_append(list_filter(string_split(lower(text), ' '),
      |      w -> w <> ''), chr(1)) AS ws
      |  FROM documents
      |  WHERE len(list_filter(string_split(lower(text), ' '),
      |    w -> w <> '')) > 0),
      |p AS (
      |  SELECT doc_id, CAST(u.i AS BIGINT) AS off, ws[u.i:] AS suf,
      |    ws
      |  FROM t, UNNEST(range(1, len(ws) + 1)) u(i)),
      |b AS (
      |  SELECT doc_id,
      |    CASE WHEN off = 1 THEN ws[len(ws)]
      |         ELSE ws[off - 1] END AS btok,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf) AS j
      |  FROM p),
      |br AS (
      |  SELECT doc_id, COUNT(*) AS n_pos,
      |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> btok
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bwt_runs
      |  FROM (SELECT doc_id, btok,
      |          LAG(btok) OVER (PARTITION BY doc_id ORDER BY j)
      |            AS prev
      |        FROM b)
      |  GROUP BY doc_id),
      |rr AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> tok
      |      THEN 1 ELSE 0 END) AS BIGINT) AS raw_runs
      |  FROM (SELECT doc_id, ws[u.i] AS tok,
      |          LAG(ws[u.i]) OVER (PARTITION BY doc_id
      |            ORDER BY u.i) AS prev
      |        FROM t, UNNEST(range(1, len(ws) + 1)) u(i))
      |  GROUP BY doc_id)
      |SELECT br.doc_id, br.n_pos, br.bwt_runs, rr.raw_runs
      |FROM br JOIN rr USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q310: Dirichlet query-likelihood replay — collection model
    * quantized to ppb first, then the same two composed floors per
    * (doc, term), row_number top-10 per term. */
  private[graft] val q310 =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |dl AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |ct AS (SELECT COUNT(*) AS c_total FROM toks),
      |q AS (SELECT unnest(['spark', 'stream', 'join', 'window'])
      |        AS term),
      |cf AS (
      |  SELECT t.term,
      |    (1000000000 * COUNT(*)) // ct.c_total AS cf_ppb
      |  FROM toks t JOIN q USING (term) CROSS JOIN ct
      |  GROUP BY t.term, ct.c_total),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM toks JOIN q USING (term)
      |  GROUP BY doc_id, term),
      |sc AS (
      |  SELECT c.term, d.doc_id, COALESCE(tf.tf, 0) AS tf, d.dl,
      |    (1000000 * COALESCE(tf.tf, 0)) // (d.dl + 2000)
      |      + (2000 * c.cf_ppb) // (1000 * (d.dl + 2000)) AS p_ppm
      |  FROM dl d CROSS JOIN cf c
      |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.term = c.term),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
      |    ORDER BY p_ppm DESC, doc_id) AS rnk FROM sc)
      |SELECT term, doc_id, tf, dl, p_ppm, CAST(rnk AS INTEGER) AS rnk
      |FROM rk WHERE rnk <= 10
      |ORDER BY term, rnk""".stripMargin

  /** q309: LSA-topic replay — raw term-count weights, then four
    * weighted-HITS rounds (term sum, L1 ppm renorm, doc sum, renorm),
    * truncating division throughout. */
  private[graft] val q309 = {
    val iters = (1 to 4).map { i =>
      s"""a${i}raw AS MATERIALIZED (
         |  SELECT tok, SUM(w * h) AS a
         |  FROM e JOIN h${i - 1} USING (doc_id) GROUP BY tok),
         |a${i}t AS (SELECT SUM(a) AS t FROM a${i}raw),
         |a$i AS MATERIALIZED (
         |  SELECT tok, CASE WHEN t.t > 0 THEN (1000000 * a) // t.t
         |    ELSE 0 END AS a
         |  FROM a${i}raw, a${i}t t),
         |h${i}raw AS MATERIALIZED (
         |  SELECT doc_id, SUM(w * a) AS h
         |  FROM e JOIN a$i USING (tok) GROUP BY doc_id),
         |h${i}t AS (SELECT SUM(h) AS t FROM h${i}raw),
         |h$i AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN t.t > 0 THEN (1000000 * h) // t.t
         |    ELSE 0 END AS h
         |  FROM h${i}raw, h${i}t t)""".stripMargin
    }.mkString(",\n")
    s"""WITH tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split(lower(text), ' '),
       |        x -> x <> '')) AS tok
       |    FROM documents)
       |  GROUP BY doc_id, tok),
       |e AS MATERIALIZED (
       |  SELECT doc_id, tok, tf AS w FROM tf),
       |h0 AS (
       |  SELECT DISTINCT doc_id, CAST(1000000 AS BIGINT) AS h FROM e),
       |$iters
       |SELECT doc_id, CAST(h AS BIGINT) AS lsa_ppm FROM h4
       |ORDER BY doc_id""".stripMargin
  }

  /** q313: single-link clusters BY THEOREM (the q306 convention) —
    * on the per-nation (balance, custkey) line metric, cutting the
    * MST at t is exactly "break where the consecutive sorted gap
    * exceeds t", so the SQL counts maximal runs of gaps ≤ 20000
    * cents and never touches a graph algorithm: a wrong Borůvka
    * pick, an incomplete contraction, or a lost singleton breaks the
    * per-nation (n_clusters, max_size, n_singletons). */
  private[graft] val q313 =
    """WITH c AS (
      |  SELECT c_nationkey, c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS balc
      |  FROM customer),
      |g AS (
      |  SELECT c_nationkey, balc, c_custkey,
      |    balc - LAG(balc) OVER (PARTITION BY c_nationkey
      |      ORDER BY balc, c_custkey) AS gap
      |  FROM c),
      |cl AS (
      |  SELECT c_nationkey,
      |    SUM(CASE WHEN gap IS NULL OR gap > 20000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY c_nationkey ORDER BY balc, c_custkey
      |            ROWS UNBOUNDED PRECEDING) AS cl_id
      |  FROM g),
      |sz AS (
      |  SELECT c_nationkey, cl_id, COUNT(*) AS n
      |  FROM cl GROUP BY 1, 2)
      |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(MAX(n) AS BIGINT) AS max_size,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_singletons
      |FROM sz GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** q314: LZ77 replay — brute-force longest-previous-factor table
    * (every j < i, stopped 32-cap common prefix; first out-of-bounds
    * or mismatching k IS the length), then the greedy parse walked by
    * a recursive CTE; Σ factor lengths telescopes to n_pos, so any
    * parse drift breaks rows. lpfe/nn MATERIALIZED: the recursive
    * walk references them per iteration. */
  private[graft] val q314 =
    """WITH RECURSIVE t AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    w -> w <> '') AS ws
      |  FROM documents
      |  WHERE len(list_filter(string_split(lower(text), ' '),
      |    w -> w <> '')) > 0),
      |nn AS MATERIALIZED (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
      |p AS (
      |  SELECT doc_id, ws, CAST(u.i AS BIGINT) AS i
      |  FROM t, UNNEST(range(1, len(ws) + 1)) u(i)),
      |cp AS (
      |  SELECT doc_id, i,
      |    CASE WHEN ws[CAST(j.j AS BIGINT)] <> ws[i] THEN 0
      |      ELSE COALESCE(list_filter(range(0, 32),
      |        k -> i + k > len(ws)
      |          OR ws[CAST(j.j + k AS BIGINT)]
      |            <> ws[CAST(i + k AS BIGINT)])[1], 32)
      |    END AS cpl
      |  FROM p, UNNEST(range(1, i)) j(j)),
      |lpfe AS MATERIALIZED (
      |  SELECT p.doc_id, p.i AS pos, COALESCE(mx.m, 0) AS lpf
      |  FROM p LEFT JOIN (SELECT doc_id, i, MAX(cpl) AS m
      |                    FROM cp GROUP BY 1, 2) mx
      |    ON mx.doc_id = p.doc_id AND mx.i = p.i),
      |walk AS (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS pos FROM nn
      |  UNION ALL
      |  SELECT w.doc_id, w.pos + GREATEST(l.lpf, 1)
      |  FROM walk w
      |  JOIN lpfe l ON l.doc_id = w.doc_id AND l.pos = w.pos
      |  JOIN nn ON nn.doc_id = w.doc_id
      |  WHERE w.pos + GREATEST(l.lpf, 1) <= nn.n)
      |SELECT w.doc_id, nn.n AS n_pos,
      |  CAST(COUNT(*) AS BIGINT) AS n_factors,
      |  CAST(SUM(CASE WHEN l.lpf = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_literals,
      |  CAST(MAX(GREATEST(l.lpf, 1)) AS BIGINT) AS max_factor_len
      |FROM walk w
      |JOIN lpfe l ON l.doc_id = w.doc_id AND l.pos = w.pos
      |JOIN nn ON nn.doc_id = w.doc_id
      |GROUP BY w.doc_id, nn.n ORDER BY w.doc_id""".stripMargin

  /** q315: a-priori frequent-pair replay — distinct presences,
    * frequent singletons by integer cross-multiply, per-doc pair
    * self-join, the same cross-multiplied support gate and floor
    * lift. */
  private[graft] val q315 =
    """WITH pres AS (
      |  SELECT doc_id, unnest(list_distinct(list_filter(
      |    string_split(lower(text), ' '), w -> w <> ''))) AS tok
      |  FROM documents),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |f1 AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS sup1
      |  FROM pres CROSS JOIN nd
      |  GROUP BY tok, nd.n_docs
      |  HAVING 1000000 * COUNT(*) >= 600000 * nd.n_docs),
      |pr AS (
      |  SELECT p.doc_id, p.tok, f1.sup1
      |  FROM pres p JOIN f1 USING (tok))
      |SELECT a.tok AS tok_a, b.tok AS tok_b,
      |  CAST(COUNT(*) AS BIGINT) AS sup_ab,
      |  a.sup1 AS sup_a, b.sup1 AS sup_b,
      |  CAST(nd.n_docs AS BIGINT) AS n_docs,
      |  CAST((1000000 * COUNT(*) * nd.n_docs)
      |    // (a.sup1 * b.sup1) AS BIGINT) AS lift_ppm
      |FROM pr a JOIN pr b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |CROSS JOIN nd
      |GROUP BY a.tok, b.tok, a.sup1, b.sup1, nd.n_docs
      |HAVING 1000000 * COUNT(*) >= 600000 * nd.n_docs
      |ORDER BY tok_a, tok_b""".stripMargin

  /** q316: simplified-Soundex replay — same documented variant as
    * [[graft.functions.Phonetic]]: translate code table, list-based
    * adjacent-run collapse (RE2 has no backreferences, so the
    * engine's `(.)\1+` regex is replayed with a filtered char list),
    * drop-first/drop-zeros/rpad-3. */
  private[graft] val q316 =
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split(p_name, ' '),
      |    x -> x <> '')) AS word
      |  FROM part),
      |l AS (
      |  SELECT word,
      |    regexp_replace(upper(word), '[^A-Z]', '', 'g') AS ltr
      |  FROM w),
      |t AS (
      |  SELECT word, ltr,
      |    translate(ltr, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |      '01230120022455012623010202') AS d
      |  FROM l),
      |c AS (
      |  SELECT word,
      |    CASE WHEN length(ltr) = 0 THEN NULL
      |      ELSE substr(ltr, 1, 1) || rpad(substr(replace(substr(
      |        array_to_string(list_transform(
      |          list_filter(range(1, length(d) + 1),
      |            k -> k = 1 OR d[k] <> d[k-1]),
      |          k -> d[k]), ''), 2), '0', ''), 1, 3), 3, '0')
      |    END AS soundex
      |  FROM t)
      |SELECT soundex, CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  MIN(word) AS sample_word
      |FROM c GROUP BY soundex ORDER BY soundex""".stripMargin

  /** q317: Mann–Kendall replay — the q288 daily rollup, pairwise
    * sign sum, tie-corrected 18·Var as exact integers, the same
    * cross-multiplied continuity-corrected significance gate. */
  private[graft] val q317 =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT i.event_type,
      |    CAST(SUM(SIGN(j.x - i.x)) AS BIGINT) AS s_stat
      |  FROM d i JOIN d j
      |    ON i.event_type = j.event_type AND i.day < j.day
      |  GROUP BY 1),
      |tg AS (SELECT event_type, x, COUNT(*) AS t FROM d GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM tg GROUP BY 1),
      |v AS (
      |  SELECT a.event_type, a.n, COALESCE(s.s_stat, 0) AS s_stat,
      |    a.n * (a.n - 1) * (2 * a.n + 5) - a.tie_term AS var18
      |  FROM a LEFT JOIN s USING (event_type))
      |SELECT event_type, n, s_stat, var18,
      |  CAST(CASE WHEN abs(s_stat) > 1
      |    AND 180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
      |        > 38416 * var18
      |    THEN SIGN(s_stat) ELSE 0 END AS BIGINT) AS trend
      |FROM v ORDER BY event_type""".stripMargin

  /** q318: Hamilton apportionment replay — exact cents, floor
    * quotas, largest-remainder top-up ranked (rem desc, nation). */
  private[graft] val q318 =
    """WITH bn AS (
      |  SELECT c_nationkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM bn),
      |q AS (
      |  SELECT c_nationkey, cents,
      |    CAST((1000 * cents) // t.t AS BIGINT) AS floor_seats,
      |    CAST((1000 * cents) % t.t AS BIGINT) AS rem
      |  FROM bn CROSS JOIN t),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, c_nationkey)
      |      AS rk,
      |    SUM(floor_seats) OVER () AS fs
      |  FROM q)
      |SELECT c_nationkey, cents, floor_seats, rem,
      |  CAST(floor_seats + CASE WHEN rk <= 1000 - fs THEN 1 ELSE 0 END
      |    AS BIGINT) AS seats
      |FROM r ORDER BY c_nationkey""".stripMargin

  /** q319: WHT perceptual-hash replay — the q218 closed-form raster
    * per doc_id (BMP and PNG are both lossless, so decode returns
    * the formula), nearest-resize to 8×8 by integer division, the
    * 77/150/29 luma, the ±1 sequency-parity transform, lower-median
    * AC threshold, two unsigned 32-bit halves. coef MATERIALIZED:
    * referenced by both the median and the hash assembly. */
  private[graft] val q319 =
    """WITH dims AS (
      |  SELECT doc_id AS id, 8 + doc_id % 9 AS w,
      |    8 + (3 * doc_id) % 9 AS h
      |  FROM documents),
      |grid AS (
      |  SELECT id, X.x AS gx, Y.y AS gy,
      |    (77 * ((7 * ((X.x * w) // 8) + id) % 256)
      |     + 150 * ((11 * ((Y.y * h) // 8) + 2 * id) % 256)
      |     + 29 * (((X.x * w) // 8 + (Y.y * h) // 8 + 3 * id) % 256))
      |      // 256 AS g
      |  FROM dims, UNNEST(range(0, 8)) X(x), UNNEST(range(0, 8)) Y(y)),
      |coef AS MATERIALIZED (
      |  SELECT grid.id, u.u AS u, v.v AS v,
      |    SUM(CASE WHEN (bit_count(u.u & gx) + bit_count(v.v & gy))
      |        % 2 = 0
      |      THEN g ELSE -g END) AS c
      |  FROM grid, UNNEST(range(0, 8)) u(u), UNNEST(range(0, 8)) v(v)
      |  GROUP BY 1, 2, 3),
      |med AS (
      |  SELECT id, c AS med FROM (
      |    SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c)
      |        AS rn
      |    FROM coef WHERE NOT (u = 0 AND v = 0))
      |  WHERE rn = 32),
      |h AS (
      |  SELECT coef.id,
      |    CAST(SUM(CASE WHEN 8 * v + u >= 32 AND c > med
      |      THEN (CAST(1 AS BIGINT) << (8 * v + u - 32))
      |      ELSE 0 END) AS BIGINT) AS wht_hi,
      |    CAST(SUM(CASE WHEN 8 * v + u BETWEEN 1 AND 31 AND c > med
      |      THEN (CAST(1 AS BIGINT) << (8 * v + u))
      |      ELSE 0 END) AS BIGINT) AS wht_lo
      |  FROM coef JOIN med USING (id) GROUP BY 1)
      |SELECT id AS doc_id, wht_hi, wht_lo,
      |  CAST(COUNT(*) OVER (PARTITION BY wht_hi, wht_lo) AS BIGINT)
      |    AS dup_count
      |FROM h ORDER BY doc_id""".stripMargin

  /** q312: changepoint replay — daily rollup, per-group prefix sums,
    * the HUGEINT score S1l²·nr + S1r²·nl, argmax (score desc, k). */
  private[graft] val q312 =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(x) AS s
      |  FROM d GROUP BY event_type),
      |c AS (
      |  SELECT d.event_type, d.day, t.n, t.s,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
      |    SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1l,
      |    LEAD(d.day, 1) OVER w AS lead_day
      |  FROM d JOIN tot t USING (event_type)
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)),
      |sc AS (
      |  SELECT event_type, n, k, lead_day,
      |    CAST(s1l AS HUGEINT) * CAST(s1l AS HUGEINT)
      |        * CAST(n - k AS HUGEINT)
      |      + CAST(s - s1l AS HUGEINT) * CAST(s - s1l AS HUGEINT)
      |        * CAST(k AS HUGEINT) AS score
      |  FROM c WHERE k < n),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY score DESC, k ASC) AS rn
      |  FROM sc)
      |SELECT event_type, n AS n_days, k AS best_k,
      |  lead_day AS split_day,
      |  CAST(score // 1000000 AS BIGINT) AS score_m
      |FROM rk WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  /** q311: local-clustering replay — the q306 balance graph
    * deduplicated undirected, brute triangle enumeration with
    * x < y < z, per-corner counts, the same floor-ppm coefficient. */
  private[graft] val q311 =
    """WITH cust AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS ck, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS balc
      |  FROM customer),
      |ld AS (
      |  SELECT c_nationkey, ck, balc,
      |    LEAD(ck, 1) OVER w AS ck1,
      |    LEAD(ck, 2) OVER w AS ck2,
      |    LEAD(ck, 3) OVER w AS ck3
      |  FROM cust
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY balc, ck)),
      |e0 AS (
      |  SELECT ck AS u, ck1 AS v FROM ld WHERE ck1 IS NOT NULL
      |  UNION ALL
      |  SELECT ck, ck2 FROM ld WHERE ck2 IS NOT NULL
      |  UNION ALL
      |  SELECT ck, ck3 FROM ld WHERE ck3 IS NOT NULL),
      |und AS MATERIALIZED (
      |  SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0
      |  WHERE u <> v GROUP BY 1, 2),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY n),
      |tri AS MATERIALIZED (
      |  SELECT a.u AS x, a.v AS y, b.v AS z
      |  FROM und a
      |  JOIN und b ON b.u = a.v
      |  JOIN und c ON c.u = a.u AND c.v = b.v),
      |tc AS (
      |  SELECT n, COUNT(*) AS t FROM (
      |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY n)
      |SELECT deg.n AS node, deg.d AS degree,
      |  COALESCE(tc.t, 0) AS triangles,
      |  CASE WHEN deg.d >= 2
      |    THEN (2000000 * COALESCE(tc.t, 0)) // (deg.d * (deg.d - 1))
      |    ELSE 0 END AS lcc_ppm
      |FROM deg LEFT JOIN tc ON tc.n = deg.n
      |ORDER BY node""".stripMargin

  /** q308: Luby-MIS replay — the q306 balance graph symmetrized, then
    * 24 fixed-PRF rounds (active-neighbor key minimum, local winners
    * selected, closed neighborhoods dropped), arithmetic identical to
    * the engine's `Mis.key`. Early engine exit is safe: rounds after
    * activity dies are no-ops on both sides. */
  private def misKey(x: String, r: Int): String =
    s"((((($x % 1000003) * ($x % 1000003)) * ${r + 1}" +
      s" + 31 * $x + 7 * $r) % 1000003) * 10000000 + $x)"

  private[graft] val q308 = {
    val rounds = (0 until 24).map { r =>
      s"""nb$r AS MATERIALIZED (
         |  SELECT e.u AS node, MIN(${misKey("e.v", r)}) AS nmin
         |  FROM sym e
         |  JOIN act$r a ON a.node = e.u
         |  JOIN act$r b ON b.node = e.v
         |  GROUP BY e.u),
         |sel$r AS MATERIALIZED (
         |  SELECT a.node FROM act$r a
         |  LEFT JOIN nb$r n USING (node)
         |  WHERE n.nmin IS NULL OR ${misKey("a.node", r)} < n.nmin),
         |act${r + 1} AS MATERIALIZED (
         |  SELECT a.node FROM act$r a
         |  WHERE a.node NOT IN (SELECT node FROM sel$r)
         |    AND a.node NOT IN (SELECT e.v FROM sym e
         |      JOIN sel$r s ON s.node = e.u))""".stripMargin
    }.mkString(",\n")
    val misUnion = (0 until 24)
      .map(r => s"SELECT node FROM sel$r").mkString(" UNION ")
    s"""WITH cust AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS ck, c_nationkey,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS balc
       |  FROM customer),
       |ld AS (
       |  SELECT c_nationkey, ck, balc,
       |    LEAD(ck, 1) OVER w AS ck1,
       |    LEAD(ck, 2) OVER w AS ck2,
       |    LEAD(ck, 3) OVER w AS ck3
       |  FROM cust
       |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY balc, ck)),
       |e0 AS (
       |  SELECT ck AS u, ck1 AS v FROM ld WHERE ck1 IS NOT NULL
       |  UNION ALL
       |  SELECT ck, ck2 FROM ld WHERE ck2 IS NOT NULL
       |  UNION ALL
       |  SELECT ck, ck3 FROM ld WHERE ck3 IS NOT NULL),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0)
       |  WHERE u <> v),
       |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),
       |act0 AS (SELECT node FROM nodes),
       |$rounds
       |SELECT n.node, (m.node IS NOT NULL) AS in_mis
       |FROM nodes n
       |LEFT JOIN ($misUnion) m ON m.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** q306: Borůvka MSF oracle BY THEOREM, not replay — the engine's
    * per-nation graph contains the (acctbal, custkey)-sorted chain,
    * and on a line metric the minimum spanning forest weight
    * telescopes to max − min (consecutive gaps), with n − 1 edges for
    * each connected (= per-nation) piece. The SQL therefore never
    * runs a graph algorithm: any engine mistake — a cycle from
    * incomplete contraction, a non-minimal pick, a lost component —
    * breaks the count or the sum. */
  private[graft] val q306 =
    """SELECT c_nationkey,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_edges,
      |  CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT))
      |     - MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS msf_weight
      |FROM customer
      |GROUP BY c_nationkey
      |HAVING COUNT(*) >= 2
      |ORDER BY c_nationkey""".stripMargin

  /** q303: t-closeness replay — global ppm histogram, per-class ppm
    * histogram over ALL global bins (absent bins = 0), windowed
    * cumulative differences, Σ|cum| over the first m−1 bins, the
    * same composed floors as the engine. */
  private[graft] val q303 =
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sbin
      |  FROM customer),
      |g AS (SELECT sbin, COUNT(*) AS nj FROM b GROUP BY sbin),
      |gt AS (SELECT SUM(nj) AS n_total, COUNT(*) AS m FROM g),
      |gp AS (SELECT g.sbin, gt.m,
      |         (1000000 * g.nj) // gt.n_total AS q_ppm
      |       FROM g CROSS JOIN gt),
      |cb AS (SELECT c_nationkey, c_mktsegment, sbin, COUNT(*) AS gj
      |       FROM b GROUP BY 1, 2, 3),
      |ct AS (SELECT c_nationkey, c_mktsegment,
      |         CAST(SUM(gj) AS BIGINT) AS class_size
      |       FROM cb GROUP BY 1, 2),
      |fl AS (
      |  SELECT ct.c_nationkey, ct.c_mktsegment, ct.class_size,
      |    gp.sbin, gp.m, gp.q_ppm,
      |    (1000000 * COALESCE(cb.gj, 0)) // ct.class_size AS p_ppm
      |  FROM ct CROSS JOIN gp
      |  LEFT JOIN cb ON cb.c_nationkey = ct.c_nationkey
      |    AND cb.c_mktsegment = ct.c_mktsegment
      |    AND cb.sbin = gp.sbin),
      |cm AS (
      |  SELECT c_nationkey, c_mktsegment, class_size, m,
      |    SUM(p_ppm - q_ppm) OVER (
      |      PARTITION BY c_nationkey, c_mktsegment
      |      ORDER BY sbin) AS cum,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY c_nationkey, c_mktsegment
      |      ORDER BY sbin) AS rk
      |  FROM fl)
      |SELECT c_nationkey, c_mktsegment, class_size,
      |  CAST(CASE WHEN m > 1 THEN SUM(ABS(cum)) // (m - 1)
      |       ELSE 0 END AS BIGINT) AS emd_ppm,
      |  (CASE WHEN m > 1 THEN SUM(ABS(cum)) // (m - 1)
      |        ELSE 0 END) <= 250000 AS t_close
      |FROM cm WHERE rk < m
      |GROUP BY c_nationkey, c_mktsegment, class_size, m
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** q299: codec-matrix replay — the compression codec changes the
    * FILE BYTES, never the answer: the oracle is the plain nation
    * projection crossed with the codec names (the q257/q290
    * container convention). */
  private[graft] val q299 =
    """SELECT c.codec, CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation CROSS JOIN (SELECT unnest(
      |  ['gzip', 'lz4', 'snappy', 'zstd']) AS codec) c
      |ORDER BY codec, n_nationkey""".stripMargin

  /** q298: PCA replay — quantize16 embeddings, the full D×D gram by
    * grouped sum (HUGEINT), 8 materialized power-iteration rounds
    * with the truncating v′ = w·2¹⁶ // max|w| renormalization
    * (HUGEINT // and BigInt / both truncate toward zero), then the
    * per-vector integer projection. */
  private[graft] val q298 = {
    val dims = 64
    val rounds = 8
    val roundCtes = (0 until rounds).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT g.i, SUM(g.g * v.v) AS w
         |  FROM gram g JOIN v$r v ON v.i = g.j
         |  GROUP BY g.i),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT i, (w * 65536) // (SELECT MAX(ABS(w)) FROM w$r) AS v
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |gram AS MATERIALIZED (
       |  SELECT t.i, t.j, SUM(q[t.i + 1] * q[t.j + 1]) AS g
       |  FROM qv, (SELECT a.range AS i, b.range AS j
       |            FROM range(0, $dims) a, range(0, $dims) b) t
       |  GROUP BY t.i, t.j),
       |v0 AS (
       |  SELECT range AS i, CAST(65536 AS HUGEINT) AS v
       |  FROM range(0, $dims)),
       |$roundCtes
       |SELECT qv.vec_id, CAST(qv.label AS BIGINT) AS label,
       |  CAST(SUM(qv.q[v.i + 1] * CAST(v.v AS BIGINT)) AS BIGINT)
       |    AS proj
       |FROM qv CROSS JOIN v$rounds v
       |GROUP BY qv.vec_id, qv.label
       |ORDER BY vec_id""".stripMargin
  }

  /** q297: backoff-support replay — position rows with their
    * (uni, bi, tri) grams, three grouped counts, highest resolving
    * order with count ≥ 2, per-doc histogram + floor milli score. */
  private[graft] val q297 =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '')
      |      AS w
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    w[u.i] AS uni,
      |    CASE WHEN u.i >= 2
      |      THEN w[u.i - 1] || ' ' || w[u.i] END AS bi,
      |    CASE WHEN u.i >= 3
      |      THEN w[u.i - 2] || ' ' || w[u.i - 1] || ' ' || w[u.i] END
      |      AS tri
      |  FROM t, UNNEST(range(1, len(w) + 1)) u(i)
      |  WHERE len(w) >= 1),
      |c1 AS (SELECT uni, COUNT(*) AS c1 FROM pos GROUP BY uni),
      |c2 AS (SELECT bi, COUNT(*) AS c2 FROM pos
      |       WHERE bi IS NOT NULL GROUP BY bi),
      |c3 AS (SELECT tri, COUNT(*) AS c3 FROM pos
      |       WHERE tri IS NOT NULL GROUP BY tri),
      |lv AS (
      |  SELECT p.doc_id,
      |    CASE WHEN COALESCE(c3.c3, 0) >= 2 THEN 3
      |         WHEN COALESCE(c2.c2, 0) >= 2 THEN 2
      |         WHEN c1.c1 >= 2 THEN 1 ELSE 0 END AS lvl
      |  FROM pos p
      |  LEFT JOIN c3 ON c3.tri = p.tri
      |  LEFT JOIN c2 ON c2.bi = p.bi
      |  JOIN c1 ON c1.uni = p.uni)
      |SELECT doc_id, COUNT(*) AS n_pos,
      |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_tri,
      |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bi,
      |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_uni,
      |  CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unk,
      |  CAST((3000 * SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END)
      |      + 2000 * SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END)
      |      + 1000 * SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END))
      |    // COUNT(*) AS BIGINT) AS support_milli
      |FROM lv GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** q294: Aho–Corasick replay — every (pattern, start) position
    * tested by brute force; overlapping occurrences count, exactly
    * the automaton's all-matches output. */
  private[graft] val q294 =
    """WITH pats AS (
      |  SELECT unnest(['a', 'ta', 'tab', 'able', 'scan', 'an',
      |    'data', 'at', 'row', 'order']) AS pattern)
      |SELECT d.doc_id, p.pattern,
      |  CAST(COUNT(*) AS BIGINT) AS n_matches
      |FROM documents d
      |CROSS JOIN pats p,
      |  UNNEST(range(1, len(lower(d.text)) - len(p.pattern) + 2)) u(s)
      |WHERE substr(lower(d.text), CAST(u.s AS INTEGER),
      |  len(p.pattern)) = p.pattern
      |GROUP BY 1, 2
      |ORDER BY doc_id, pattern""".stripMargin

  /** q270: schema-evolution replay — the merged read is the union of
    * the two batches with NULL for the pre-evolution column. */
  private[graft] val q270 =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CAST(CASE WHEN n_nationkey >= 12 THEN n_regionkey
      |       ELSE -1 END AS BIGINT) AS n_regionkey,
      |  CAST(CASE WHEN n_nationkey < 12 THEN 1 ELSE 2 END
      |    AS BIGINT) AS batch
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** q271: the MV rewrite changes the PLAN (base scan → MV
    * re-aggregate), never the answer — the oracle is the plain base
    * rollup (the q104/q257/q267 layout convention). */
  private[graft] val q271 =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS min_total,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS max_total
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q272: streaming HLL replay — identical arithmetic to q233 over
    * the events stream's (event_type, user_id); the stream's
    * complete-mode state must equal this batch computation exactly
    * (order-free max). */
  private[graft] val q272 = {
    val cascade = (1 to 24).map(r =>
      s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString("\n      |      ")
    s"""WITH h0 AS (
       |  SELECT event_type,
       |    (CAST(user_id AS BIGINT) * 1000003 + 12345)
       |      % 1000000007 AS h1
       |  FROM events),
       |h AS (
       |  SELECT event_type, (h1 * h1 + 17) % 1000000007 AS hv
       |  FROM h0),
       |b AS (
       |  SELECT event_type, hv % 64 AS register, hv // 64 AS w
       |  FROM h)
       |SELECT event_type, CAST(register AS BIGINT) AS register,
       |  CAST(MAX(CASE
       |      $cascade
       |      ELSE 25 END) AS BIGINT) AS max_rho
       |FROM b GROUP BY 1, 2
       |ORDER BY event_type, register""".stripMargin
  }

  /** q273: 4:2:0 JPEG replay — two grids: flat Y per 8×8 block, flat
    * chroma per 16×16 MCU (mx = bx//2, my = by//2 — replication
    * upsampling makes each Y block single-colored), then the q265
    * fixed-point conversion with clamps. */
  private[graft] val q273 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    2 * (1 + doc_id % 2) AS wb,
      |    2 * (1 + (doc_id // 2) % 2) AS hb
      |  FROM documents),
      |raw AS (
      |  SELECT i.doc_id, bx.v AS bx, byy.v AS byy, i.wb, i.hb,
      |    2 * (((5 * bx.v + 7 * byy.v + 3 * i.doc_id) % 64) - 32)
      |      + 128 AS yv,
      |    2 * (((3 * (bx.v // 2) + 11 * (byy.v // 2) + i.doc_id)
      |      % 64) - 32) AS cb2,
      |    2 * (((7 * (bx.v // 2) + 5 * (byy.v // 2) + 2 * i.doc_id)
      |      % 64) - 32) AS cr2
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 4)) bx ON bx.v < i.wb
      |  JOIN (SELECT range AS v FROM range(0, 4)) byy ON byy.v < i.hb),
      |blk AS (
      |  SELECT doc_id, bx, byy, wb, hb,
      |    LEAST(255, GREATEST(0, yv +
      |      (CAST(91881 * cr2 + 32768 AS BIGINT) >> 16))) AS r,
      |    LEAST(255, GREATEST(0, yv -
      |      (CAST(22554 * cb2 + 46802 * cr2 + 32768 AS BIGINT)
      |        >> 16))) AS g,
      |    LEAST(255, GREATEST(0, yv +
      |      (CAST(116130 * cb2 + 32768 AS BIGINT) >> 16))) AS b
      |  FROM raw),
      |lm AS (
      |  SELECT doc_id, bx, byy, wb, hb, r, g, b,
      |    (CAST(77 * r + 150 * g + 29 * b AS BIGINT) >> 8) AS luma
      |  FROM blk),
      |px AS (
      |  SELECT doc_id,
      |    CAST(SUM(64 * r) AS BIGINT) AS sum_r,
      |    CAST(SUM(64 * g) AS BIGINT) AS sum_g,
      |    CAST(SUM(64 * b) AS BIGINT) AS sum_b
      |  FROM lm GROUP BY doc_id),
      |rl AS (
      |  SELECT i.doc_id, CAST(SUM(l.luma) AS BIGINT) AS rls
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  JOIN lm l ON l.doc_id = i.doc_id
      |    AND l.bx = ((tx.v * (8 * i.wb)) // 4) // 8
      |    AND l.byy = ((ty.v * (8 * i.hb)) // 4) // 8
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(8 * i.wb AS BIGINT) AS width,
      |  CAST(8 * i.hb AS BIGINT) AS height,
      |  px.sum_r, px.sum_g, px.sum_b,
      |  rl.rls AS resized_luma_sum, TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q274: chi-square replay — presence sets, the three margins, and
    * the χ²·1e6 formula in HUGEINT (the BIGINT chain overflows at
    * N⁵·1e6); degenerate margins publish the −1 sentinel. */
  private[graft] val q274 =
    """WITH pres AS (
      |  SELECT DISTINCT doc_id, lang, t AS token FROM (
      |    SELECT doc_id, lang,
      |      unnest(string_split(lower(text), ' ')) AS t
      |    FROM documents)
      |  WHERE t <> ''),
      |ncls AS (
      |  SELECT lang, COUNT(DISTINCT doc_id) AS n_cls
      |  FROM pres GROUP BY lang),
      |ntok AS (
      |  SELECT token, COUNT(DISTINCT doc_id) AS n_tok
      |  FROM pres GROUP BY token),
      |aa AS (
      |  SELECT token, lang, COUNT(*) AS a
      |  FROM pres GROUP BY token, lang),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
      |SELECT aa.token, aa.lang, aa.a, ncls.n_cls, ntok.n_tok,
      |  nd.n_docs,
      |  COALESCE(CAST(CASE WHEN ntok.n_tok > 0
      |      AND ntok.n_tok < nd.n_docs
      |      AND ncls.n_cls > 0 AND ncls.n_cls < nd.n_docs THEN
      |    (CAST(nd.n_docs AS HUGEINT)
      |      * (CAST(aa.a AS HUGEINT)
      |           * (nd.n_docs - ntok.n_tok - ncls.n_cls + aa.a)
      |         - CAST(ntok.n_tok - aa.a AS HUGEINT)
      |           * (ncls.n_cls - aa.a))
      |      * (CAST(aa.a AS HUGEINT)
      |           * (nd.n_docs - ntok.n_tok - ncls.n_cls + aa.a)
      |         - CAST(ntok.n_tok - aa.a AS HUGEINT)
      |           * (ncls.n_cls - aa.a))
      |      * 1000000)
      |    // (CAST(ntok.n_tok AS HUGEINT) * (nd.n_docs - ntok.n_tok)
      |        * ncls.n_cls * (nd.n_docs - ncls.n_cls))
      |  END AS BIGINT), -1) AS chi2_micro
      |FROM aa JOIN ncls USING (lang) JOIN ntok USING (token)
      |CROSS JOIN nd
      |ORDER BY token, lang""".stripMargin

  /** q275: exact-median replay — lower median at rank (n+1)//2 via a
    * ROW_NUMBER subquery (the engine's bisection must land on the
    * same value). */
  private[graft] val q275 =
    """WITH v AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |    AS BIGINT) AS c
      |  FROM orders),
      |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM v),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
      |SELECT t.n, r.c AS median_cents
      |FROM r, t WHERE r.rn = (t.n + 1) // 2""".stripMargin

  /** q276: sequential-pair replay — per-(user, type) extrema, the
    * existence test min_ts(a) < max_ts(b), one count per pair. */
  private[graft] val q276 =
    """WITH ext AS (
      |  SELECT user_id, event_type AS t,
      |    MIN(ts) AS min_ts, MAX(ts) AS max_ts
      |  FROM events GROUP BY 1, 2),
      |ns AS (SELECT COUNT(DISTINCT user_id) AS n FROM ext)
      |SELECT a.t AS type_a, b.t AS type_b,
      |  COUNT(*) AS n_subjects,
      |  CAST((1000000 * COUNT(*)) // (SELECT n FROM ns) AS BIGINT)
      |    AS support_ppm
      |FROM ext a JOIN ext b
      |  ON a.user_id = b.user_id AND a.min_ts < b.max_ts
      |GROUP BY 1, 2
      |ORDER BY type_a, type_b""".stripMargin

  /** q277: fairness-rate replay — per-segment ppm floors and signed
    * gaps against the overall floor. */
  private[graft] val q277 =
    """WITH seg AS (
      |  SELECT o_orderpriority AS segment, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pos
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST((1000000 * SUM(n_pos)) // SUM(n) AS BIGINT)
      |    AS overall_ppm
      |  FROM seg)
      |SELECT s.segment, s.n, s.n_pos,
      |  CAST((1000000 * s.n_pos) // s.n AS BIGINT) AS rate_ppm,
      |  t.overall_ppm,
      |  CAST((1000000 * s.n_pos) // s.n - t.overall_ppm AS BIGINT)
      |    AS gap_ppm
      |FROM seg s CROSS JOIN tot t
      |ORDER BY segment""".stripMargin

  /** Shared CTE prefix for q226/q227: quantize16 vectors, per-subspace
    * rows (8×8 dims), seed codebook from the 4 lowest ids, two
    * unrolled Lloyd rounds per subspace (subspace is a data dimension
    * — the q176 pattern generalized), and the final encoding `enc`
    * (id, s, code, d2). */
  private val pqCtes = {
    def assignCte(cent: String, out: String): String =
      s"""d_$out AS (
         |  SELECT sub.id, sub.s, sub.v8, c.code,
         |    CAST(list_aggregate(list_transform(range(1, 9),
         |      i -> (sub.v8[i] - c.cvec[i]) * (sub.v8[i] - c.cvec[i])),
         |      'sum') AS BIGINT) AS d2
         |  FROM subs sub JOIN $cent c ON c.s = sub.s),
         |$out AS (
         |  SELECT id, s, v8, code, d2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
         |      ORDER BY d2, code) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS (
         |  SELECT s, code, t.d,
         |    CAST(FLOOR(CAST(SUM(v8[t.d]) AS DOUBLE) / COUNT(*))
         |      AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, 9)) t(d)
         |  GROUP BY s, code, t.d),
         |$out AS (
         |  SELECT s, code, list(cv ORDER BY d) AS cvec
         |  FROM m_$out GROUP BY s, code)""".stripMargin
    s"""qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id AS id, t.s, q[t.s*8+1 : t.s*8+8] AS v8
       |  FROM qv, UNNEST(range(0, 8)) t(s)),
       |seed AS (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |      AS code
       |  FROM (SELECT vec_id FROM qv ORDER BY vec_id LIMIT 4)),
       |c0 AS (
       |  SELECT sub.s, seed.code, sub.v8 AS cvec
       |  FROM subs sub JOIN seed ON sub.id = seed.vec_id),
       |${assignCte("c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("c2", "enc")}""".stripMargin
  }

  /** q226: PQ codes + exact integer quantization error. */
  private[graft] val q226 =
    s"""WITH $pqCtes
       |SELECT id AS vec_id,
       |  MAX(CASE WHEN s = 0 THEN code END) AS code_0,
       |  MAX(CASE WHEN s = 1 THEN code END) AS code_1,
       |  MAX(CASE WHEN s = 2 THEN code END) AS code_2,
       |  MAX(CASE WHEN s = 3 THEN code END) AS code_3,
       |  MAX(CASE WHEN s = 4 THEN code END) AS code_4,
       |  MAX(CASE WHEN s = 5 THEN code END) AS code_5,
       |  MAX(CASE WHEN s = 6 THEN code END) AS code_6,
       |  MAX(CASE WHEN s = 7 THEN code END) AS code_7,
       |  CAST(SUM(d2) AS BIGINT) AS qerr
       |FROM enc GROUP BY id ORDER BY vec_id""".stripMargin

  /** q227: PQ ADC top-5 — per-(query, subspace, code) partial
    * distances joined to the corpus codes, summed, ranked. */
  private[graft] val q227 =
    s"""WITH $pqCtes,
       |lut AS (
       |  SELECT qs.id AS qid, qs.s, c.code,
       |    CAST(list_aggregate(list_transform(range(1, 9),
       |      i -> (qs.v8[i] - c.cvec[i]) * (qs.v8[i] - c.cvec[i])),
       |      'sum') AS BIGINT) AS pd2
       |  FROM subs qs JOIN c2 c ON c.s = qs.s
       |  WHERE qs.id % 20 = 0),
       |adc AS (
       |  SELECT l.qid AS query_id, e.id AS neighbor_id,
       |    CAST(SUM(l.pd2) AS BIGINT) AS adc_d2
       |  FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
       |  WHERE l.qid <> e.id
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
       |  adc_d2
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
       |      FROM adc)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** q238: IVFADC replay — the q176 coarse-quantizer CTEs (renamed
    * cg0..cg2 to coexist with the PQ CTEs in one WITH) compose with
    * the q226/q227 PQ chain: corpus assigned to coarse cells, queries
    * probe their 2 nearest cells, the ADC LUT joins the corpus codes
    * only through probed (cell, subspace, code) keys. */
  /** Shared q238/q286 chain: coarse Lloyd + PQ + probes + LUT +
    * the ADC aggregate as `adc`. */
  private def ivfAdcCtes: String = {
    val dims = 64
    def cAssign(cent: String, out: String): String =
      s"""d_$out AS (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def cMean(assigned: String, out: String): String =
      s"""m_$out AS (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS (SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    s"""WITH $pqCtes,
       |cg0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 4)),
       |${cAssign("cg0", "cga0")},
       |${cMean("cga0", "cg1")},
       |${cAssign("cg1", "cga1")},
       |${cMean("cga1", "cg2")},
       |${cAssign("cg2", "cells")},
       |probes AS (
       |  SELECT qid, cl FROM (
       |    SELECT v.vec_id AS qid, c.cl,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |        CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |          i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum')
       |          AS BIGINT), c.cl) AS rn
       |    FROM qv v CROSS JOIN cg2 c WHERE v.vec_id % 20 = 0)
       |  WHERE rn <= 2),
       |lut AS (
       |  SELECT qs.id AS qid, p.cl, qs.s, c.code,
       |    CAST(list_aggregate(list_transform(range(1, 9),
       |      i -> (qs.v8[i] - c.cvec[i]) * (qs.v8[i] - c.cvec[i])),
       |      'sum') AS BIGINT) AS pd2
       |  FROM subs qs JOIN c2 c ON c.s = qs.s
       |  JOIN probes p ON p.qid = qs.id
       |  WHERE qs.id % 20 = 0),
       |adc AS (
       |  SELECT l.qid AS query_id, e.id AS neighbor_id,
       |    CAST(SUM(l.pd2) AS BIGINT) AS adc_d2
       |  FROM enc e
       |  JOIN cells ce ON ce.vec_id = e.id
       |  JOIN lut l ON l.cl = ce.cl AND l.s = e.s AND l.code = e.code
       |  WHERE l.qid <> e.id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private[graft] val q238 =
    s"""$ivfAdcCtes
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
       |  adc_d2
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
       |      FROM adc)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** q286: ADC shortlist + exact re-rank replay — the q238 chain's
    * top-15 by ADC distance, re-scored with the exact integer L2 and
    * re-ranked to 5. */
  private[graft] val q286 =
    s"""$ivfAdcCtes,
       |short AS (
       |  SELECT query_id, neighbor_id, adc_d2
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
       |        FROM adc)
       |  WHERE rn <= 15),
       |ex AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc_d2,
       |    CAST(list_aggregate(list_transform(range(1, 65),
       |      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])), 'sum')
       |      AS BIGINT) AS exact_d2
       |  FROM short s
       |  JOIN qv a ON a.vec_id = s.query_id
       |  JOIN qv b ON b.vec_id = s.neighbor_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
       |  exact_d2, adc_d2
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY exact_d2 ASC, neighbor_id ASC) AS rn
       |      FROM ex)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** q242: residual-IVFADC replay — the q238 coarse chain, then the
    * PQ chain retargeted at the RESIDUAL frame (rv = q − centroid of
    * the assigned cell), per-probe query residuals, and the ADC join
    * through (cell, subspace, code). */
  private[graft] val q242 = {
    val dims = 64
    def cAssign(cent: String, out: String): String =
      s"""d_$out AS (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def cMean(assigned: String, out: String): String =
      s"""m_$out AS (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS (SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    def rAssign(cent: String, out: String): String =
      s"""d_$out AS (
         |  SELECT sub.id, sub.s, sub.v8, c.code,
         |    CAST(list_aggregate(list_transform(range(1, 9),
         |      i -> (sub.v8[i] - c.cvec[i]) * (sub.v8[i] - c.cvec[i])),
         |      'sum') AS BIGINT) AS d2
         |  FROM rsubs sub JOIN $cent c ON c.s = sub.s),
         |$out AS (
         |  SELECT id, s, v8, code, d2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
         |      ORDER BY d2, code) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def rMean(assigned: String, out: String): String =
      s"""m_$out AS (
         |  SELECT s, code, t.d,
         |    CAST(FLOOR(CAST(SUM(v8[t.d]) AS DOUBLE) / COUNT(*))
         |      AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, 9)) t(d)
         |  GROUP BY s, code, t.d),
         |$out AS (
         |  SELECT s, code, list(cv ORDER BY d) AS cvec
         |  FROM m_$out GROUP BY s, code)""".stripMargin
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |cg0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 4)),
       |${cAssign("cg0", "cga0")},
       |${cMean("cga0", "cg1")},
       |${cAssign("cg1", "cga1")},
       |${cMean("cga1", "cg2")},
       |${cAssign("cg2", "cells")},
       |rv AS (
       |  SELECT ce.vec_id AS id, ce.cl,
       |    list_transform(range(1, ${dims + 1}), i -> ce.q[i] - g.c[i])
       |      AS q
       |  FROM cells ce JOIN cg2 g ON g.cl = ce.cl),
       |rsubs AS (
       |  SELECT id, t.s, q[t.s*8+1 : t.s*8+8] AS v8
       |  FROM rv, UNNEST(range(0, 8)) t(s)),
       |rseed AS (
       |  SELECT id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT) AS code
       |  FROM (SELECT id FROM rv ORDER BY id LIMIT 4)),
       |rc0 AS (
       |  SELECT sub.s, rseed.code, sub.v8 AS cvec
       |  FROM rsubs sub JOIN rseed ON sub.id = rseed.id),
       |${rAssign("rc0", "ra0")},
       |${rMean("ra0", "rc1")},
       |${rAssign("rc1", "ra1")},
       |${rMean("ra1", "rc2")},
       |${rAssign("rc2", "renc")},
       |dprobe AS (
       |  SELECT v.vec_id AS qid, c.cl, v.q, c.c,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum')
       |      AS BIGINT) AS cd2
       |  FROM qv v CROSS JOIN cg2 c WHERE v.vec_id % 20 = 0),
       |probes AS (
       |  SELECT qid, cl,
       |    list_transform(range(1, ${dims + 1}), i -> q[i] - c[i]) AS rq
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY cd2, cl) AS rn
       |        FROM dprobe)
       |  WHERE rn <= 2),
       |qrsubs AS (
       |  SELECT qid, cl, t.s, rq[t.s*8+1 : t.s*8+8] AS v8
       |  FROM probes, UNNEST(range(0, 8)) t(s)),
       |lut AS (
       |  SELECT qs.qid, qs.cl, qs.s, c.code,
       |    CAST(list_aggregate(list_transform(range(1, 9),
       |      i -> (qs.v8[i] - c.cvec[i]) * (qs.v8[i] - c.cvec[i])),
       |      'sum') AS BIGINT) AS pd2
       |  FROM qrsubs qs JOIN rc2 c ON c.s = qs.s),
       |adc AS (
       |  SELECT l.qid AS query_id, e.id AS neighbor_id,
       |    CAST(SUM(l.pd2) AS BIGINT) AS adc_d2
       |  FROM renc e
       |  JOIN rv ON rv.id = e.id
       |  JOIN lut l ON l.cl = rv.cl AND l.s = e.s AND l.code = e.code
       |  WHERE l.qid <> e.id
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
       |  adc_d2
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
       |      FROM adc)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q239: Fellegi–Sunter EM replay — the q225 comparison CTEs
    * aggregated to 2^3 pattern counts, then 3 unrolled EM rounds:
    * per-pattern posteriors as fixed-order double products (bit-
    * identical both engines), cross-pattern sums through the
    * DECIMAL(38,15) quantization, one double division per estimate,
    * ppm-floor publication (no logarithms — ln is the one
    * transcendental the engines may round apart). */
  private[graft] val q239 = {
    def emRound(k: Int): String = {
      val prev = s"e${k - 1}"
      def decSum(term: String) =
        s"CAST(SUM(CAST($term AS DECIMAL(38,15))) AS DOUBLE)"
      def clamp(x: String) =
        s"least(1e0 - 1e-6, greatest(1e-6, $x))"
      val ms = (0 to 2).map { i =>
        val x = decSum(s"CASE WHEN g$i THEN nd * w ELSE 0e0 END") +
          " / " + decSum("nd * w")
        s"    ${clamp(x)} AS m$i"
      }
      val us = (0 to 2).map { i =>
        val x = decSum(s"CASE WHEN g$i THEN nd * (1e0 - w) ELSE 0e0 END") +
          " / " + decSum("nd * (1e0 - w)")
        s"    ${clamp(x)} AS u$i"
      }
      val lam =
        s"    ${clamp(decSum("nd * w") + " / " + decSum("nd"))} AS lam"
      s"""w$k AS (
         |  SELECT g0, g1, g2, CAST(n AS DOUBLE) AS nd,
         |    (lam * pm) / (lam * pm + (1e0 - lam) * pu) AS w
         |  FROM (
         |    SELECT pat.*, e.lam,
         |      1e0 * (CASE WHEN g0 THEN e.m0 ELSE 1e0 - e.m0 END)
         |          * (CASE WHEN g1 THEN e.m1 ELSE 1e0 - e.m1 END)
         |          * (CASE WHEN g2 THEN e.m2 ELSE 1e0 - e.m2 END) AS pm,
         |      1e0 * (CASE WHEN g0 THEN e.u0 ELSE 1e0 - e.u0 END)
         |          * (CASE WHEN g1 THEN e.u1 ELSE 1e0 - e.u1 END)
         |          * (CASE WHEN g2 THEN e.u2 ELSE 1e0 - e.u2 END) AS pu
         |    FROM pat CROSS JOIN $prev e)),
         |e$k AS (
         |  SELECT
         |${ms.mkString(",\n")},
         |${us.mkString(",\n")},
         |$lam
         |  FROM w$k)""".stripMargin
    }
    def pubRow(name: String, i: Int): String =
      s"""  SELECT '$name' AS field,
         |    CAST(FLOOR(m$i * 1000000e0) AS BIGINT) AS m_ppm,
         |    CAST(FLOOR(u$i * 1000000e0) AS BIGINT) AS u_ppm,
         |    CAST(FLOOR((m$i / u$i) * 1000000e0) AS BIGINT)
         |      AS agree_ratio_ppm,
         |    CAST(FLOOR(((1e0 - m$i) / (1e0 - u$i)) * 1000000e0)
         |      AS BIGINT) AS disagree_ratio_ppm,
         |    CAST(FLOOR(lam * 1000000e0) AS BIGINT) AS lambda_ppm
         |  FROM e3""".stripMargin
    s"""WITH c AS (
       |  SELECT c_custkey AS a_id, c_nationkey AS nk,
       |    right(c_name, 2) AS nt,
       |    floor(c_acctbal / 1000.0) AS kb,
       |    floor(c_acctbal / 100.0) AS hb
       |  FROM customer),
       |s AS (
       |  SELECT s_suppkey AS b_id, s_nationkey AS nk,
       |    right(s_name, 2) AS nt,
       |    floor(s_acctbal / 1000.0) AS kb,
       |    floor(s_acctbal / 100.0) AS hb
       |  FROM supplier),
       |p AS (
       |  SELECT a_id, b_id,
       |    COALESCE(c.nt = s.nt, FALSE) AS g0,
       |    COALESCE(c.kb = s.kb, FALSE) AS g1,
       |    COALESCE(c.hb = s.hb, FALSE) AS g2
       |  FROM c JOIN s USING (nk)),
       |pat AS (
       |  SELECT g0, g1, g2, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM p GROUP BY 1, 2, 3),
       |e0 AS (SELECT 0.9e0 AS m0, 0.9e0 AS m1, 0.9e0 AS m2,
       |  0.1e0 AS u0, 0.1e0 AS u1, 0.1e0 AS u2, 0.1e0 AS lam),
       |${emRound(1)},
       |${emRound(2)},
       |${emRound(3)}
       |SELECT * FROM (
       |${pubRow("name_tail", 0)}
       |  UNION ALL
       |${pubRow("acct_kband", 1)}
       |  UNION ALL
       |${pubRow("acct_hband", 2)})
       |ORDER BY field""".stripMargin
  }

  /** q229: farthest-point k-center replay — k−1 unrolled greedy
    * rounds, each a min-distance-to-centers aggregate and a
    * (md DESC, vec_id ASC) LIMIT 1 argmax. */
  private[graft] val q229 = {
    def d2(a: String, b: String) =
      s"CAST(list_aggregate(list_transform(range(1, 65), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum') AS BIGINT)"
    val steps = (1 until 8).map { r =>
      s"""s$r AS (
         |  SELECT v.vec_id, v.q, MIN(${d2("v.q", "c.q")}) AS md
         |  FROM qv v CROSS JOIN cents$r c GROUP BY v.vec_id, v.q),
         |p$r AS (
         |  SELECT $r AS rank, vec_id, q, md FROM s$r
         |  ORDER BY md DESC, vec_id ASC LIMIT 1),
         |cents${r + 1} AS (
         |  SELECT rank, vec_id, q FROM cents$r
         |  UNION ALL SELECT rank, vec_id, q FROM p$r)""".stripMargin
    }.mkString(",\n")
    val pUnion = (1 until 8).map(r =>
      s"SELECT CAST(rank AS INTEGER) AS rank, vec_id, " +
        s"CAST(md AS BIGINT) AS mind2 FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 1),
       |cents1 AS (SELECT 0 AS rank, vec_id, q FROM c0),
       |$steps
       |SELECT CAST(0 AS INTEGER) AS rank, vec_id,
       |  CAST(0 AS BIGINT) AS mind2 FROM c0
       |UNION ALL $pUnion
       |ORDER BY rank""".stripMargin
  }

  /** q230: JL audit replay — the portablePlaneSign PRF evaluated
    * inline in SQL (same affine two-round formula the Scala side
    * emits as literals), projected sums per (vec, j), consecutive-id
    * probe pairs, truncating `DIV` for ratio_milli. */
  private[graft] val q230 =
    """WITH qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
      |  FROM embeddings),
      |sj AS (
      |  SELECT j.v AS j, d.v AS d,
      |    CASE WHEN ((j.v * 1000003 + d.v * 7919) % 1000000007
      |      * 131 + 17) % 1000000007 % 2 = 1
      |      THEN 1 ELSE -1 END AS s
      |  FROM (SELECT range AS v FROM range(0, 16)) j
      |  CROSS JOIN (SELECT range AS v FROM range(0, 64)) d),
      |y AS (
      |  SELECT v.vec_id, sj.j,
      |    CAST(SUM(sj.s * v.q[sj.d + 1]) AS BIGINT) AS yj
      |  FROM qv v CROSS JOIN sj GROUP BY v.vec_id, sj.j),
      |yv AS (
      |  SELECT vec_id, list(yj ORDER BY j) AS y FROM y GROUP BY vec_id),
      |p AS (
      |  SELECT q.vec_id, q.q, yv.y FROM qv q JOIN yv USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    CAST(list_aggregate(list_transform(range(1, 65),
      |      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])), 'sum')
      |      AS BIGINT) AS d2_orig,
      |    CAST(list_aggregate(list_transform(range(1, 17),
      |      i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])), 'sum')
      |      AS BIGINT) AS d2_proj
      |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
      |  WHERE a.vec_id % 3 = 0)
      |SELECT a_id, b_id, d2_orig, d2_proj,
      |  CAST(CASE WHEN d2_orig > 0
      |    THEN 1000 * d2_proj // (16 * d2_orig)
      |    ELSE 0 END AS BIGINT) AS ratio_milli
      |FROM pairs ORDER BY a_id""".stripMargin

  /** q231: Luhn scan replay — the synthetic digit-run construction,
    * regex candidates, and the mod-10 right-aligned-parity sum as a
    * per-position transform (terms are independent, so transform+sum
    * ≡ the Spark fold). */
  private[graft] val q231 =
    """WITH s AS (
      |  SELECT doc_id, text || ' txn ' ||
      |    lpad(CAST((doc_id * 86243) % 100000000000000 AS VARCHAR),
      |      14, '0') || CAST(doc_id % 10 AS VARCHAR) AS t
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    regexp_extract_all(t, '[0-9]{13,19}') AS cands
      |  FROM s),
      |v AS (
      |  SELECT doc_id,
      |    CAST(len(cands) AS BIGINT) AS n_candidates,
      |    CAST(len(list_filter(cands, x ->
      |      list_sum(list_transform(range(1, length(x) + 1), i ->
      |        CASE WHEN (length(x) - i + 1) % 2 = 0
      |          THEN CASE
      |            WHEN (unicode(substr(x, CAST(i AS INTEGER), 1)) - 48)
      |              * 2 > 9
      |            THEN (unicode(substr(x, CAST(i AS INTEGER), 1)) - 48)
      |              * 2 - 9
      |            ELSE (unicode(substr(x, CAST(i AS INTEGER), 1)) - 48)
      |              * 2 END
      |          ELSE unicode(substr(x, CAST(i AS INTEGER), 1)) - 48
      |        END)) % 10 = 0)) AS BIGINT) AS n_luhn_valid
      |  FROM c)
      |SELECT doc_id, n_candidates, n_luhn_valid,
      |  n_luhn_valid > 0 AS has_pan
      |FROM v ORDER BY doc_id""".stripMargin

  /** q232: Hilbert-cell replay — the xy2d walk UNROLLED as 8 chained
    * CTEs of plain scalar CASE arithmetic (the q102 convention).
    * Deliberately NOT a list_reduce struct fold: DuckDB v1.0's
    * vectorized lambda evaluation returned batch-size-dependent
    * results for that shape (single-row probe: 3; same point inside
    * a multi-row batch: 2) — scalar column arithmetic has no such
    * failure mode on any engine version. */
  private[graft] val q232 = {
    def level(prev: String, out: String, s: Long): String =
      s"""$out AS (
         |  SELECT ck, pb,
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END
         |    ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END
         |    ELSE y END AS y,
         |    d + $s * $s * (
         |      CASE WHEN (x & $s) = 0 AND (y & $s) = 0 THEN 0
         |           WHEN (x & $s) = 0 THEN 1
         |           WHEN (y & $s) = 0 THEN 3
         |           ELSE 2 END) AS d
         |  FROM $prev)""".stripMargin
    val levels = (0 until 8).map { i =>
      level(if (i == 0) "l0" else s"l$i", s"l${i + 1}", 1L << (7 - i))
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT CAST(o_custkey % 256 AS BIGINT) AS ck,
       |    least(255, greatest(0,
       |      CAST(floor(o_totalprice / 2500.0) AS BIGINT))) AS pb
       |  FROM orders),
       |l0 AS (SELECT ck, pb, ck AS x, pb AS y, CAST(0 AS BIGINT) AS d
       |       FROM b),
       |$levels
       |SELECT d >> 6 AS h_cell, COUNT(*) AS n_orders,
       |  MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       |  MIN(pb) AS min_pb, MAX(pb) AS max_pb
       |FROM l8 GROUP BY 1 ORDER BY h_cell""".stripMargin
  }

  /** q233: HLL register replay — the same affine PRF, register split,
    * and 24-bit threshold-cascade rank, grouped MAX. */
  /** Quadratic-PRF Bloom bit as SQL text — the q243 constant schedule
    * with a caller-chosen modulus; `k` is a SQL expression for the
    * BIGINT key, `j` the fixed hash-row index. Generated by the same
    * (a, b, c) schedule as `Sketches.bloomBit`, so oracle and engine
    * share the arithmetic by construction. */
  private def bloomBitSql(k: String, j: Int, mBits: Int): String = {
    val a = 1000003L + 97L * j
    val b = 12345L + 1013L * j
    val c = 17L + 29L * j
    s"(((($k * $a + $b) % 1000000007) * (($k * $a + $b) % 1000000007)" +
      s" + $c) % 1000000007) % $mBits"
  }

  /** q246: Bloom register replay — the q243 PRF family folded to bit
    * positions, DISTINCT per group (union-mergeable state). */
  private[graft] val q246 = {
    val bits = (0 until 3)
      .map(j => bloomBitSql("k", j, 512)).mkString(",\n      |    ")
    s"""WITH k AS (
       |  SELECT o_orderpriority, CAST(o_custkey AS BIGINT) AS k
       |  FROM orders),
       |e AS (
       |  SELECT o_orderpriority, unnest([
       |    $bits]) AS bit
       |  FROM k)
       |SELECT o_orderpriority, CAST(bit AS BIGINT) AS bit
       |FROM e GROUP BY 1, 2
       |ORDER BY o_orderpriority, bit""".stripMargin
  }

  /** q247: Bloom semi-join reduction replay — build-side distinct
    * bits, per-probe-row 3-bit membership, exact-match check only on
    * candidates (no false negatives, so that equals the full
    * semi-join). */
  private[graft] val q247 = {
    val buildBits = (0 until 3)
      .map(j => bloomBitSql("k", j, 16384)).mkString(",\n      |    ")
    val passPred = (0 until 3)
      .map(j => s"(${bloomBitSql("k", j, 16384)}) IN (SELECT bit FROM bits)")
      .mkString("\n      |    AND ")
    s"""WITH b AS (
       |  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
       |  FROM orders WHERE o_orderpriority = '1-URGENT'),
       |bits AS (
       |  SELECT DISTINCT unnest([
       |    $buildBits]) AS bit
       |  FROM b),
       |p AS (
       |  SELECT l_returnflag, CAST(l_orderkey AS BIGINT) AS k
       |  FROM lineitem),
       |pp AS (
       |  SELECT l_returnflag, k,
       |    $passPred AS pass
       |  FROM p)
       |SELECT l_returnflag,
       |  CAST(COUNT(*) AS BIGINT) AS n_probe,
       |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_candidates,
       |  CAST(SUM(CASE WHEN pass AND k IN (SELECT k FROM b)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN pass AND k NOT IN (SELECT k FROM b)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
       |FROM pp GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** q248: k-core peeling replay — the 3 parallel-peel rounds
    * unrolled as CTEs (the q102 convention): per round, induced
    * degrees over the survivor set, HAVING deg >= k. */
  private[graft] val q248 = {
    val rounds = (1 to 3).map { t =>
      s"""a$t AS (
         |  SELECT src AS node, COUNT(*) AS deg FROM und
         |  WHERE src IN (SELECT node FROM a${t - 1})
         |    AND dst IN (SELECT node FROM a${t - 1})
         |  GROUP BY src HAVING COUNT(*) >= 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH te AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |t AS (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM te),
       |strong AS (
       |  SELECT src, dst FROM te, t WHERE w * ne > tw),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM strong
       |    UNION ALL SELECT dst AS src, src AS dst FROM strong)
       |  WHERE src <> dst),
       |n AS (SELECT DISTINCT src AS node FROM und),
       |a0 AS (SELECT node FROM n),
       |$rounds,
       |d AS (
       |  SELECT src AS node, COUNT(*) AS deg FROM und
       |  WHERE src IN (SELECT node FROM a3)
       |    AND dst IN (SELECT node FROM a3)
       |  GROUP BY src)
       |SELECT CAST(n.node AS BIGINT) AS nationkey,
       |  d.deg IS NOT NULL AS in_core,
       |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree
       |FROM n LEFT JOIN d ON n.node = d.node
       |ORDER BY nationkey""".stripMargin
  }

  /** Winnowing replay pieces (q249/q250) — the q202 portable hash
    * family: per-token char fold, then a k-gram fold generated for
    * fixed k so oracle and engine share the arithmetic by
    * construction; window mins over gram slices, short documents
    * degrade to their single overall min. */
  private def winnowFpsSql(k: Int, w: Int): String = {
    // gram at gram-index e (1-based over th positions k..len):
    // fold acc*33 + t over th[e-k+1..e], acc starts 0 => first term th
    val gram = (2 to k).foldLeft(s"th[e - ${k - 1}]") { (acc, i) =>
      s"($acc * 33 + th[e - ${k - i}]) % 1000000007"
    }
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    list_transform(toks, w ->
       |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''),
       |          c -> CAST(unicode(c) AS BIGINT))),
       |        (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)) AS th
       |  FROM t),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(th) >= $k THEN
       |      list_transform(range($k, len(th) + 1), e -> $gram)
       |    ELSE CAST([] AS BIGINT[]) END AS gs
       |  FROM h),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN len(gs) >= $w THEN
       |      list_transform(range(1, len(gs) - $w + 2),
       |        i -> list_aggregate(gs[i:i + ${w - 1}], 'min'))
       |    WHEN len(gs) > 0 THEN [list_aggregate(gs, 'min')]
       |    ELSE CAST([] AS BIGINT[]) END AS mins
       |  FROM g),
       |f AS (
       |  SELECT DISTINCT doc_id, fingerprint FROM (
       |    SELECT doc_id, unnest(mins) AS fingerprint FROM m))""".stripMargin
  }

  /** q249: winnowing fingerprint selection replay (k=3, w=4). */
  private[graft] val q249 =
    s"""${winnowFpsSql(3, 4)}
       |SELECT doc_id, CAST(fingerprint AS BIGINT) AS fingerprint
       |FROM f ORDER BY doc_id, fingerprint""".stripMargin

  /** q250: winnowing-overlap pair replay (k=4, w=8, >= 2 shared). */
  private[graft] val q250 =
    s"""${winnowFpsSql(4, 8)}
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM f a JOIN f b ON a.fingerprint = b.fingerprint
       |  AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY a_id, b_id""".stripMargin

  /** q251: CM join-size estimate replay — both register builds via
    * the shared PRF bucket (fixed-j branches of the q243 arithmetic),
    * per-row inner products re-anchored on the full row domain, MIN
    * fold, exact join count alongside. */
  private[graft] val q251 = {
    def cmRows(src: String): String = (0 until 4).map(j =>
      s"SELECT $j AS sketch_row, ${bloomBitSql("k", j, 64)} AS bucket" +
        s" FROM $src").mkString("\n      |    UNION ALL ")
    s"""WITH ka AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS k FROM lineitem),
       |kb AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k FROM part
       |  WHERE p_size > 25),
       |ca AS (
       |  SELECT sketch_row, bucket, CAST(COUNT(*) AS BIGINT) AS ca
       |  FROM (${cmRows("ka")}) GROUP BY 1, 2),
       |cb AS (
       |  SELECT sketch_row, bucket, CAST(COUNT(*) AS BIGINT) AS cb
       |  FROM (${cmRows("kb")}) GROUP BY 1, 2),
       |pr AS (
       |  SELECT ca.sketch_row, SUM(ca.ca * cb.cb) AS prod
       |  FROM ca JOIN cb ON ca.sketch_row = cb.sketch_row
       |    AND ca.bucket = cb.bucket
       |  GROUP BY 1),
       |f AS (
       |  SELECT r.v AS sketch_row, COALESCE(pr.prod, 0) AS prod
       |  FROM (SELECT range AS v FROM range(0, 4)) r
       |  LEFT JOIN pr ON pr.sketch_row = r.v),
       |ex AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
       |  FROM ka JOIN kb ON ka.k = kb.k)
       |SELECT CAST(MIN(prod) AS BIGINT) AS est_join_size,
       |  (SELECT exact_join_size FROM ex) AS exact_join_size,
       |  CAST(CASE WHEN (SELECT exact_join_size FROM ex) > 0
       |    THEN 1000000 * MIN(prod) // (SELECT exact_join_size FROM ex)
       |    ELSE 0 END AS BIGINT) AS over_ppm
       |FROM f""".stripMargin
  }

  /** q252: SCD2 interval replay — run detection via lag over the
    * (date, orderkey) order, lead() over the collapsed runs. */
  private[graft] val q252 =
    """WITH l AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    row_number() OVER w AS rn,
      |    lag(o_orderpriority) OVER w AS prev
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)),
      |ch AS (
      |  SELECT * FROM l
      |  WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority),
      |i AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
      |    lead(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS valid_to
      |  FROM ch)
      |SELECT o_custkey, o_orderpriority, valid_from,
      |  COALESCE(valid_to, DATE '2100-01-01') AS valid_to,
      |  valid_to IS NULL AS is_current
      |FROM i ORDER BY o_custkey, valid_from""".stripMargin

  /** q253: TextRank replay — candidate filter, window-2 adjacency,
    * symmetrized edge counts, then the q102 PageRank recurrence
    * unrolled for 3 iterations; top-25 with word tie-break. */
  private[graft] val q253 = {
    val scale = 1000000000L
    val its = (1 to 3).map { t =>
      s"""it$t AS (
         |  SELECT n.node,
         |    (CAST(15 * (SELECT r0 FROM init) AS BIGINT)
         |      + 85 * COALESCE(c.s, CAST(0 AS BIGINT))) // 100 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank * e.w) // o.ow) AS s
         |    FROM edges e
         |    JOIN it${t - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT list_filter(string_split(lower(text), ' '),
       |    x -> regexp_matches(x, '^[a-z]{4,}$$')) AS f
       |  FROM documents),
       |adj AS (
       |  SELECT f[i] AS a, f[i + 1] AS b
       |  FROM (SELECT f, unnest(generate_series(1, len(f) - 1)) AS i
       |        FROM d WHERE len(f) >= 2)
       |  WHERE f[i] <> f[i + 1]),
       |edges AS (
       |  SELECT a AS src, b AS dst, COUNT(*) AS w FROM (
       |    SELECT a, b FROM adj
       |    UNION ALL SELECT b AS a, a AS b FROM adj)
       |  GROUP BY 1, 2),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |init AS (SELECT $scale // COUNT(*) AS r0 FROM nodes),
       |it0 AS (SELECT node, (SELECT r0 FROM init) AS rank FROM nodes),
       |$its
       |SELECT node AS word, CAST(rank AS BIGINT) AS pagerank_scaled,
       |  CAST(row_number() OVER (ORDER BY rank DESC, node ASC)
       |    AS INTEGER) AS kw_rank
       |FROM it3 ORDER BY rank DESC, node ASC LIMIT 25""".stripMargin
  }

  /** q254: personalized PageRank replay — q102's trade edges, the
    * teleport vector concentrated on the in-graph region-0 nations;
    * 5 iterations unrolled with a per-node base b(v) = scale // |S|
    * for seeds and 0 elsewhere (init ranks ARE the base). */
  private[graft] val q254 = {
    val scale = 1000000000L
    val its = (1 to 5).map { t =>
      s"""it$t AS (
         |  SELECT n.node,
         |    (CAST(15 * n.b AS BIGINT)
         |      + 85 * COALESCE(c.s, CAST(0 AS BIGINT))) // 100 AS rank
         |  FROM base n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank * e.w) // o.ow) AS s
         |    FROM edges e
         |    JOIN it${t - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |inseeds AS (
       |  SELECT DISTINCT n_nationkey AS node FROM nation
       |  WHERE n_regionkey = 0
       |    AND n_nationkey IN (SELECT node FROM nodes)),
       |base AS (
       |  SELECT n.node,
       |    CASE WHEN i.node IS NOT NULL
       |      THEN $scale // (SELECT COUNT(*) FROM inseeds)
       |      ELSE CAST(0 AS BIGINT) END AS b
       |  FROM nodes n LEFT JOIN inseeds i ON n.node = i.node),
       |it0 AS (SELECT node, b AS rank FROM base),
       |$its
       |SELECT node AS nationkey, CAST(rank AS BIGINT) AS ppr_scaled
       |FROM it5 ORDER BY nationkey""".stripMargin
  }

  /** q255: greedy max-coverage replay — distinct word-bigram universe
    * (the q253 positional-pairing idiom), then the 4 rounds unrolled
    * as CTEs: each round anti-joins the covered set and takes the
    * (gain DESC, doc_id ASC) argmax; covered_total is the running sum
    * of gains (exact — a gain counts only new bigrams). */
  private[graft] val q255 = {
    val rounds = (2 to 4).map { r =>
      s"""g$r AS (
         |  SELECT t.doc_id, COUNT(*) AS gain
         |  FROM toks t LEFT JOIN c${r - 1} c ON t.token = c.token
         |  WHERE c.token IS NULL GROUP BY t.doc_id),
         |p$r AS (
         |  SELECT doc_id, gain FROM g$r
         |  ORDER BY gain DESC, doc_id ASC LIMIT 1),
         |c$r AS (
         |  SELECT token FROM c${r - 1}
         |  UNION
         |  SELECT t.token FROM toks t JOIN p$r USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS f
       |  FROM documents),
       |toks AS (
       |  SELECT DISTINCT doc_id, f[i] || ' ' || f[i + 1] AS token
       |  FROM (SELECT doc_id, f,
       |          unnest(generate_series(1, len(f) - 1)) AS i
       |        FROM d WHERE len(f) >= 2)),
       |p1 AS (
       |  SELECT doc_id, COUNT(*) AS gain FROM toks GROUP BY doc_id
       |  ORDER BY gain DESC, doc_id ASC LIMIT 1),
       |c1 AS (SELECT t.token FROM toks t JOIN p1 USING (doc_id)),
       |$rounds
       |SELECT * FROM (
       |  SELECT 1 AS pick_round, doc_id, gain,
       |    gain AS covered_total FROM p1
       |  UNION ALL
       |  SELECT 2, doc_id, gain,
       |    (SELECT gain FROM p1) + gain FROM p2
       |  UNION ALL
       |  SELECT 3, doc_id, gain,
       |    (SELECT gain FROM p1) + (SELECT gain FROM p2)
       |      + gain FROM p3
       |  UNION ALL
       |  SELECT 4, doc_id, gain,
       |    (SELECT gain FROM p1) + (SELECT gain FROM p2)
       |      + (SELECT gain FROM p3) + gain FROM p4)
       |ORDER BY pick_round""".stripMargin
  }

  /** q256: baseline-JPEG replay — the fixture is DC-only grayscale,
    * so every pixel of block (bx, by) is exactly
    * 2·(((5bx + 7by + 3id) mod 64) − 32) + 128 (IDCT of a lone F00
    * with quantizer 16); the stats are block sums and the 4×4
    * nearest-neighbor resample of that formula (gray luma is the
    * value itself: (77+150+29)v >> 8 = v). */
  private[graft] val q256 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    1 + doc_id % 3 AS wb,
      |    1 + (doc_id // 3) % 3 AS hb
      |  FROM documents),
      |px AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(64 * (2 * (((5 * bx.v + 7 * byy.v + 3 * i.doc_id)
      |      % 64) - 32) + 128)) AS BIGINT) AS s
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 3)) bx ON bx.v < i.wb
      |  JOIN (SELECT range AS v FROM range(0, 3)) byy ON byy.v < i.hb
      |  GROUP BY i.doc_id),
      |rl AS (
      |  SELECT i.doc_id,
      |    CAST(SUM(2 * (((5 * ((tx.v * (8 * i.wb)) // 4 // 8)
      |      + 7 * ((ty.v * (8 * i.hb)) // 4 // 8)
      |      + 3 * i.doc_id) % 64) - 32) + 128) AS BIGINT) AS rls
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(8 * i.wb AS BIGINT) AS width,
      |  CAST(8 * i.hb AS BIGINT) AS height,
      |  px.s AS sum_r, px.s AS sum_g, px.s AS sum_b,
      |  rl.rls AS resized_luma_sum, TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q257: the ORC layout changes the CONTAINER, never the answer —
    * the oracle is the plain projection (the q63/q104 convention). */
  private[graft] val q257 =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** q258: LOO target-encoding replay — category stats once, the
    * self-excluded ppm mean per (category, own flag); DuckDB SUM is
    * HUGEINT, so the published column is cast back to BIGINT. */
  private[graft] val q258 =
    """WITH s AS (
      |  SELECT o_orderpriority, COUNT(*) AS n_cat,
      |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS sum_t
      |  FROM orders GROUP BY 1)
      |SELECT DISTINCT o.o_orderpriority,
      |  CAST(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
      |    AS BIGINT) AS t_f,
      |  s.n_cat,
      |  CAST(CASE WHEN s.n_cat > 1 THEN
      |    (1000000 * (s.sum_t
      |      - CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END))
      |    // (s.n_cat - 1) END AS BIGINT) AS loo_ppm
      |FROM orders o JOIN s USING (o_orderpriority)
      |ORDER BY o_orderpriority, t_f""".stripMargin

  /** q259: hashing-trick replay — the portable char-fold token hash
    * (the winnowing idiom), bucket = h mod 64, sign from the next
    * base-64 digit's parity. */
  private[graft] val q259 =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(lower(text), ' '),
      |      x -> x <> '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(tok, ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
      |  FROM toks)
      |SELECT doc_id, h % 64 AS bucket,
      |  CAST(SUM(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS val,
      |  COUNT(*) AS n_tokens
      |FROM h GROUP BY 1, 2
      |ORDER BY doc_id, bucket""".stripMargin

  /** q260: BLEU-2 replay — even/odd document pairing, per-side n-gram
    * occurrence counts, clipped-min intersection join, integer ppm
    * precisions. */
  private[graft] val q260 =
    """WITH pairs AS (
      |  SELECT e.doc_id // 2 AS pair_id, e.text AS hyp, o.text AS ref
      |  FROM documents e JOIN documents o ON o.doc_id = e.doc_id + 1
      |  WHERE e.doc_id % 2 = 0),
      |t AS (
      |  SELECT pair_id,
      |    list_filter(string_split(lower(hyp), ' '), x -> x <> '') AS hw,
      |    list_filter(string_split(lower(ref), ' '), x -> x <> '') AS rw
      |  FROM pairs),
      |h1 AS (SELECT pair_id, unnest(hw) AS g FROM t),
      |r1 AS (SELECT pair_id, unnest(rw) AS g FROM t),
      |h2 AS (SELECT pair_id,
      |    unnest(list_transform(range(1, len(hw)),
      |      i -> hw[i] || ' ' || hw[i + 1])) AS g FROM t),
      |r2 AS (SELECT pair_id,
      |    unnest(list_transform(range(1, len(rw)),
      |      i -> rw[i] || ' ' || rw[i + 1])) AS g FROM t),
      |m1 AS (
      |  SELECT a.pair_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
      |  FROM (SELECT pair_id, g, COUNT(*) AS c FROM h1 GROUP BY 1, 2) a
      |  JOIN (SELECT pair_id, g, COUNT(*) AS c FROM r1 GROUP BY 1, 2) b
      |    USING (pair_id, g)
      |  GROUP BY 1),
      |m2 AS (
      |  SELECT a.pair_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
      |  FROM (SELECT pair_id, g, COUNT(*) AS c FROM h2 GROUP BY 1, 2) a
      |  JOIN (SELECT pair_id, g, COUNT(*) AS c FROM r2 GROUP BY 1, 2) b
      |    USING (pair_id, g)
      |  GROUP BY 1)
      |SELECT t.pair_id,
      |  CAST(len(t.hw) AS BIGINT) AS hyp_len,
      |  CAST(len(t.rw) AS BIGINT) AS ref_len,
      |  COALESCE(m1.m, CAST(0 AS BIGINT)) AS match1,
      |  CAST(len(t.hw) AS BIGINT) AS total1,
      |  CAST(CASE WHEN len(t.hw) > 0 THEN
      |    (1000000 * COALESCE(m1.m, 0)) // len(t.hw) END AS BIGINT)
      |    AS p1_ppm,
      |  COALESCE(m2.m, CAST(0 AS BIGINT)) AS match2,
      |  CAST(GREATEST(len(t.hw) - 1, 0) AS BIGINT) AS total2,
      |  CAST(CASE WHEN len(t.hw) - 1 > 0 THEN
      |    (1000000 * COALESCE(m2.m, 0)) // (len(t.hw) - 1) END
      |    AS BIGINT) AS p2_ppm
      |FROM t LEFT JOIN m1 USING (pair_id) LEFT JOIN m2 USING (pair_id)
      |ORDER BY pair_id""".stripMargin

  /** q261: bounded Bellman-Ford replay — 4 relaxation rounds
    * unrolled, each round = previous frame UNION ALL the one-edge
    * relaxations, MIN per node. */
  private[graft] val q261 = {
    val its = (1 to 4).map { t =>
      s"""d$t AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, r.dist + e.cost AS dist
         |    FROM edges e JOIN d${t - 1} r ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst,
       |    1 + (1000000 // COUNT(*)) AS cost
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |seeds AS (
       |  SELECT DISTINCT n_nationkey AS node FROM nation
       |  WHERE n_regionkey = 0),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
       |$its
       |SELECT node AS nationkey, CAST(dist AS BIGINT) AS dist
       |FROM d4 ORDER BY nationkey""".stripMargin
  }

  /** q262: HyperBall replay — per-node self-seeded HLL registers
    * (the q233 arithmetic with m = 16 over the node id), 3 merge
    * rounds unrolled (register-wise MAX along out-edges), then the
    * per-(node, t) sufficient statistics: set-register count, the
    * inverse-power sum with 2^25 for unset registers, and the
    * alpha-free milli estimate. */
  /** Shared q262/q278 CTE prefix: edges + register build + 3 merge
    * rounds + the per-(node, t) stats union as `hb`. */
  private def hyperBallCtes: String = {
    val cascade = (1 to 24).map(r =>
      s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString("\n      |      ")
    val merges = (1 to 3).map { t =>
      s"""r$t AS (
         |  SELECT grp, register, MAX(max_rho) AS max_rho FROM (
         |    SELECT grp, register, max_rho FROM r${t - 1}
         |    UNION ALL
         |    SELECT e.src AS grp, r.register, r.max_rho
         |    FROM edges e JOIN r${t - 1} r ON r.grp = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val stats = (0 to 3).map { t =>
      s"""SELECT nationkey, $t AS t, n_regs_set, inv_sum,
         |  8589934592000 // inv_sum AS raw_est_milli FROM (
         |  SELECT grp AS nationkey,
         |    COUNT(*) AS n_regs_set,
         |    CAST((16 - COUNT(*)) * 33554432
         |      + SUM(CAST(1 AS BIGINT) << (25 - max_rho))
         |      AS BIGINT) AS inv_sum
         |  FROM r$t GROUP BY grp)""".stripMargin
    }.mkString("\n      |UNION ALL\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h AS (
       |  SELECT node,
       |    (((CAST(node AS BIGINT) * 1000003 + 12345) % 1000000007)
       |      * ((CAST(node AS BIGINT) * 1000003 + 12345) % 1000000007)
       |      + 17) % 1000000007 AS hv
       |  FROM nodes),
       |b AS (SELECT node, hv % 16 AS register, hv // 16 AS w FROM h),
       |r0 AS (
       |  SELECT node AS grp, register,
       |    CAST(CASE
       |      $cascade
       |      ELSE 25 END AS BIGINT) AS max_rho
       |  FROM b),
       |$merges,
       |hb AS (
       |$stats)""".stripMargin
  }

  private[graft] val q262 =
    s"""$hyperBallCtes
       |SELECT nationkey, CAST(t AS INTEGER) AS t,
       |  n_regs_set, inv_sum, raw_est_milli FROM hb
       |ORDER BY nationkey, t""".stripMargin

  /** q278: harmonic centrality from the HyperBall stats — per-radius
    * ball-size deltas (clamped at 0) weighted by 1/t, summed. */
  private[graft] val q278 =
    s"""$hyperBallCtes
       |SELECT a.nationkey AS node,
       |  CAST(SUM(GREATEST(a.raw_est_milli - p.raw_est_milli, 0) // a.t)
       |    AS BIGINT) AS harmonic_milli
       |FROM hb a JOIN hb p
       |  ON p.nationkey = a.nationkey AND p.t = a.t - 1
       |GROUP BY a.nationkey
       |ORDER BY node""".stripMargin

  /** q263: deterministic-walk replay — dense out-edge ranking by dst,
    * 4 steps unrolled, each picking rank (h1² + 17 mod P) mod outdeg
    * with h1 = (walk_id·1000003 + step·97 + 12345) mod P. */
  /** Shared q263/q279 CTE prefix: ranked edges + 4 PRF walk steps +
    * the emitted corpus as `walks(walk_id, step, node)`. */
  private def walkCtes: String = {
    val steps = (1 to 4).map { s =>
      val h1 = s"((CAST(w.walk_id AS BIGINT) * 1000003 " +
        s"+ ${s * 97 + 12345}) % 1000000007)"
      s"""w$s AS (
         |  SELECT w.walk_id, r.dst AS cur
         |  FROM w${s - 1} w
         |  JOIN odeg o ON o.src = w.cur
         |  JOIN ranked r ON r.src = w.cur
         |    AND r.rnk = (($h1 * $h1 + 17) % 1000000007) % o.odeg)"""
        .stripMargin
    }.mkString(",\n")
    val emit = (0 to 4).map(s =>
      s"SELECT walk_id, $s AS step, cur AS node FROM w$s")
      .mkString("\n      |UNION ALL\n      |")
    s"""WITH edges AS (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |ranked AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
       |  FROM edges),
       |odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |w0 AS (SELECT node AS walk_id, node AS cur FROM nodes),
       |$steps,
       |walks AS (
       |$emit)""".stripMargin
  }

  private[graft] val q263 =
    s"""$walkCtes
       |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM walks
       |ORDER BY walk_id, step""".stripMargin

  /** q280: dedup-recall replay — the exhaustive exact-Jaccard pair
    * set (2·inter ≥ union on distinct 3-gram shingles) and the q132
    * banded-candidate chain, both from one shared token CTE; counts
    * and ppm floors. */
  private[graft] val q280 = {
    val as = Seq(131, 137, 139, 149, 151, 157, 163, 167)
    val bs = Seq(17, 29, 47, 71, 89, 107, 131, 151)
    val mins = as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      s"MIN((h * $a + $b) % 1000000007) AS m$j"
    }.mkString(",\n      |    ")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |toks AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS tok
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - 2)) AS i
       |        FROM w WHERE len(ws) >= 3)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i
       |  FROM toks ta JOIN toks tb
       |    ON ta.tok = tb.tok AND ta.doc_id < tb.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT x.a, x.b FROM inter x
       |  JOIN sizes sa ON sa.doc_id = x.a
       |  JOIN sizes sb ON sb.doc_id = x.b
       |  WHERE 2 * x.i >= sa.n + sb.n - x.i),
       |wh AS (
       |  SELECT doc_id, tok,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''),
       |          c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, $mins
       |  FROM wh GROUP BY doc_id),
       |cand AS (
       |  SELECT s1.doc_id AS a, s2.doc_id AS b FROM sig s1 JOIN sig s2
       |    ON s1.m0=s2.m0 AND s1.m1=s2.m1 AND s1.m2=s2.m2 AND s1.m3=s2.m3
       |   AND s1.doc_id < s2.doc_id
       |  UNION
       |  SELECT s1.doc_id, s2.doc_id FROM sig s1 JOIN sig s2
       |    ON s1.m4=s2.m4 AND s1.m5=s2.m5 AND s1.m6=s2.m6 AND s1.m7=s2.m7
       |   AND s1.doc_id < s2.doc_id),
       |lsh AS (
       |  SELECT c.a, c.b FROM cand c
       |  JOIN inter x ON x.a = c.a AND x.b = c.b
       |  JOIN sizes sa ON sa.doc_id = c.a
       |  JOIN sizes sb ON sb.doc_id = c.b
       |  WHERE 2 * x.i >= sa.n + sb.n - x.i),
       |counts AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM exact) AS n_exact,
       |    (SELECT COUNT(*) FROM lsh) AS n_lsh,
       |    (SELECT COUNT(*) FROM exact e JOIN lsh l
       |       ON e.a = l.a AND e.b = l.b) AS n_both)
       |SELECT n_exact, n_lsh, n_both,
       |  CAST(CASE WHEN n_exact > 0
       |    THEN (1000000 * n_both) // n_exact ELSE -1 END AS BIGINT)
       |    AS recall_ppm,
       |  CAST(CASE WHEN n_lsh > 0
       |    THEN (1000000 * n_both) // n_lsh ELSE -1 END AS BIGINT)
       |    AS precision_ppm
       |FROM counts""".stripMargin
  }

  /** q281: outer stream-join replay — the batch left join restricted
    * to the resolved region (e_ts ≤ max(ts) − 2 h), where streaming
    * eviction has certainly emitted every null row. */
  private[graft] val q281 =
    """WITH e AS (
      |  SELECT event_id AS error_id, user_id AS eu, ts AS e_ts
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id AS pu, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |mx AS (
      |  SELECT LEAST(
      |    (SELECT MAX(ts) FROM events WHERE event_type = 'error'),
      |    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
      |    - INTERVAL 2 HOUR AS cutoff),
      |j AS (
      |  SELECT e.eu, e.error_id, p.purchase_id
      |  FROM e LEFT JOIN p ON e.eu = p.pu
      |    AND p.p_ts >= e.e_ts - INTERVAL 30 MINUTE
      |    AND p.p_ts <= e.e_ts
      |  WHERE e.e_ts <= (SELECT cutoff FROM mx))
      |SELECT eu AS user_id, COUNT(*) AS n_rows,
      |  COUNT(purchase_id) AS n_matched,
      |  CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unmatched
      |FROM j GROUP BY eu ORDER BY user_id""".stripMargin

  /** q292: full-outer stream-join replay — the batch FULL join
    * restricted to the per-side resolved region (e_ts for
    * error-bearing rows, p_ts for purchase-only rows, both ≤
    * min-side max(ts) − 2 h), where streaming eviction has certainly
    * emitted every null row on both sides. */
  private[graft] val q292 =
    """WITH e AS (
      |  SELECT event_id AS error_id, user_id AS eu, ts AS e_ts
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id AS pu, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |mx AS (
      |  SELECT LEAST(
      |    (SELECT MAX(ts) FROM events WHERE event_type = 'error'),
      |    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
      |    - INTERVAL 2 HOUR AS cutoff),
      |j AS (
      |  SELECT e.eu, p.pu, e.error_id, p.purchase_id, e.e_ts, p.p_ts
      |  FROM e FULL JOIN p ON e.eu = p.pu
      |    AND p.p_ts >= e.e_ts - INTERVAL 30 MINUTE
      |    AND p.p_ts <= e.e_ts)
      |SELECT COALESCE(eu, pu) AS user_id, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN error_id IS NOT NULL
      |    AND purchase_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_err_unmatched,
      |  CAST(SUM(CASE WHEN error_id IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purch_unmatched
      |FROM j
      |WHERE (e_ts IS NOT NULL AND e_ts <= (SELECT cutoff FROM mx))
      |   OR (e_ts IS NULL AND p_ts <= (SELECT cutoff FROM mx))
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  /** q282: lagged cross-stats replay — the q244 epoch-day rollup,
    * 8 shifted copies, join-on-existence sums in BIGINT casts. */
  private[graft] val q282 =
    """WITH d AS (
      |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT grp AS grp_b, k.v AS lag, day - k.v AS day, x AS y
      |  FROM d CROSS JOIN (SELECT range AS v FROM range(0, 8)) k)
      |SELECT a.grp AS type_a, l.grp_b AS type_b,
      |  CAST(l.lag AS INTEGER) AS lag,
      |  COUNT(*) AS n,
      |  CAST(SUM(a.x) AS BIGINT) AS sum_x,
      |  CAST(SUM(l.y) AS BIGINT) AS sum_y,
      |  CAST(SUM(a.x * l.y) AS BIGINT) AS sum_xy,
      |  CAST(SUM(a.x * a.x) AS BIGINT) AS sum_x2,
      |  CAST(SUM(l.y * l.y) AS BIGINT) AS sum_y2
      |FROM d a JOIN l ON a.day = l.day
      |GROUP BY 1, 2, 3
      |ORDER BY type_a, type_b, lag""".stripMargin

  /** q283: HLL-accuracy replay — q233's register arithmetic at
    * m = 16, the per-group stats, exact distincts, and the
    * alpha-corrected estimate with signed truncating err_ppm (both
    * engines' integer division truncates toward zero). */
  private[graft] val q283 = {
    val cascade = (1 to 24).map(r =>
      s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString("\n      |      ")
    s"""WITH h0 AS (
       |  SELECT l_returnflag,
       |    (CAST(l_partkey AS BIGINT) * 1000003 + 12345)
       |      % 1000000007 AS h1
       |  FROM lineitem),
       |h AS (
       |  SELECT l_returnflag, (h1 * h1 + 17) % 1000000007 AS hv
       |  FROM h0),
       |b AS (
       |  SELECT l_returnflag, hv % 16 AS register, hv // 16 AS w
       |  FROM h),
       |r AS (
       |  SELECT l_returnflag, register,
       |    MAX(CASE
       |      $cascade
       |      ELSE 25 END) AS max_rho
       |  FROM b GROUP BY 1, 2),
       |st AS (
       |  SELECT l_returnflag,
       |    COUNT(*) AS n_regs_set,
       |    CAST((16 - COUNT(*)) * 33554432
       |      + SUM(CAST(1 AS BIGINT) << (25 - max_rho))
       |      AS BIGINT) AS inv_sum
       |  FROM r GROUP BY 1),
       |ex AS (
       |  SELECT l_returnflag,
       |    COUNT(DISTINCT l_partkey) AS exact_distinct
       |  FROM lineitem GROUP BY 1)
       |SELECT ex.l_returnflag, ex.exact_distinct,
       |  st.n_regs_set, st.inv_sum,
       |  8589934592000 // st.inv_sum AS raw_est_milli,
       |  CAST((673 * (8589934592000 // st.inv_sum)) // 1000000
       |    AS BIGINT) AS est,
       |  CAST((1000000 *
       |    ((673 * (8589934592000 // st.inv_sum)) // 1000000
       |      - ex.exact_distinct)) // ex.exact_distinct AS BIGINT)
       |    AS err_ppm
       |FROM ex JOIN st USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** q284: cumulative-distinct replay — first-appearance days, daily
    * new counts, a per-group running sum. */
  private[graft] val q284 =
    """WITH f AS (
      |  SELECT event_type AS grp, user_id AS ent,
      |    MIN(epoch_us(ts) // 86400000000) AS first_day
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT grp, first_day AS day, COUNT(*) AS n_new
      |  FROM f GROUP BY 1, 2)
      |SELECT grp, day, n_new,
      |  CAST(SUM(n_new) OVER (PARTITION BY grp ORDER BY day)
      |    AS BIGINT) AS cum_distinct
      |FROM p ORDER BY grp, day""".stripMargin

  /** q287: exact KS replay — per-value rollup, cumulative window over
    * distinct values, max |cumA·nB − cumB·nA|. */
  /** q295: Mann–Whitney replay — q287's per-value (ca, cb) rollup,
    * cumulative-below-B window, doubled-U sum, identity-derived u2_b,
    * floor AUC ppm. */
  private[graft] val q295 =
    """WITH b AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS v,
      |    CASE WHEN year(o_orderdate) < 1995 THEN 1 ELSE 0 END AS a
      |  FROM orders),
      |r AS (
      |  SELECT grp, v, CAST(SUM(a) AS BIGINT) AS ca,
      |    CAST(SUM(1 - a) AS BIGINT) AS cb
      |  FROM b GROUP BY 1, 2),
      |w AS (
      |  SELECT grp, v, ca, cb,
      |    COALESCE(SUM(cb) OVER (PARTITION BY grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS cbp,
      |    SUM(ca) OVER (PARTITION BY grp) AS n_a,
      |    SUM(cb) OVER (PARTITION BY grp) AS n_b
      |  FROM r)
      |SELECT grp AS o_orderpriority,
      |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(SUM(ca * (2 * cbp + cb)) AS BIGINT) AS u2_a,
      |  CAST(2 * n_a * n_b - SUM(ca * (2 * cbp + cb)) AS BIGINT)
      |    AS u2_b,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0
      |    THEN (1000000 * SUM(ca * (2 * cbp + cb)))
      |      // (2 * n_a * n_b)
      |    ELSE -1 END AS BIGINT) AS auc_ppm
      |FROM w GROUP BY grp, n_a, n_b
      |ORDER BY o_orderpriority""".stripMargin

  private[graft] val q287 =
    """WITH b AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS v,
      |    CASE WHEN year(o_orderdate) < 1995 THEN 1 ELSE 0 END AS a
      |  FROM orders),
      |r AS (
      |  SELECT grp, v, CAST(SUM(a) AS BIGINT) AS ca,
      |    CAST(SUM(1 - a) AS BIGINT) AS cb
      |  FROM b GROUP BY 1, 2),
      |c AS (
      |  SELECT grp, v,
      |    CAST(SUM(ca) OVER (PARTITION BY grp ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
      |    CAST(SUM(cb) OVER (PARTITION BY grp ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
      |    CAST(SUM(ca) OVER (PARTITION BY grp) AS BIGINT) AS n_a,
      |    CAST(SUM(cb) OVER (PARTITION BY grp) AS BIGINT) AS n_b
      |  FROM r)
      |SELECT grp AS o_orderpriority, n_a, n_b,
      |  CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
      |  CAST(CASE WHEN n_a > 0 AND n_b > 0
      |    THEN (1000 * MAX(ABS(cum_a * n_b - cum_b * n_a)))
      |      // (n_a * n_b)
      |    ELSE -1 END AS BIGINT) AS ks_milli
      |FROM c GROUP BY grp, n_a, n_b
      |ORDER BY o_orderpriority""".stripMargin

  /** q288: Theil-Sen replay — daily rollup, pairwise slopes, lower
    * median under the (double slope, num, den) ordering; published
    * numbers all integer (both engines' integer division truncates). */
  private[graft] val q288 =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT i.event_type AS grp, (j.x - i.x) AS num,
      |    (j.day - i.day) AS den
      |  FROM d i JOIN d j
      |    ON i.event_type = j.event_type AND i.day < j.day),
      |r AS (
      |  SELECT grp, num, den,
      |    ROW_NUMBER() OVER (PARTITION BY grp
      |      ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
      |        num, den) AS rn,
      |    COUNT(*) OVER (PARTITION BY grp) AS n_pairs
      |  FROM p)
      |SELECT grp AS event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  num AS slope_num, den AS slope_den,
      |  CAST((1000 * num) // den AS BIGINT) AS slope_milli
      |FROM r WHERE rn = (n_pairs + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** q289: seasonal-anomaly replay — weekday floor-mean profile,
    * residuals, two lower medians via ROW_NUMBER (2·rn ≥ n), the
    * 3×MAD flag. */
  private[graft] val q289 =
    """WITH d AS (
      |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |dd AS (SELECT grp, day, x, (day + 4) % 7 AS dow FROM d),
      |prof AS (
      |  SELECT grp, dow, CAST(SUM(x) // COUNT(*) AS BIGINT) AS expected
      |  FROM dd GROUP BY 1, 2),
      |r AS (
      |  SELECT dd.grp, dd.day, dd.x, p.expected,
      |    dd.x - p.expected AS resid
      |  FROM dd JOIN prof p USING (grp, dow)),
      |med AS (
      |  SELECT grp, MIN(resid) AS resid_med FROM (
      |    SELECT grp, resid,
      |      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY resid) AS rn,
      |      COUNT(*) OVER (PARTITION BY grp) AS n
      |    FROM r)
      |  WHERE 2 * rn >= n GROUP BY grp),
      |a AS (
      |  SELECT r.grp, r.day, r.x, r.expected, r.resid, m.resid_med,
      |    ABS(r.resid - m.resid_med) AS absdev
      |  FROM r JOIN med m USING (grp)),
      |mad AS (
      |  SELECT grp, MIN(absdev) AS mad FROM (
      |    SELECT grp, absdev,
      |      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY absdev) AS rn,
      |      COUNT(*) OVER (PARTITION BY grp) AS n
      |    FROM a)
      |  WHERE 2 * rn >= n GROUP BY grp)
      |SELECT a.grp, a.day, a.x, a.expected, a.resid, a.resid_med,
      |  md.mad, a.absdev > 3 * md.mad AS is_anomaly
      |FROM a JOIN mad md USING (grp)
      |ORDER BY grp, day""".stripMargin

  /** q279: walk-corpus skip-gram PMI replay — adjacent pairs via the
    * (walk_id, step+1) self-join, q196's ratio_ppm publication. */
  private[graft] val q279 =
    s"""$walkCtes,
       |pairs AS (
       |  SELECT a.node AS w1, b.node AS w2
       |  FROM walks a JOIN walks b
       |    ON a.walk_id = b.walk_id AND b.step = a.step + 1),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS t_bi FROM c12),
       |uni AS (SELECT node, COUNT(*) AS c FROM walks GROUP BY node)
       |SELECT c12.w1, c12.w2, c12.c12,
       |  CAST((c12.c12 * tot.t_bi * 1000000)
       |    // (u1.c * u2.c) AS BIGINT) AS ratio_ppm
       |FROM c12
       |JOIN uni u1 ON u1.node = c12.w1
       |JOIN uni u2 ON u2.node = c12.w2
       |CROSS JOIN tot
       |ORDER BY w1, w2""".stripMargin

  /** q264: MMR replay — quantize16 vectors (the q229 idiom), vec 0 as
    * the query, 5 argmax rounds unrolled: round 1 scores λ·rel, later
    * rounds subtract (1000−λ)·max-dot against the selected set. */
  private[graft] val q264 = {
    def dot(a: String, b: String) =
      s"CAST(list_aggregate(list_transform(range(1, 65), " +
        s"i -> $a[i] * $b[i]), 'sum') AS BIGINT)"
    val rounds = (2 to 5).map { r =>
      s"""g$r AS (
         |  SELECT c.vec_id, c.q, c.rel,
         |    700 * c.rel - 300 * MAX(${dot("c.q", "s.q")}) AS score
         |  FROM rel c CROSS JOIN sel${r - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  GROUP BY c.vec_id, c.q, c.rel),
         |p$r AS (
         |  SELECT vec_id, q, rel, score FROM g$r
         |  ORDER BY score DESC, vec_id ASC LIMIT 1),
         |sel$r AS (
         |  SELECT vec_id, q FROM sel${r - 1}
         |  UNION ALL SELECT vec_id, q FROM p$r)""".stripMargin
    }.mkString(",\n")
    val emit = (1 to 5).map(r =>
      s"SELECT $r AS rank, vec_id, rel, CAST(score AS BIGINT) " +
        s"AS score_milli FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |qry AS (SELECT q FROM qv WHERE vec_id = 0),
       |rel AS (
       |  SELECT c.vec_id, c.q, ${dot("c.q", "y.q")} AS rel
       |  FROM qv c CROSS JOIN qry y WHERE c.vec_id <> 0),
       |p1 AS (
       |  SELECT vec_id, q, rel, 700 * rel AS score FROM rel
       |  ORDER BY score DESC, vec_id ASC LIMIT 1),
       |sel1 AS (SELECT vec_id, q FROM p1),
       |$rounds
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel, score_milli
       |FROM ($emit)
       |ORDER BY rank""".stripMargin
  }

  /** q265: color-JPEG replay — q256's block grid with a per-parity
    * branch: even ids flat gray (r=g=b=2·dc+128), odd ids flat
    * Y/Cb/Cr planes through the decoder's 16-bit fixed-point BT.601
    * (BIGINT arithmetic >> 16 — DuckDB's >> floors like Java's;
    * its // truncates and would be wrong on negative chroma terms),
    * clamps included. Gray luma falls out of the same 77/150/29 >> 8
    * formula since r=g=b. */
  private[graft] val q265 =
    """WITH ids AS (
      |  SELECT doc_id,
      |    1 + doc_id % 3 AS wb,
      |    1 + (doc_id // 3) % 3 AS hb,
      |    doc_id % 2 AS prof
      |  FROM documents),
      |raw AS (
      |  SELECT i.doc_id, bx.v AS bx, byy.v AS byy, i.wb, i.hb, i.prof,
      |    2 * (((5 * bx.v + 7 * byy.v + 3 * i.doc_id) % 64) - 32)
      |      + 128 AS yv,
      |    2 * (((3 * bx.v + 11 * byy.v + i.doc_id) % 64) - 32) AS cb2,
      |    2 * (((7 * bx.v + 5 * byy.v + 2 * i.doc_id) % 64) - 32) AS cr2
      |  FROM ids i
      |  JOIN (SELECT range AS v FROM range(0, 3)) bx ON bx.v < i.wb
      |  JOIN (SELECT range AS v FROM range(0, 3)) byy ON byy.v < i.hb),
      |blk AS (
      |  SELECT doc_id, bx, byy, wb, hb,
      |    CASE WHEN prof = 0 THEN yv
      |      ELSE LEAST(255, GREATEST(0, yv +
      |        (CAST(91881 * cr2 + 32768 AS BIGINT) >> 16))) END AS r,
      |    CASE WHEN prof = 0 THEN yv
      |      ELSE LEAST(255, GREATEST(0, yv -
      |        (CAST(22554 * cb2 + 46802 * cr2 + 32768 AS BIGINT)
      |          >> 16))) END AS g,
      |    CASE WHEN prof = 0 THEN yv
      |      ELSE LEAST(255, GREATEST(0, yv +
      |        (CAST(116130 * cb2 + 32768 AS BIGINT) >> 16))) END AS b
      |  FROM raw),
      |lm AS (
      |  SELECT doc_id, bx, byy, wb, hb, r, g, b,
      |    (CAST(77 * r + 150 * g + 29 * b AS BIGINT) >> 8) AS luma
      |  FROM blk),
      |px AS (
      |  SELECT doc_id,
      |    CAST(SUM(64 * r) AS BIGINT) AS sum_r,
      |    CAST(SUM(64 * g) AS BIGINT) AS sum_g,
      |    CAST(SUM(64 * b) AS BIGINT) AS sum_b
      |  FROM lm GROUP BY doc_id),
      |rl AS (
      |  SELECT i.doc_id, CAST(SUM(l.luma) AS BIGINT) AS rls
      |  FROM ids i
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) tx
      |  CROSS JOIN (SELECT range AS v FROM range(0, 4)) ty
      |  JOIN lm l ON l.doc_id = i.doc_id
      |    AND l.bx = ((tx.v * (8 * i.wb)) // 4) // 8
      |    AND l.byy = ((ty.v * (8 * i.hb)) // 4) // 8
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(8 * i.wb AS BIGINT) AS width,
      |  CAST(8 * i.hb AS BIGINT) AS height,
      |  px.sum_r, px.sum_g, px.sum_b,
      |  rl.rls AS resized_luma_sum, TRUE AS decoded
      |FROM ids i JOIN px USING (doc_id) JOIN rl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q244: seasonal-naive MASE replay — integer epoch-day rollup,
    * join-on-existence lags (calendar gaps drop out of both sums),
    * ppm DIV publication. */
  private[graft] val q244 =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT d.event_type, d.day, d.x, s.x AS x_season, p.x AS x_prev
      |  FROM d
      |  LEFT JOIN d s ON s.event_type = d.event_type
      |    AND s.day = d.day - 7
      |  LEFT JOIN d p ON p.event_type = d.event_type
      |    AND p.day = d.day - 1)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(COUNT(x_season) AS BIGINT) AS n_seasonal,
      |  CAST(COUNT(x_prev) AS BIGINT) AS n_naive,
      |  CAST(SUM(ABS(x - x_season)) AS BIGINT) AS seasonal_abs_err,
      |  CAST(SUM(ABS(x - x_prev)) AS BIGINT) AS naive_abs_err,
      |  CAST(CASE WHEN SUM(ABS(x - x_prev)) > 0 AND COUNT(x_season) > 0
      |    THEN 1000000 * SUM(ABS(x - x_season)) * COUNT(x_prev)
      |         // (COUNT(x_season) * SUM(ABS(x - x_prev)))
      |    ELSE NULL END AS BIGINT) AS mase_ppm
      |FROM j GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q245: CUSUM drift replay — per-type prefix sums of (x − floor
    * mean) with running extrema windows, integer alarms. */
  private[graft] val q245 =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |k AS (
      |  SELECT event_type, SUM(x) // COUNT(*) AS k
      |  FROM d GROUP BY event_type),
      |c AS (
      |  SELECT d.event_type, d.day, d.x, k.k,
      |    SUM(d.x - k.k) OVER w AS p
      |  FROM d JOIN k USING (event_type)
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT event_type, day, x, k,
      |    p - MIN(p) OVER w AS cusum_pos,
      |    MAX(p) OVER w - p AS cusum_neg
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, CAST(day AS BIGINT) AS day, x,
      |  CAST(cusum_pos AS BIGINT) AS cusum_pos,
      |  CAST(cusum_neg AS BIGINT) AS cusum_neg,
      |  cusum_pos > 4 * greatest(k, 1) AS alarm_pos,
      |  cusum_neg > 4 * greatest(k, 1) AS alarm_neg
      |FROM s ORDER BY event_type, day""".stripMargin

  /** q243: count-min register replay — the q233 PRF family with
    * per-row affine constants, one quadratic round per sketch row,
    * exact bucket counts. */
  private[graft] val q243 =
    """WITH k AS (
      |  SELECT l_returnflag, CAST(l_partkey AS BIGINT) AS k
      |  FROM lineitem),
      |e AS (
      |  SELECT l_returnflag, j.v AS sketch_row,
      |    ((((k * (1000003 + 97 * j.v) + (12345 + 1013 * j.v))
      |        % 1000000007)
      |      * ((k * (1000003 + 97 * j.v) + (12345 + 1013 * j.v))
      |        % 1000000007)
      |      + (17 + 29 * j.v)) % 1000000007) % 64 AS bucket
      |  FROM k CROSS JOIN (SELECT range AS v FROM range(0, 4)) j)
      |SELECT l_returnflag, CAST(sketch_row AS INTEGER) AS sketch_row,
      |  CAST(bucket AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM e GROUP BY 1, 2, 3
      |ORDER BY l_returnflag, sketch_row, bucket""".stripMargin

  private[graft] val q233 = {
    val cascade = (1 to 24).map(r =>
      s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString("\n      |      ")
    s"""WITH h0 AS (
       |  SELECT l_returnflag,
       |    (CAST(l_partkey AS BIGINT) * 1000003 + 12345)
       |      % 1000000007 AS h1
       |  FROM lineitem),
       |h AS (
       |  SELECT l_returnflag,
       |    (h1 * h1 + 17) % 1000000007 AS hv
       |  FROM h0),
       |b AS (
       |  SELECT l_returnflag, hv % 64 AS register, hv // 64 AS w
       |  FROM h),
       |r AS (
       |  SELECT l_returnflag, register,
       |    CASE
       |      $cascade
       |      ELSE 25 END AS rho
       |  FROM b)
       |SELECT l_returnflag, CAST(register AS BIGINT) AS register,
       |  CAST(MAX(rho) AS BIGINT) AS max_rho
       |FROM r GROUP BY 1, 2
       |ORDER BY l_returnflag, register""".stripMargin
  }

  /** q234: confusable-skeleton replay — the same paired fold table
    * (shared Scala literals), translate + per-char membership count. */
  private[graft] val q234 = {
    val conf = TextAnalysis.confusables
    val lat = TextAnalysis.latinFor
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ''), c ->
       |    list_contains(string_split('$conf', ''), c)))
       |    AS BIGINT) AS n_confusables,
       |  translate(text, '$conf', '$lat') AS skeleton,
       |  len(list_filter(string_split(text, ''), c ->
       |    list_contains(string_split('$conf', ''), c))) > 0
       |    AND regexp_matches(text, '[A-Za-z]') AS suspicious
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q235: padding-audit replay — ROW_NUMBER over (len, doc_id),
    * batch = (pos−1)//32, exact integer waste per batch. */
  private[graft] val q235 =
    """WITH l AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS len
      |  FROM documents),
      |p AS (
      |  SELECT len,
      |    (ROW_NUMBER() OVER (ORDER BY len, doc_id) - 1) // 32 AS batch
      |  FROM l),
      |b AS (
      |  SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(max(len) AS BIGINT) AS max_len,
      |    CAST(sum(len) AS BIGINT) AS sum_len
      |  FROM p GROUP BY batch)
      |SELECT CAST(batch AS BIGINT) AS batch, n_docs, max_len, sum_len,
      |  n_docs * max_len - sum_len AS padding,
      |  CAST(CASE WHEN n_docs * max_len > 0
      |    THEN 1000000 * (n_docs * max_len - sum_len)
      |      // (n_docs * max_len)
      |    ELSE 0 END AS BIGINT) AS padding_ppm
      |FROM b ORDER BY batch""".stripMargin

  /** q236: HITS replay — both ppm power iterations unrolled as CTEs
    * (join-sum on one endpoint, left-join zero-fill, truncating
    * sum-normalization), the q102 convention. */
  private[graft] val q236 = {
    def round(i: Int, prevH: String): String =
      s"""a${i}r AS (
         |  SELECT e.dst AS node, CAST(SUM(p.h) AS BIGINT) AS a
         |  FROM edges e JOIN $prevH p ON p.node = e.src
         |  GROUP BY e.dst),
         |a${i}f AS (
         |  SELECT n.node, COALESCE(a${i}r.a, 0) AS a
         |  FROM nodes n LEFT JOIN a${i}r USING (node)),
         |a$i AS (
         |  SELECT node, CAST(CASE WHEN t.t > 0
         |    THEN 1000000 * a // t.t ELSE 0 END AS BIGINT) AS a
         |  FROM a${i}f, (SELECT SUM(a) AS t FROM a${i}f) t),
         |h${i}r AS (
         |  SELECT e.src AS node, CAST(SUM(q.a) AS BIGINT) AS h
         |  FROM edges e JOIN a$i q ON q.node = e.dst
         |  GROUP BY e.src),
         |h${i}f AS (
         |  SELECT n.node, COALESCE(h${i}r.h, 0) AS h
         |  FROM nodes n LEFT JOIN h${i}r USING (node)),
         |h$i AS (
         |  SELECT node, CAST(CASE WHEN t.t > 0
         |    THEN 1000000 * h // t.t ELSE 0 END AS BIGINT) AS h
         |  FROM h${i}f, (SELECT SUM(h) AS t FROM h${i}f) t)"""
        .stripMargin
    s"""WITH edges AS (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges
       |    UNION SELECT dst FROM edges)),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |${round(1, "h0")},
       |${round(2, "h1")}
       |SELECT n.node AS nationkey, a2.a AS authority_ppm,
       |  h2.h AS hub_ppm
       |FROM nodes n
       |JOIN a2 ON a2.node = n.node
       |JOIN h2 ON h2.node = n.node
       |ORDER BY nationkey""".stripMargin
  }

  /** q237: data-card replay — one aggregate row unpivoted by UNION
    * ALL of literal-metric selects. */
  private[graft] val q237 =
    """WITH t AS (
      |  SELECT
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS n_toks,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    lang, source, lower(text) AS norm
      |  FROM documents),
      |a AS (
      |  SELECT
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(sum(CASE WHEN n_toks = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_empty_docs,
      |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    CAST(count(DISTINCT norm) AS BIGINT) AS distinct_texts,
      |    CAST(max(n_toks) AS BIGINT) AS max_tokens,
      |    CAST(min(n_toks) AS BIGINT) AS min_tokens
      |  FROM t)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
      |  UNION ALL SELECT 'n_sources', n_sources FROM a
      |  UNION ALL SELECT 'n_langs', n_langs FROM a
      |  UNION ALL SELECT 'n_empty_docs', n_empty_docs FROM a
      |  UNION ALL SELECT 'total_tokens', total_tokens FROM a
      |  UNION ALL SELECT 'total_chars', total_chars FROM a
      |  UNION ALL SELECT 'distinct_texts', distinct_texts FROM a
      |  UNION ALL SELECT 'max_tokens', max_tokens FROM a
      |  UNION ALL SELECT 'min_tokens', min_tokens FROM a
      |  UNION ALL SELECT 'exact_dup_docs', n_docs - distinct_texts
      |    FROM a
      |  UNION ALL SELECT 'mean_tokens_ppm',
      |    CAST(CASE WHEN n_docs > 0
      |      THEN 1000000 * total_tokens // n_docs
      |      ELSE 0 END AS BIGINT) FROM a)
      |ORDER BY metric""".stripMargin

  /** q320: KMV/Theta set-op replay — the same char-fold→affine PRF,
    * bottom-32 per source, merged bottom-32 per pair, and the Beyer
    * 2007 estimators ((k−1)·P div U_(k); ρ = matches/k) recomputed
    * verbatim; exact audit columns from the distinct token sets. */
  private[graft] val q320 =
    """WITH el AS (
      |  SELECT DISTINCT source, w AS tok
      |  FROM documents,
      |    UNNEST(list_filter(string_split(lower(text), ' '),
      |      x -> x <> '')) u(w)),
      |hs AS (
      |  SELECT DISTINCT source,
      |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
      |     * 131 + 17) % 1000000007 AS h
      |  FROM el),
      |rk AS (SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |  FROM hs),
      |nh AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hash
      |  FROM hs GROUP BY 1),
      |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
      |  FROM el GROUP BY 1),
      |sk AS (SELECT source, h, r FROM rk WHERE r <= 32),
      |est AS (
      |  SELECT n.source, e.n_exact,
      |    CASE WHEN n.n_hash < 32 THEN n.n_hash
      |         ELSE 31000000217 // k.h END AS est
      |  FROM nh n
      |  LEFT JOIN (SELECT source, h FROM sk WHERE r = 32) k
      |    ON k.source = n.source
      |  JOIN ex e ON e.source = n.source),
      |pr AS (SELECT a.source AS sa, b.source AS sb
      |  FROM (SELECT DISTINCT source FROM el) a,
      |       (SELECT DISTINCT source FROM el) b
      |  WHERE a.source < b.source),
      |tg AS (
      |  SELECT sa, sb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
      |    SELECT p.sa, p.sb, s.h, 1 AS ia, 0 AS ib
      |    FROM pr p JOIN sk s ON s.source = p.sa
      |    UNION ALL
      |    SELECT p.sa, p.sb, s.h, 0, 1
      |    FROM pr p JOIN sk s ON s.source = p.sb)
      |  GROUP BY 1, 2, 3),
      |mr AS (SELECT sa, sb, h, ia, ib,
      |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
      |  FROM tg),
      |mu AS (
      |  SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_merged,
      |    MAX(CASE WHEN r = 32 THEN h END) AS hk,
      |    CAST(SUM(ia * ib) AS BIGINT) AS matches
      |  FROM mr WHERE r <= 32 GROUP BY 1, 2),
      |uo AS (
      |  SELECT sa, sb, matches, n_merged,
      |    CASE WHEN n_merged < 32 THEN n_merged
      |         ELSE 31000000217 // hk END AS est_union,
      |    CASE WHEN n_merged < 32 THEN (matches * 1000000) // n_merged
      |         ELSE (matches * 1000000) // 32 END AS jaccard_est_ppm
      |  FROM mu),
      |ep AS (
      |  SELECT sa, sb, CAST(count(*) AS BIGINT) AS exact_union,
      |    CAST(SUM(ia * ib) AS BIGINT) AS exact_inter FROM (
      |    SELECT sa, sb, tok, MAX(ia) AS ia, MAX(ib) AS ib FROM (
      |      SELECT p.sa, p.sb, e.tok, 1 AS ia, 0 AS ib
      |      FROM pr p JOIN el e ON e.source = p.sa
      |      UNION ALL
      |      SELECT p.sa, p.sb, e.tok, 0, 1
      |      FROM pr p JOIN el e ON e.source = p.sb)
      |    GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2)
      |SELECT u.sa, u.sb, ea.n_exact AS exact_a,
      |  CAST(ea.est AS BIGINT) AS est_a,
      |  eb.n_exact AS exact_b, CAST(eb.est AS BIGINT) AS est_b,
      |  p.exact_union, CAST(u.est_union AS BIGINT) AS est_union,
      |  p.exact_inter,
      |  CAST(CASE WHEN u.n_merged < 32
      |    THEN (u.matches * u.est_union) // u.n_merged
      |    ELSE (u.matches * u.est_union) // 32 END AS BIGINT)
      |    AS est_inter,
      |  CAST(u.jaccard_est_ppm AS BIGINT) AS jaccard_est_ppm
      |FROM uo u
      |JOIN ep p ON p.sa = u.sa AND p.sb = u.sb
      |JOIN est ea ON ea.source = u.sa
      |JOIN est eb ON eb.source = u.sb
      |ORDER BY u.sa, u.sb""".stripMargin

  /** q321: FM-count BY THEOREM — the oracle never builds an index: it
    * re-derives the same top-4-bigram/top-trigram pattern set
    * (count desc, pattern asc) and counts occurrences NAIVELY from
    * unnested token positions; backward search must agree exactly. */
  private[graft] val q321 =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    x -> x <> '') AS ws
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, ws[u.i] AS t1, ws[u.i + 1] AS t2,
      |    ws[u.i + 2] AS t3
      |  FROM w, UNNEST(range(1, len(ws) + 1)) u(i)),
      |big AS (SELECT t1 || ' ' || t2 AS pattern, count(*) AS c
      |  FROM pos WHERE t2 IS NOT NULL GROUP BY 1),
      |top4 AS (SELECT pattern FROM big
      |  ORDER BY c DESC, pattern LIMIT 4),
      |tri AS (SELECT t1 || ' ' || t2 || ' ' || t3 AS pattern,
      |    count(*) AS c
      |  FROM pos WHERE t3 IS NOT NULL GROUP BY 1
      |  ORDER BY c DESC, pattern LIMIT 1),
      |pats AS (SELECT pattern FROM top4
      |  UNION ALL SELECT pattern FROM tri
      |  UNION ALL SELECT 'zzabsent zzabsent'),
      |hits AS (
      |  SELECT p.pattern, s.doc_id, count(*) AS cnt
      |  FROM pats p JOIN pos s
      |    ON (s.t2 IS NOT NULL AND s.t1 || ' ' || s.t2 = p.pattern)
      |    OR (s.t3 IS NOT NULL
      |        AND s.t1 || ' ' || s.t2 || ' ' || s.t3 = p.pattern)
      |  GROUP BY 1, 2)
      |SELECT p.pattern,
      |  CAST(COALESCE(count(h.doc_id), 0) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(SUM(h.cnt), 0) AS BIGINT) AS n_occ
      |FROM pats p LEFT JOIN hits h ON h.pattern = p.pattern
      |GROUP BY 1 ORDER BY p.pattern""".stripMargin

  /** q322: CUPED replay — identical moment sums (HUGEINT for the
    * cross products, mirroring the engine's decimal(38,0)), identical
    * PRF arm split, identical single-floor rationals; `//` and
    * Spark's `div` both truncate toward zero, so every published
    * integer matches bit-for-bit. */
  private[graft] val q322 =
    """WITH per AS (
      |  SELECT o_custkey AS u,
      |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
      |      THEN CAST(floor(o_totalprice) AS BIGINT) ELSE 0 END) AS x,
      |    SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
      |      THEN CAST(floor(o_totalprice) AS BIGINT) ELSE 0 END) AS y
      |  FROM orders GROUP BY 1),
      |pop AS (
      |  SELECT c.c_custkey AS u,
      |    ((c.c_custkey * 1000003 + 12345) % 1000000007) % 2 AS arm,
      |    CAST(COALESCE(p.x, 0) AS BIGINT) AS x,
      |    CAST(COALESCE(p.y, 0) AS BIGINT) AS y
      |  FROM customer c LEFT JOIN per p ON p.u = c.c_custkey),
      |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(x * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(y * y) AS HUGEINT) AS syy
      |  FROM pop),
      |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
      |    CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
      |  FROM pop GROUP BY 1)
      |SELECT CAST(a.arm AS BIGINT) AS arm, a.na AS n_units,
      |  a.sxa AS sum_x, a.sya AS sum_y,
      |  CAST((100 * a.sya) // a.na AS BIGINT) AS mean_y_centi,
      |  CAST((100 * (CAST(a.sya AS HUGEINT)
      |        * (g.n * g.sxx - g.sx * g.sx) * g.n
      |      - (g.n * g.sxy - g.sx * g.sy)
      |        * (CAST(a.sxa AS HUGEINT) * g.n
      |           - g.sx * CAST(a.na AS HUGEINT))))
      |     // ((g.n * g.sxx - g.sx * g.sx)
      |        * CAST(a.na AS HUGEINT) * g.n) AS BIGINT)
      |    AS mean_adj_centi,
      |  CAST((1000 * (g.n * g.sxy - g.sx * g.sy))
      |     // (g.n * g.sxx - g.sx * g.sx) AS BIGINT) AS theta_milli,
      |  CAST(((1000000 * (g.n * g.sxy - g.sx * g.sy))
      |       // (g.n * g.sxx - g.sx * g.sx)
      |       * (g.n * g.sxy - g.sx * g.sy))
      |     // (g.n * g.syy - g.sy * g.sy) AS BIGINT) AS rho2_ppm
      |FROM a, g ORDER BY arm""".stripMargin

  /** q323: FD-audit replay — the identical two-level aggregation per
    * candidate (distinct pairs → per-group n_y/rows/max → rollup),
    * g₃ and ppm by the same integer divisions. */
  private def fdBlock(name: String, table: String, lhs: String,
                      rhs: String): String =
    s"""SELECT '$name' AS fd, n_rows, n_groups, n_violating, excess,
       |  g3, CAST((1000000 * g3) // n_rows AS BIGINT) AS g3_ppm
       |FROM (
       |  SELECT CAST(SUM(rws) AS BIGINT) AS n_rows,
       |    CAST(COUNT(*) AS BIGINT) AS n_groups,
       |    CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_violating,
       |    CAST(SUM(n_y - 1) AS BIGINT) AS excess,
       |    CAST(SUM(rws - maxc) AS BIGINT) AS g3
       |  FROM (
       |    SELECT x, COUNT(*) AS n_y, SUM(c) AS rws, MAX(c) AS maxc
       |    FROM (
       |      SELECT $lhs AS x, $rhs AS y, COUNT(*) AS c
       |      FROM $table GROUP BY 1, 2)
       |    GROUP BY x))""".stripMargin

  private[graft] val q323 = Seq(
      ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"),
      ("part.p_type->p_brand", "part", "p_type", "p_brand"),
      ("part.p_size->p_brand", "part", "p_size", "p_brand"),
      ("supplier.s_nationkey->s_name", "supplier",
        "s_nationkey", "s_name"),
      ("customer.c_nationkey->c_mktsegment", "customer",
        "c_nationkey", "c_mktsegment"),
      ("orders.o_custkey->o_orderpriority", "orders",
        "o_custkey", "o_orderpriority"))
    .map { case (n, t, l, r) => fdBlock(n, t, l, r) }
    .mkString("", "\nUNION ALL\n", "\nORDER BY fd")

  /** q324: Holt replay — the milli fixed-point recursion walked by a
    * recursive CTE over the rn-ordered daily rollup; `//` and the
    * engine's exact power-of-two double division both truncate
    * toward zero, so negative trends agree. */
  private[graft] val q324 =
    """WITH RECURSIVE d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |o AS (
      |  SELECT event_type, y,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY day) AS rn
      |  FROM d),
      |nd AS (SELECT event_type, MAX(rn) AS n_days FROM o GROUP BY 1),
      |r AS (
      |  SELECT event_type, 1 AS rn, 1000 * y AS s,
      |    CAST(0 AS BIGINT) AS b
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.event_type, r.rn + 1,
      |    (1000 * o.y + 3 * (r.s + r.b)) // 4,
      |    (((1000 * o.y + 3 * (r.s + r.b)) // 4) - r.s + 3 * r.b) // 4
      |  FROM r JOIN o ON o.event_type = r.event_type
      |    AND o.rn = r.rn + 1)
      |SELECT r.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
      |  CAST(r.s AS BIGINT) AS level_milli,
      |  CAST(r.b AS BIGINT) AS trend_milli,
      |  CAST(r.s + r.b AS BIGINT) AS forecast_milli
      |FROM r JOIN nd ON nd.event_type = r.event_type
      |  AND r.rn = nd.n_days
      |ORDER BY r.event_type""".stripMargin

  /** q325: truss-profile replay — the q308 balance-graph fragment,
    * then 8 unrolled peel rounds: per round, each edge's support is
    * its common-neighbor count over the symmetrized survivor set,
    * and survivors need support ≥ k−2 = 2. Converged rounds replay
    * to identical sets, publishing the same zero removals the engine
    * short-circuits to. */
  private[graft] val q325 = {
    val rounds = (0 until 8).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM e$r
         |  UNION ALL SELECT v, u FROM e$r),
         |sup$r AS MATERIALIZED (
         |  SELECT e.u, e.v, COUNT(*) AS c
         |  FROM e$r e
         |  JOIN s$r s1 ON s1.a = e.u
         |  JOIN s$r s2 ON s2.a = e.v AND s2.b = s1.b
         |  GROUP BY e.u, e.v),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$r e
         |  JOIN sup$r s ON s.u = e.u AND s.v = e.v AND s.c >= 2)"""
        .stripMargin
    }.mkString(",\n")
    val prof = (1 to 8).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  CAST((SELECT COUNT(*) FROM e${r - 1})
         |    - (SELECT COUNT(*) FROM e$r) AS BIGINT) AS n_removed,
         |  CAST((SELECT COUNT(*) FROM e$r) AS BIGINT) AS n_remaining"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cust AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS ck, c_nationkey,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS balc
       |  FROM customer),
       |ld AS (
       |  SELECT c_nationkey, ck, balc,
       |    LEAD(ck, 1) OVER w AS ck1,
       |    LEAD(ck, 2) OVER w AS ck2,
       |    LEAD(ck, 3) OVER w AS ck3
       |  FROM cust
       |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY balc, ck)),
       |eraw AS (
       |  SELECT ck AS u, ck1 AS v FROM ld WHERE ck1 IS NOT NULL
       |  UNION ALL
       |  SELECT ck, ck2 FROM ld WHERE ck2 IS NOT NULL
       |  UNION ALL
       |  SELECT ck, ck3 FROM ld WHERE ck3 IS NOT NULL),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
       |  FROM eraw WHERE u <> v),
       |$rounds
       |$prof
       |ORDER BY round""".stripMargin
  }

  /** q326: VARIANT replay — DuckDB's json_extract over the same
    * props column; typed long extraction matches variant_get. */
  private[graft] val q326 =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_missing
      |FROM (
      |  SELECT event_type,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q327: TPC-H Q5 replay — identical join topology and the exact
    * centi × (100 − discount-centi) integer revenue. */
  private[graft] val q327 =
    """SELECT n.n_name,
      |  CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |    AS BIGINT) AS revenue_c4,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  AND s.s_nationkey = c.c_nationkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |  AND r.r_name = 'ASIA'
      |GROUP BY n.n_name
      |ORDER BY revenue_c4 DESC, n.n_name""".stripMargin

  /** q328: TPC-H Q18 replay — grouped-quantity HAVING, join back,
    * deterministic (qty desc, orderkey) top-100. */
  private[graft] val q328 =
    """WITH q AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |      AS qty_c
      |  FROM lineitem GROUP BY 1 HAVING qty_c > 30000)
      |SELECT o.o_custkey AS c_custkey, o.o_orderkey, q.qty_c,
      |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c
      |FROM orders o JOIN q ON q.l_orderkey = o.o_orderkey
      |ORDER BY q.qty_c DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** q329: audio-WHT replay — the synthetic PCM closed form
    * ((17i + 3·id) mod 2001 − 1000, the q304 convention) through the
    * 64-term WHT definition sum; the engine's butterfly computes the
    * same integers off the REAL decoded WAV bytes. */
  private[graft] val q329 =
    """WITH ids AS (SELECT doc_id AS id FROM documents),
      |s AS (
      |  SELECT id, t.i AS i, ((17 * t.i + 3 * id) % 2001) - 1000 AS v
      |  FROM ids, UNNEST(range(0, 64)) t(i)),
      |w AS (
      |  SELECT id, u.u AS u,
      |    SUM(CASE WHEN bit_count(u.u & s.i) % 2 = 1
      |      THEN -v ELSE v END) AS wv
      |  FROM s, UNNEST(range(0, 64)) u(u) GROUP BY 1, 2)
      |SELECT id AS doc_id, CAST(u // 8 AS BIGINT) AS band,
      |  CAST(SUM(wv * wv) AS BIGINT) AS energy
      |FROM w GROUP BY 1, 2 ORDER BY doc_id, band""".stripMargin

  /** q330: Sobel replay — closed-form raster at native size, 77/150/29
    * luma, the 3×3 kernels as one windowed neighbor join. */
  private[graft] val q330 =
    """WITH dims AS (
      |  SELECT doc_id AS id, 8 + doc_id % 9 AS w,
      |    8 + (3 * doc_id) % 9 AS h
      |  FROM documents),
      |lum AS (
      |  SELECT id, X.x AS x, Y.y AS y, w, h,
      |    (77 * ((7 * X.x + id) % 256)
      |     + 150 * ((11 * Y.y + 2 * id) % 256)
      |     + 29 * ((X.x + Y.y + 3 * id) % 256)) // 256 AS g
      |  FROM dims, UNNEST(range(0, 16)) X(x), UNNEST(range(0, 16)) Y(y)
      |  WHERE X.x < w AND Y.y < h),
      |sob AS (
      |  SELECT c.id, c.x, c.y,
      |    SUM(CASE n.x - c.x
      |      WHEN 1 THEN (CASE WHEN n.y = c.y THEN 2 ELSE 1 END) * n.g
      |      WHEN -1 THEN -(CASE WHEN n.y = c.y THEN 2 ELSE 1 END) * n.g
      |      ELSE 0 END) AS gx,
      |    SUM(CASE n.y - c.y
      |      WHEN 1 THEN (CASE WHEN n.x = c.x THEN 2 ELSE 1 END) * n.g
      |      WHEN -1 THEN -(CASE WHEN n.x = c.x THEN 2 ELSE 1 END) * n.g
      |      ELSE 0 END) AS gy
      |  FROM lum c JOIN lum n ON n.id = c.id
      |    AND abs(n.x - c.x) <= 1 AND abs(n.y - c.y) <= 1
      |  WHERE c.x >= 1 AND c.x < c.w - 1 AND c.y >= 1
      |    AND c.y < c.h - 1
      |  GROUP BY 1, 2, 3)
      |SELECT id AS doc_id, TRUE AS decoded,
      |  CAST(COUNT(*) AS BIGINT) AS n_interior,
      |  CAST(SUM(abs(gx) + abs(gy)) AS BIGINT) AS sum_mag,
      |  CAST(SUM(CASE WHEN abs(gx) + abs(gy) > 600 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_strong,
      |  CAST(MAX(abs(gx) + abs(gy)) AS BIGINT) AS max_mag
      |FROM sob GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** q331: item-item CF replay — co-occurrence candidates, the same
    * single-floor cos²-ppm, the same (score desc, nbr asc) top-3. */
  private[graft] val q331 =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      |  FROM lineitem),
      |np AS (SELECT it, COUNT(*) AS n FROM bi GROUP BY 1),
      |co AS (
      |  SELECT a.it AS a, b.it AS b, CAST(COUNT(*) AS BIGINT) AS co
      |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sc AS (
      |  SELECT co.a, co.b, co.co,
      |    (1000000 * co.co * co.co) // (na.n * nb.n) AS cos2_ppm
      |  FROM co JOIN np na ON na.it = co.a JOIN np nb ON nb.it = co.b),
      |dir AS (
      |  SELECT a AS item, b AS nbr, co, cos2_ppm FROM sc
      |  UNION ALL
      |  SELECT b, a, co, cos2_ppm FROM sc),
      |rk AS (
      |  SELECT item, nbr, co, cos2_ppm,
      |    row_number() OVER (PARTITION BY item
      |      ORDER BY cos2_ppm DESC, nbr ASC) AS rk
      |  FROM dir)
      |SELECT item, CAST(rk AS BIGINT) AS rk, nbr, co,
      |  CAST(cos2_ppm AS BIGINT) AS cos2_ppm
      |FROM rk WHERE rk <= 3 ORDER BY item, rk""".stripMargin

  /** q332: sequential-pattern replay — the same (ts, event_id)
    * positional order, the same first/last-occurrence containment
    * reductions, exact ppm support. */
  private[graft] val q332 =
    """WITH pos AS (
      |  SELECT user_id AS u, event_type AS t,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS p
      |  FROM events WHERE value >= 150.0),
      |n AS (SELECT COUNT(DISTINCT u) AS n FROM pos),
      |ends AS (
      |  SELECT u, t, MIN(p) AS fp, MAX(p) AS lp
      |  FROM pos GROUP BY 1, 2),
      |l1 AS (
      |  SELECT t AS pattern, CAST(1 AS BIGINT) AS len,
      |    CAST(COUNT(DISTINCT u) AS BIGINT) AS n_entities
      |  FROM ends GROUP BY 1),
      |l2 AS (
      |  SELECT a.t || '>' || b.t AS pattern, CAST(2 AS BIGINT) AS len,
      |    CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_entities
      |  FROM ends a JOIN ends b ON a.u = b.u AND a.fp < b.lp
      |  GROUP BY 1),
      |l3 AS (
      |  SELECT a.t || '>' || m.t || '>' || c.t AS pattern,
      |    CAST(3 AS BIGINT) AS len,
      |    CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_entities
      |  FROM ends a
      |  JOIN ends c ON c.u = a.u
      |  JOIN pos m ON m.u = a.u AND m.p > a.fp AND m.p < c.lp
      |  GROUP BY 1),
      |uni AS (
      |  SELECT * FROM l1 UNION ALL SELECT * FROM l2
      |  UNION ALL SELECT * FROM l3)
      |SELECT pattern, len, n_entities,
      |  CAST((1000000 * n_entities) // n.n AS BIGINT) AS support_ppm
      |FROM uni, n
      |WHERE n_entities * 1000000 >= 100000 * n.n
      |ORDER BY len, pattern""".stripMargin

  /** q333: cheapest-supplier replay — same exact floor unit price,
    * same (price, suppkey) argmin tuple. */
  private[graft] val q333 =
    """WITH offers AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |    MIN((10000 * CAST(round(l_extendedprice * 100) AS BIGINT))
      |      // (100 * CAST(round(l_quantity * 100) AS BIGINT)))
      |      AS best_c
      |  FROM lineitem GROUP BY 1, 2),
      |arg AS (
      |  SELECT pk, best_c, sk,
      |    row_number() OVER (PARTITION BY pk
      |      ORDER BY best_c, sk) AS rn
      |  FROM offers)
      |SELECT a.pk AS p_partkey, a.best_c AS unit_cents,
      |  a.sk AS s_suppkey, s.s_name
      |FROM arg a JOIN supplier s ON s.s_suppkey = a.sk
      |WHERE a.rn = 1 ORDER BY p_partkey""".stripMargin

  /** q334: Q13 replay — LEFT join before the double aggregation so
    * zero-order customers stay in the histogram. */
  private[graft] val q334 =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM (
      |  SELECT c.c_custkey,
      |    CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY 1)
      |GROUP BY c_count
      |ORDER BY n_customers DESC, c_count DESC""".stripMargin

  /** q335: ROUGE-L replay — the LCS DP unrolled as 40 materialized
    * prefix-max rounds over (pair, j) rows: per candidate token i,
    * tmp(j) = max(old(j), old(j−1) + eq) and new = running max of tmp
    * (valid because LCS rows are monotone, so the new(j−1) term is
    * exactly the prefix max); rounds past a candidate's length see a
    * NULL token (eq = 0) and replay as provable no-ops on the
    * monotone row. F1 = 2L/(n_a+n_b) as the same single floor. */
  private[graft] val q335 = {
    val rounds = (1 to 40).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT t.a, t.b, t.j,
         |    MAX(t.tv) OVER (PARTITION BY t.a, t.b ORDER BY t.j
         |      ROWS UNBOUNDED PRECEDING) AS v
         |  FROM (
         |    SELECT o.a, o.b, o.j,
         |      CASE WHEN o.j = 0 THEN CAST(0 AS BIGINT)
         |        ELSE GREATEST(o.v, op.v +
         |          CASE WHEN ct.tok IS NOT NULL AND rf.tb = ct.tok
         |            THEN 1 ELSE 0 END)
         |      END AS tv
         |    FROM r${i - 1} o
         |    LEFT JOIN r${i - 1} op
         |      ON op.a = o.a AND op.b = o.b AND op.j = o.j - 1
         |    LEFT JOIN refs rf
         |      ON rf.a = o.a AND rf.b = o.b AND rf.j = o.j
         |    LEFT JOIN (SELECT a, b, wa[$i] AS tok FROM pr) ct
         |      ON ct.a = o.a AND ct.b = o.b) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs40 AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '),
       |      x -> x <> '')[1:40] AS ws
       |  FROM documents),
       |pr AS MATERIALIZED (
       |  SELECT a.doc_id AS a, b.doc_id AS b, a.ws AS wa, b.ws AS wb
       |  FROM docs40 a JOIN docs40 b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 2 = 0 AND a.doc_id < 100),
       |refs AS MATERIALIZED (
       |  SELECT a, b, CAST(u.j AS BIGINT) AS j, wb[u.j] AS tb
       |  FROM pr, UNNEST(range(1, len(wb) + 1)) u(j)),
       |r0 AS (
       |  SELECT a, b, CAST(u.j AS BIGINT) AS j, CAST(0 AS BIGINT) AS v
       |  FROM pr, UNNEST(range(0, len(wb) + 1)) u(j)),
       |$rounds
       |SELECT p.a, p.b, CAST(len(p.wa) AS BIGINT) AS n_a,
       |  CAST(len(p.wb) AS BIGINT) AS n_b, CAST(r.v AS BIGINT) AS lcs,
       |  CAST((2000000 * r.v) // (len(p.wa) + len(p.wb)) AS BIGINT)
       |    AS rouge_l_f1_ppm
       |FROM pr p JOIN r40 r
       |  ON r.a = p.a AND r.b = p.b AND r.j = len(p.wb)
       |ORDER BY p.a""".stripMargin
  }

  /** q336: key-skew replay — same string-cast histogram, same
    * (count, key) ascending rank, same single-floor Gini. */
  private def skewBlock(name: String, table: String,
                        key: String): String =
    s"""SELECT '$name' AS key, n_keys, n_rows, max_count,
       |  CAST((1000000 * max_count) // n_rows AS BIGINT)
       |    AS top1_share_ppm,
       |  CAST((1000000 * (2 * wsum - (n_keys + 1) * n_rows))
       |    // (n_keys * n_rows) AS BIGINT) AS gini_ppm
       |FROM (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(c) AS BIGINT) AS n_rows,
       |    CAST(MAX(c) AS BIGINT) AS max_count,
       |    CAST(SUM(i * c) AS BIGINT) AS wsum
       |  FROM (
       |    SELECT c, k, row_number() OVER (ORDER BY c, k) AS i
       |    FROM (
       |      SELECT CAST($key AS VARCHAR) AS k, COUNT(*) AS c
       |      FROM $table GROUP BY 1)))""".stripMargin

  private[graft] val q336 = Seq(
      ("documents.source", "documents", "source"),
      ("events.event_type", "events", "event_type"),
      ("events.user_id", "events", "user_id"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
    .map { case (n, t, k) => skewBlock(n, t, k) }
    .mkString("", "\nUNION ALL\n", "\nORDER BY key")

  /** q337: two-proportion replay — same PRF arms, same HUGEINT
    * cross-multiplied pooled z² decision. */
  private[graft] val q337 =
    """WITH conv AS (
      |  SELECT DISTINCT o_custkey AS u FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |pop AS (
      |  SELECT c.c_custkey AS u,
      |    ((c.c_custkey * 1000003 + 12345) % 1000000007) % 2 AS arm,
      |    CASE WHEN cv.u IS NULL THEN 0 ELSE 1 END AS conv
      |  FROM customer c LEFT JOIN conv cv ON cv.u = c.c_custkey),
      |g AS (SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_b
      |  FROM pop)
      |SELECT n_a, conv_a,
      |  CAST((1000000 * conv_a) // n_a AS BIGINT) AS rate_a_ppm,
      |  n_b, conv_b,
      |  CAST((1000000 * conv_b) // n_b AS BIGINT) AS rate_b_ppm,
      |  CAST((1000000 * conv_a) // n_a
      |    - (1000000 * conv_b) // n_b AS BIGINT) AS diff_ppm,
      |  (10000 * (CAST(conv_a AS HUGEINT) * n_b
      |      - CAST(conv_b AS HUGEINT) * n_a)
      |    * (CAST(conv_a AS HUGEINT) * n_b
      |      - CAST(conv_b AS HUGEINT) * n_a)
      |    * (n_a + n_b)
      |   > 38416 * CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b)
      |    * (n_a + n_b - conv_a - conv_b)) AS significant
      |FROM g""".stripMargin

  /** q338: stationary-distribution replay — same exact-floor
    * transition ppm, 12 unrolled π ← πP rounds with the identical
    * per-state floor. */
  private[graft] val q338 = {
    val rounds = (1 to 12).map { r =>
      s"""pi$r AS MATERIALIZED (
         |  SELECT st.s, COALESCE(x.v, 0) AS v
         |  FROM st LEFT JOIN (
         |    SELECT p.j AS s,
         |      SUM(pi${r - 1}.v * p.p_ppm) // 1000000 AS v
         |    FROM p JOIN pi${r - 1} ON pi${r - 1}.s = p.i
         |    GROUP BY 1) x ON x.s = st.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH lg AS (
       |  SELECT user_id AS u, event_type AS t,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev
       |  FROM events),
       |trans AS (
       |  SELECT prev AS i, t AS j, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lg WHERE prev IS NOT NULL GROUP BY 1, 2),
       |outd AS (SELECT i, SUM(c) AS ci FROM trans GROUP BY 1),
       |p AS MATERIALIZED (
       |  SELECT t.i, t.j, (1000000 * t.c) // o.ci AS p_ppm
       |  FROM trans t JOIN outd o ON o.i = t.i),
       |st AS MATERIALIZED (
       |  SELECT DISTINCT s FROM (
       |    SELECT i AS s FROM p UNION SELECT j FROM p)),
       |pi0 AS (
       |  SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM st)
       |    AS BIGINT) AS v
       |  FROM st),
       |$rounds
       |SELECT s AS state, CAST(v AS BIGINT) AS pi_ppm
       |FROM pi12 ORDER BY state""".stripMargin
  }

  /** q339: SQLite-sink round trip — the engine writes the slice to a
    * fresh .db and re-reads it through the DSv2 source; values must
    * come back bit-exact, so the oracle is simply the same projection
    * straight off the parquet tables. */
  private[graft] val q339 =
    """SELECT c.c_custkey, c.c_name,
      |  CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c,
      |  CASE WHEN c.c_custkey % 7 = 0 THEN NULL
      |       ELSE c.c_mktsegment END AS segment,
      |  c.c_acctbal AS acctbal, n.n_name
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_custkey <= 1000
      |ORDER BY c.c_custkey""".stripMargin

  /** q340/q341: quality-cascade replay — the ppm-exact rule gate +
    * scorer (q17's blend in integers) and the one-row economics. The
    * shared feature CTE mirrors Cascade.withDisposition term by term;
    * every `//` is the same truncating division on both engines. */
  private val cascadeCtes =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(w, x -> list_contains($enStop, x)))
       |      AS BIGINT) AS n_stop
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
       |        FROM documents)),
       |s AS (
       |  SELECT doc_id, n_words,
       |    (1000000 * n_distinct) // n_words AS div_ppm,
       |    n_words BETWEEN 8 AND 80
       |      AND (1000000 * n_distinct) // n_words >= 300000 AS s1_pass,
       |    (4 * ((1000000 * least(n_words, 64)) // 64)
       |     + 4 * ((1000000 * n_distinct) // n_words)
       |     + 2 * least((4000000 * n_stop) // n_words, 1000000)) // 10
       |      AS score_all
       |  FROM f)""".stripMargin

  private[graft] val q340 =
    s"""$cascadeCtes
       |SELECT doc_id, n_words, div_ppm, s1_pass,
       |  CASE WHEN s1_pass THEN score_all END AS score_ppm,
       |  s1_pass AND score_all >= 600000 AS kept
       |FROM s ORDER BY doc_id""".stripMargin

  private[graft] val q341 =
    s"""$cascadeCtes,
       |a AS (
       |  SELECT COUNT(*) AS n_docs,
       |    SUM(CASE WHEN s1_pass THEN 1 ELSE 0 END) AS n_s1_pass,
       |    SUM(CASE WHEN s1_pass AND score_all >= 600000
       |      THEN 1 ELSE 0 END) AS n_kept,
       |    SUM(CASE WHEN score_all >= 600000 THEN 1 ELSE 0 END)
       |      AS n_full_kept
       |  FROM s)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_s1_pass AS BIGINT) AS n_s1_pass,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(n_full_kept AS BIGINT) AS n_full_kept,
       |  CAST(CASE WHEN n_full_kept > 0
       |    THEN (1000000 * n_kept) // n_full_kept ELSE 0 END AS BIGINT)
       |    AS recall_ppm,
       |  CAST(20 * n_docs AS BIGINT) AS cost_full,
       |  CAST(n_docs + 20 * n_s1_pass AS BIGINT) AS cost_cascade,
       |  CAST(CASE WHEN n_docs > 0
       |    THEN (1000000 * (20 * n_docs - (n_docs + 20 * n_s1_pass)))
       |      // (20 * n_docs) ELSE 0 END AS BIGINT) AS savings_ppm
       |FROM a""".stripMargin

  /** q342: sharded-sink replay — shard placement never changes the
    * rollup, so the oracle is the plain per-nation aggregate off
    * parquet (sums cast per the HUGEINT house rule). */
  private[graft] val q342 =
    """SELECT n.n_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_bal_c,
      |  CAST(SUM(CASE WHEN c.c_custkey % 7 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_null_seg
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_custkey <= 1000
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin

  /** q343: Cohen's-kappa replay over the cascade CTEs — quantized
    * marginals (never an n² product), truncating division throughout,
    * κ = 0 when pe hits 1e6 (both annotators constant). */
  private[graft] val q343 =
    s"""$cascadeCtes,
       |a AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN s1_pass = (score_all >= 600000)
       |      THEN 1 ELSE 0 END) AS n_agree,
       |    SUM(CASE WHEN s1_pass THEN 1 ELSE 0 END) AS gate_yes,
       |    SUM(CASE WHEN score_all >= 600000 THEN 1 ELSE 0 END)
       |      AS scorer_yes
       |  FROM s),
       |p AS (
       |  SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT)
       |      AS n_agree,
       |    CAST(gate_yes AS BIGINT) AS gate_yes,
       |    CAST(scorer_yes AS BIGINT) AS scorer_yes,
       |    CAST(CASE WHEN n > 0 THEN (1000000 * n_agree) // n
       |      ELSE 0 END AS BIGINT) AS po_ppm,
       |    CAST(CASE WHEN n > 0 THEN
       |      (((1000000 * gate_yes) // n) * ((1000000 * scorer_yes) // n)
       |       + ((1000000 * (n - gate_yes)) // n)
       |         * ((1000000 * (n - scorer_yes)) // n)) // 1000000
       |      ELSE 0 END AS BIGINT) AS pe_ppm
       |  FROM a)
       |SELECT n, n_agree, gate_yes, scorer_yes, po_ppm, pe_ppm,
       |  CAST(CASE WHEN pe_ppm < 1000000 THEN
       |    (1000000 * (po_ppm - pe_ppm)) // (1000000 - pe_ppm)
       |    ELSE 0 END AS BIGINT) AS kappa_ppm
       |FROM p""".stripMargin

  /** q344: hybrid-ANN RRF replay — the three retrieval oracles (q22
    * brute, q175 portable LSH, q176 portable IVF) run verbatim as
    * subqueries, projected to (query_id, neighbor_id, rank) and fused
    * with the 1e6 // (60 + rank) contribution; the q175/q176
    * constructions are already oracle-exact twins of the engine's, so
    * the fusion compares rank-for-rank. */
  private[graft] val q344 =
    s"""WITH brute AS (
       |  SELECT query_id, neighbor_id, rank FROM ($q22)),
       |lshr AS (
       |  SELECT query_id, neighbor_id, rank FROM ($q175)),
       |ivfr AS (
       |  SELECT query_id, neighbor_id, rank FROM ($q176)),
       |u AS (
       |  SELECT * FROM brute
       |  UNION ALL SELECT * FROM lshr
       |  UNION ALL SELECT * FROM ivfr),
       |f AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
       |    CAST(COUNT(*) AS BIGINT) AS n_methods
       |  FROM u GROUP BY 1, 2),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_ppm DESC, neighbor_id) AS fr
       |  FROM f)
       |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, neighbor_id,
       |  rrf_ppm, n_methods
       |FROM r WHERE fr <= 5
       |ORDER BY query_id, fused_rank""".stripMargin

  /** q345–q347 shared CTE prefix: the deterministic two-run crawl
    * simulation (SparkEntry.crawlSnapshots) and the char-fold content
    * fingerprint (q132 convention), replayed exactly. */
  private val crawlFpCtes =
    """today AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
      |yesterday AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN 'legacyprefix ' || text
      |         ELSE text END AS text
      |  FROM today WHERE doc_id % 7 != 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM today WHERE doc_id % 13 = 0),
      |fy AS (
      |  SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(lower(text), ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS fp
      |  FROM yesterday),
      |ft AS (
      |  SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(lower(text), ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS fp
      |  FROM today)""".stripMargin

  /** q345: fingerprint-level snapshot diff — one full outer join on
    * doc_id, unchanged keys dropped, classification by presence/fp. */
  private[graft] val q345 =
    s"""WITH $crawlFpCtes,
       |d AS (
       |  SELECT COALESCE(fy.doc_id, ft.doc_id) AS doc_id,
       |    CASE WHEN fy.doc_id IS NULL THEN 'added'
       |         WHEN ft.doc_id IS NULL THEN 'removed'
       |         WHEN fy.fp != ft.fp THEN 'changed' END AS change_type,
       |    fy.fp AS fp_old, ft.fp AS fp_new
       |  FROM fy FULL OUTER JOIN ft ON fy.doc_id = ft.doc_id)
       |SELECT doc_id, change_type, fp_old, fp_new
       |FROM d WHERE change_type IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  /** q346: delta-only near-dup — the q77 replay with the batch/corpus
    * split driven by the q345 delta classification (added/changed vs
    * unchanged) instead of a doc_id threshold. */
  private[graft] val q346 =
    s"""WITH $crawlFpCtes,
       |delta AS (
       |  SELECT COALESCE(fy.doc_id, ft.doc_id) AS doc_id
       |  FROM fy FULL OUTER JOIN ft ON fy.doc_id = ft.doc_id
       |  WHERE ft.doc_id IS NOT NULL
       |    AND (fy.doc_id IS NULL OR fy.fp != ft.fp)),
       |ws AS (
       |  SELECT t.doc_id, string_split(lower(t.text), ' ') AS w,
       |    (d.doc_id IS NOT NULL) AS in_batch
       |  FROM today t LEFT JOIN delta d ON t.doc_id = d.doc_id),
       |sh AS (
       |  SELECT doc_id, in_batch,
       |    list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |  FROM ws WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh),
       |post AS (SELECT doc_id, in_batch, unnest(s) AS shingle FROM sh),
       |rare AS (
       |  SELECT doc_id, in_batch, shingle FROM post
       |  WHERE shingle NOT IN (
       |    SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) > 50)),
       |pairs AS (
       |  SELECT p1.doc_id AS a, p2.doc_id AS b, COUNT(*) AS common
       |  FROM rare p1 JOIN rare p2 USING (shingle)
       |  WHERE NOT p1.in_batch AND p2.in_batch
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT DISTINCT b AS doc_id FROM pairs
       |  JOIN sizes sa ON sa.doc_id = a
       |  JOIN sizes sb ON sb.doc_id = b
       |  WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.6),
       |ex AS (
       |  SELECT DISTINCT t2.doc_id
       |  FROM today t2 JOIN delta dd ON t2.doc_id = dd.doc_id
       |  JOIN today t1 ON lower(trim(t2.text)) = lower(trim(t1.text))
       |  LEFT JOIN delta d1 ON t1.doc_id = d1.doc_id
       |  WHERE d1.doc_id IS NULL)
       |SELECT d.doc_id,
       |  (ex.doc_id IS NOT NULL) AS dup_exact,
       |  (near.doc_id IS NOT NULL) AS near_dup
       |FROM delta d
       |LEFT JOIN ex USING (doc_id)
       |LEFT JOIN near USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q347: fingerprint-store CDC merge — unchanged keys keep run 1,
    * added/changed take today's fp at run 2, removed keys drop. */
  private[graft] val q347 =
    s"""WITH $crawlFpCtes
       |SELECT COALESCE(fy.doc_id, ft.doc_id) AS doc_id,
       |  CASE WHEN fy.doc_id IS NULL OR fy.fp != ft.fp THEN ft.fp
       |       ELSE fy.fp END AS fp,
       |  CASE WHEN fy.doc_id IS NULL OR fy.fp != ft.fp
       |       THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT)
       |       END AS last_seen_run
       |FROM fy FULL OUTER JOIN ft ON fy.doc_id = ft.doc_id
       |WHERE ft.doc_id IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  /** q348: SQ8 recall replay — the per-dim [lo,hi] codebook, the
    * (v−lo)·255 // span code, the lo + c·span // 255 reconstruction,
    * the asymmetric integer-dot rankings, and the top-5 overlap all
    * recomputed from the same fixed-point grid (q175 convention). */
  private[graft] val q348 =
    """WITH qv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
      |  FROM embeddings),
      |st AS (
      |  SELECT i, MIN(q[i]) AS lo, MAX(q[i]) AS hi
      |  FROM qv CROSS JOIN range(1, 65) t(i) GROUP BY i),
      |cb AS (SELECT list(lo ORDER BY i) AS l, list(hi ORDER BY i) AS h
      |       FROM st),
      |dq AS (
      |  SELECT vec_id, list_transform(range(1, 65), i ->
      |    l[i] + ((q[i] - l[i]) * 255 // greatest(h[i] - l[i], 1))
      |           * greatest(h[i] - l[i], 1) // 255) AS d
      |  FROM qv CROSS JOIN cb),
      |ex AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid,
      |    CAST(list_aggregate(list_transform(range(1, 65),
      |      i -> a.q[i] * b.q[i]), 'sum') AS BIGINT) AS s
      |  FROM qv a JOIN qv b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id % 20 = 0),
      |ext AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY s DESC, cid ASC) AS rn FROM ex) WHERE rn <= 5),
      |sq AS (
      |  SELECT a.vec_id AS qid, d.vec_id AS cid,
      |    CAST(list_aggregate(list_transform(range(1, 65),
      |      i -> a.q[i] * d.d[i]), 'sum') AS BIGINT) AS s
      |  FROM qv a JOIN dq d ON d.vec_id <> a.vec_id
      |  WHERE a.vec_id % 20 = 0),
      |sqt AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY s DESC, cid ASC) AS rn FROM sq) WHERE rn <= 5),
      |ov AS (
      |  SELECT e.qid, COUNT(t.cid) AS ov
      |  FROM ext e LEFT JOIN sqt t ON t.qid = e.qid AND t.cid = e.cid
      |  GROUP BY e.qid)
      |SELECT q.vec_id AS query_id,
      |  CAST(COALESCE(o.ov, 0) AS BIGINT) AS n_overlap,
      |  CAST(COALESCE(o.ov, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
      |FROM (SELECT vec_id FROM qv WHERE vec_id % 20 = 0) q
      |LEFT JOIN ov o ON o.qid = q.vec_id
      |ORDER BY query_id""".stripMargin

  /** Shared q349/q350 SemDeDup chain: quantize, the q176 Lloyd replay
    * at k = 8 / 2 iterations, per-vector integer norms, intra-cluster
    * pairs, and the exact-integer cosine threshold (τ = 3/10):
    * idot ≥ 0 ∧ idot²·100 ≥ 9·|a|²·|b|² in HUGEINT — the decimal128
    * twin of the engine's DECIMAL(38,0) test. Every CTE is
    * MATERIALIZED: DuckDB inlines multiply-referenced CTEs, and the
    * chained Lloyd rounds re-expand exponentially without it
    * (measured 17 s → 0.24 s at sf0.01). */
  private val semDedupCtes = {
    val dims = 64; val k = 8
    def assignCte(cent: String, out: String): String =
      s"""d_$out AS MATERIALIZED (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS MATERIALIZED (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS MATERIALIZED (
         |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    s"""qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k)),
       |${assignCte("c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("c2", "lists")},
       |n2 AS MATERIALIZED (
       |  SELECT vec_id, CAST(list_aggregate(list_transform(
       |    range(1, ${dims + 1}), i -> q[i] * q[i]), 'sum') AS BIGINT) AS n2
       |  FROM qv),
       |dup AS MATERIALIZED (
       |  SELECT cl, a, b FROM (
       |    SELECT x.cl AS cl, x.vec_id AS a, y.vec_id AS b,
       |      nx.n2 AS na, ny.n2 AS nb,
       |      CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |        i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) AS idot
       |    FROM lists x JOIN lists y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |    JOIN n2 nx ON nx.vec_id = x.vec_id
       |    JOIN n2 ny ON ny.vec_id = y.vec_id)
       |  WHERE idot >= 0
       |    AND CAST(idot AS HUGEINT) * idot * 100 >= 9 * CAST(na AS HUGEINT) * nb)""".stripMargin
  }

  /** q349: SemDeDup first-arrival flags over the learned clusters. */
  private[graft] val q349 =
    s"""WITH $semDedupCtes
       |SELECT l.vec_id, l.cl AS cluster_id,
       |  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_earlier_dups,
       |  COALESCE(d.n, 0) = 0 AS keep
       |FROM lists l LEFT JOIN (
       |  SELECT b, COUNT(*) AS n FROM dup GROUP BY b) d ON d.b = l.vec_id
       |ORDER BY l.vec_id""".stripMargin

  /** q350: keep-one-per-group — exact connected components of the dup
    * edge set via the q47 recursive walk, min-id keeper. */
  private[graft] val q350 =
    s"""WITH RECURSIVE $semDedupCtes,
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM dup
       |  UNION SELECT b AS src, a AS dst FROM dup),
       |walk(node, label) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, w.label FROM sym s JOIN walk w ON w.node = s.dst)
       |SELECT node AS vec_id, MIN(label) AS group_id,
       |  node = MIN(label) AS keep
       |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin

  /** Shared q351/q352 incremental-index chain: quantize, split
    * yesterday/delta on vec_id % 7, train Lloyd (k = 8, 2 iters) on
    * YESTERDAY ONLY — the frozen serving index — then assign both
    * sets against the frozen centroids keeping the winning distance.
    * All MATERIALIZED (the q349 lesson). */
  private val ivfRunCtes = {
    val dims = 64; val k = 8
    def assignCte(src: String, cent: String, out: String): String =
      s"""d_$out AS MATERIALIZED (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM $src v CROSS JOIN $cent c),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, q, cl, d2 FROM (
         |    SELECT vec_id, q, cl, d2,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS MATERIALIZED (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS MATERIALIZED (
         |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    s"""qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |yv AS MATERIALIZED (SELECT vec_id, q FROM qv WHERE vec_id % 7 <> 3),
       |dv AS MATERIALIZED (SELECT vec_id, q FROM qv WHERE vec_id % 7 = 3),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM yv ORDER BY vec_id LIMIT $k)),
       |${assignCte("yv", "c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("yv", "c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("yv", "c2", "ya")},
       |${assignCte("dv", "c2", "da")},
       |base AS MATERIALIZED (SELECT cl FROM c2)""".stripMargin
  }

  /** q351: frozen-centroid delta assignment — per-cluster list size,
    * delta arrivals, integer growth ppm, first delta id. */
  private[graft] val q351 =
    s"""WITH $ivfRunCtes
       |SELECT b.cl AS cluster_id,
       |  CAST(COALESCE(y.n, 0) AS BIGINT) AS n_yesterday,
       |  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_delta,
       |  CAST(COALESCE(d.n, 0) * 1000000
       |    // GREATEST(COALESCE(y.n, 0), 1) AS BIGINT) AS growth_ppm,
       |  d.mn AS first_delta_id
       |FROM base b
       |LEFT JOIN (SELECT cl, COUNT(*) AS n FROM ya GROUP BY cl) y
       |  ON y.cl = b.cl
       |LEFT JOIN (SELECT cl, COUNT(*) AS n, MIN(vec_id) AS mn
       |           FROM da GROUP BY cl) d ON d.cl = b.cl
       |ORDER BY cluster_id""".stripMargin

  /** q352: centroid drift audit — exact integer mean d2 per side and
    * the cross-multiplied 25%-drift retrain flag in HUGEINT. */
  private[graft] val q352 =
    s"""WITH $ivfRunCtes
       |SELECT b.cl AS cluster_id,
       |  CAST(COALESCE(y.n, 0) AS BIGINT) AS n_yesterday,
       |  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_delta,
       |  CAST(COALESCE(y.s, 0) // GREATEST(COALESCE(y.n, 0), 1) AS BIGINT)
       |    AS mean_d2_yesterday,
       |  CAST(COALESCE(d.s, 0) // GREATEST(COALESCE(d.n, 0), 1) AS BIGINT)
       |    AS mean_d2_delta,
       |  CAST(COALESCE(d.s, 0) AS HUGEINT) * COALESCE(y.n, 0) * 4 >
       |    CAST(COALESCE(y.s, 0) AS HUGEINT) * COALESCE(d.n, 0) * 5
       |    AS retrain
       |FROM base b
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM ya GROUP BY cl) y ON y.cl = b.cl
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM da GROUP BY cl) d ON d.cl = b.cl
       |ORDER BY cluster_id""".stripMargin

  /** Shared q353/q354 packing walk: the first-fit-sequential fold
    * replayed as a per-stratum recursive CTE over id-ordered rows
    * (the q09 greedy-fold convention; every stratum's frontier steps
    * in parallel, depth = max docs per stratum). */
  private val packWalkCtes =
    """t AS MATERIALIZED (
      |  SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |walk(source, rn, doc_id, len, seq_id, seq_offset) AS (
      |  SELECT source, rn, doc_id, n_chars,
      |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT n.source, n.rn, n.doc_id, n.n_chars,
      |    CASE WHEN w.seq_offset + w.len > 0
      |           AND w.seq_offset + w.len + n.n_chars > 2000
      |         THEN w.seq_id + 1 ELSE w.seq_id END,
      |    CASE WHEN w.seq_offset + w.len > 0
      |           AND w.seq_offset + w.len + n.n_chars > 2000
      |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
      |  FROM walk w JOIN t n ON n.source = w.source AND n.rn = w.rn + 1)"""
      .stripMargin

  /** q353: per-doc packing assignment replay. */
  private[graft] val q353 =
    s"""WITH RECURSIVE $packWalkCtes
       |SELECT source, doc_id, CAST(len AS BIGINT) AS len,
       |  seq_id, seq_offset
       |FROM walk ORDER BY source, doc_id""".stripMargin

  /** q354: packing-efficiency rollup over the same walk — final
    * partial sequences are inherent, so the waste column counts FULL
    * (non-final) sequences only. */
  private[graft] val q354 =
    s"""WITH RECURSIVE $packWalkCtes,
       |per AS (
       |  SELECT source, seq_id, COUNT(*) AS n_docs, SUM(len) AS fill
       |  FROM walk GROUP BY source, seq_id),
       |lastq AS (SELECT source, MAX(seq_id) AS last_seq
       |          FROM per GROUP BY source)
       |SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
       |  CAST(SUM(p.n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.fill) AS BIGINT) AS total_chars,
       |  CAST(SUM(CASE WHEN p.seq_id <> l.last_seq THEN 2000 - p.fill
       |    ELSE 0 END) AS BIGINT) AS full_seq_waste,
       |  CAST(SUM(p.fill) * 1000000 // (COUNT(*) * 2000) AS BIGINT)
       |    AS fill_ppm
       |FROM per p JOIN lastq l ON l.source = p.source
       |GROUP BY p.source ORDER BY p.source""".stripMargin

  /** Shared q364/q365 SEGMENTED packing walk: the same first-fit
    * recurrence as [[packWalkCtes]] but partitioned by (source,
    * segment) — segment = floor(0-based per-source rank / 8) — with
    * segment-local sequence ids spliced into per-stratum ids by a
    * window over the per-SEGMENT sequence counts (mirrors
    * Curation.packSequencesSegmented exactly). */
  private val segWalkCtes =
    """t14 AS MATERIALIZED (
      |  SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |ts AS MATERIALIZED (
      |  SELECT source, (rn - 1) // 8 AS seg, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source, (rn - 1) // 8
      |      ORDER BY doc_id) AS srn
      |  FROM t14),
      |swalk(source, seg, srn, doc_id, len, lseq, seq_offset) AS (
      |  SELECT source, seg, srn, doc_id, n_chars,
      |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM ts WHERE srn = 1
      |  UNION ALL
      |  SELECT n.source, n.seg, n.srn, n.doc_id, n.n_chars,
      |    CASE WHEN w.seq_offset + w.len > 0
      |           AND w.seq_offset + w.len + n.n_chars > 2000
      |         THEN w.lseq + 1 ELSE w.lseq END,
      |    CASE WHEN w.seq_offset + w.len > 0
      |           AND w.seq_offset + w.len + n.n_chars > 2000
      |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
      |  FROM swalk w JOIN ts n ON n.source = w.source
      |    AND n.seg = w.seg AND n.srn = w.srn + 1),
      |segb AS MATERIALIZED (
      |  SELECT source, seg,
      |    CAST(COALESCE(SUM(n_seqs) OVER (PARTITION BY source
      |      ORDER BY seg ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS BIGINT) AS seq_base
      |  FROM (SELECT source, seg, MAX(lseq) + 1 AS n_seqs
      |        FROM swalk GROUP BY source, seg))""".stripMargin

  /** q364: per-doc segment-packed assignment replay. */
  private[graft] val q364 =
    s"""WITH RECURSIVE $segWalkCtes
       |SELECT w.source, w.doc_id, CAST(w.len AS BIGINT) AS len,
       |  CAST(b.seq_base + w.lseq AS BIGINT) AS seq_id, w.seq_offset
       |FROM swalk w JOIN segb b ON b.source = w.source
       |  AND b.seg = w.seg
       |ORDER BY w.source, w.doc_id""".stripMargin

  /** q365: boundary-waste ledger — base-vs-segmented sequence counts
    * and fill ppms per source, both walks replayed in one WITH. */
  private[graft] val q365 =
    s"""WITH RECURSIVE $packWalkCtes,
       |$segWalkCtes,
       |b AS (SELECT source, CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs_base,
       |        CAST(SUM(len) AS BIGINT) AS total_chars
       |      FROM walk GROUP BY source),
       |g AS (SELECT source, CAST(SUM(mx + 1) AS BIGINT) AS n_seqs_seg
       |      FROM (SELECT source, seg, MAX(lseq) AS mx
       |            FROM swalk GROUP BY source, seg)
       |      GROUP BY source)
       |SELECT b.source, b.n_seqs_base, g.n_seqs_seg,
       |  g.n_seqs_seg - b.n_seqs_base AS extra_seqs, b.total_chars,
       |  CAST(b.total_chars * 1000000 // (b.n_seqs_base * 2000)
       |    AS BIGINT) AS fill_ppm_base,
       |  CAST(b.total_chars * 1000000 // (g.n_seqs_seg * 2000)
       |    AS BIGINT) AS fill_ppm_seg
       |FROM b JOIN g ON g.source = b.source
       |ORDER BY b.source""".stripMargin

  /** q355: the q349 SemDeDup chain instantiated TWICE — once on the
    * exact quantized vectors, once on their SQ8 reconstructions (the
    * q348 codebook formula) — with per-vector keep flags joined as an
    * agreement audit. The chain generator prefixes every CTE name so
    * both instances coexist in one WITH clause; all MATERIALIZED (the
    * q349 inlining lesson). */
  private[graft] val q355 = {
    val dims = 64; val k = 8
    def chain(src: String, p: String): String = {
      def assignCte(cent: String, out: String): String =
        s"""d_$out AS MATERIALIZED (
           |  SELECT v.vec_id, v.q, c.cl,
           |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
           |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
           |  FROM $src v CROSS JOIN $cent c),
           |$out AS MATERIALIZED (
           |  SELECT vec_id, q, cl FROM (
           |    SELECT vec_id, q, cl,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
           |    FROM d_$out)
           |  WHERE rn = 1)""".stripMargin
      def meanCte(assigned: String, out: String): String =
        s"""m_$out AS MATERIALIZED (
           |  SELECT cl, d,
           |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
           |$out AS MATERIALIZED (
           |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
      s"""c0$p AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
         |    q AS c
         |  FROM (SELECT vec_id, q FROM $src ORDER BY vec_id LIMIT $k)),
         |${assignCte(s"c0$p", s"a0$p")},
         |${meanCte(s"a0$p", s"c1$p")},
         |${assignCte(s"c1$p", s"a1$p")},
         |${meanCte(s"a1$p", s"c2$p")},
         |${assignCte(s"c2$p", s"lists$p")},
         |n2$p AS MATERIALIZED (
         |  SELECT vec_id, CAST(list_aggregate(list_transform(
         |    range(1, ${dims + 1}), i -> q[i] * q[i]), 'sum') AS BIGINT) AS n2
         |  FROM $src),
         |dup$p AS MATERIALIZED (
         |  SELECT cl, a, b FROM (
         |    SELECT x.cl AS cl, x.vec_id AS a, y.vec_id AS b,
         |      nx.n2 AS na, ny.n2 AS nb,
         |      CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |        i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) AS idot
         |    FROM lists$p x JOIN lists$p y
         |      ON x.cl = y.cl AND x.vec_id < y.vec_id
         |    JOIN n2$p nx ON nx.vec_id = x.vec_id
         |    JOIN n2$p ny ON ny.vec_id = y.vec_id)
         |  WHERE idot >= 0
         |    AND CAST(idot AS HUGEINT) * idot * 100 >= 9 * CAST(na AS HUGEINT) * nb),
         |keep$p AS MATERIALIZED (
         |  SELECT l.vec_id, l.cl, COALESCE(d.n, 0) = 0 AS keep
         |  FROM lists$p l LEFT JOIN (
         |    SELECT b, COUNT(*) AS n FROM dup$p GROUP BY b) d
         |    ON d.b = l.vec_id)""".stripMargin
    }
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |st AS MATERIALIZED (
       |  SELECT i, MIN(q[i]) AS lo, MAX(q[i]) AS hi
       |  FROM qv CROSS JOIN range(1, ${dims + 1}) t(i) GROUP BY i),
       |cb AS MATERIALIZED (
       |  SELECT list(lo ORDER BY i) AS l, list(hi ORDER BY i) AS h
       |  FROM st),
       |rv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, ${dims + 1}), i ->
       |    l[i] + ((q[i] - l[i]) * 255 // greatest(h[i] - l[i], 1))
       |           * greatest(h[i] - l[i], 1) // 255) AS q
       |  FROM qv CROSS JOIN cb),
       |${chain("qv", "e")},
       |${chain("rv", "r")}
       |SELECT r.vec_id, r.cl AS cluster_sq8, r.keep AS keep_sq8,
       |  e.keep AS keep_exact, r.keep = e.keep AS agree
       |FROM keepr r JOIN keepe e ON e.vec_id = r.vec_id
       |ORDER BY r.vec_id""".stripMargin
  }

  /** q356: the q349 chain up to the SCORED pairs (no threshold), then
    * a VALUES-driven τ sweep — LEFT JOIN so a τ with zero survivors
    * still reports its row. */
  private[graft] val q356 = {
    val dims = 64; val k = 8
    def assignCte(cent: String, out: String): String =
      s"""d_$out AS MATERIALIZED (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS MATERIALIZED (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS MATERIALIZED (
         |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k)),
       |${assignCte("c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("c2", "lists")},
       |n2 AS MATERIALIZED (
       |  SELECT vec_id, CAST(list_aggregate(list_transform(
       |    range(1, ${dims + 1}), i -> q[i] * q[i]), 'sum') AS BIGINT) AS n2
       |  FROM qv),
       |sc AS MATERIALIZED (
       |  SELECT x.cl, x.vec_id AS a, y.vec_id AS b,
       |    nx.n2 AS na, ny.n2 AS nb,
       |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |      i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM lists x JOIN lists y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |  JOIN n2 nx ON nx.vec_id = x.vec_id
       |  JOIN n2 ny ON ny.vec_id = y.vec_id),
       |taus(tau_num, tau_den) AS (VALUES (1, 5), (3, 10), (2, 5), (1, 2)),
       |nv AS (SELECT COUNT(*) AS n FROM embeddings)
       |SELECT CAST(t.tau_num AS BIGINT) AS tau_num,
       |  CAST(t.tau_den AS BIGINT) AS tau_den,
       |  CAST(COUNT(s.b) AS BIGINT) AS n_dup_edges,
       |  CAST(COUNT(DISTINCT s.b) AS BIGINT) AS n_flagged,
       |  CAST(nv.n - COUNT(DISTINCT s.b) AS BIGINT) AS n_kept
       |FROM taus t CROSS JOIN nv
       |LEFT JOIN sc s ON s.idot >= 0
       |  AND CAST(s.idot AS HUGEINT) * s.idot * t.tau_den * t.tau_den
       |      >= t.tau_num * t.tau_num * CAST(s.na AS HUGEINT) * s.nb
       |GROUP BY t.tau_num, t.tau_den, nv.n
       |ORDER BY t.tau_num * 1000000 // t.tau_den""".stripMargin
  }

  /** q357/q358 shared CTE prefix: the consistent-hash ring — vnode
    * positions are the char-fold fingerprint (q132/q345 convention)
    * over the label `shard:<s>:<v>` passed through the quadratic mix
    * `(f² + f·2654435761 + 40503) mod 1e9+7` (the raw fold clusters
    * similar labels — see [[graft.operators.HashRing]], replayed
    * bit-for-bit here; f ≤ 1e9+6 keeps every term inside BIGINT).
    * Key positions use the affine map of the mod-reduced key.
    * `nShards` parameterizes the generate_series bound. */
  private def ringCtes(nShards: Int) =
    s"""vn AS (
       |  SELECT CAST(s AS BIGINT) AS shard,
       |    'shard:' || s || ':' || v AS label
       |  FROM generate_series(0, ${nShards - 1}) t(s),
       |       generate_series(0, 31) u(v)),
       |vf AS (
       |  SELECT shard,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(label, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
       |  FROM vn),
       |vp AS (
       |  SELECT shard,
       |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
       |  FROM vf),
       |keys AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    ((doc_id % 1000000007) * 2654435761 + 40503)
       |      % 1000000007 AS p
       |  FROM documents)""".stripMargin

  /** q362: the flagship training-data pipeline composite — every
    * stage replayed as CTEs over the SURVIVOR set of the previous
    * stage, in production order: token-floor curate → exact-text
    * dedup (min-id keeper) → q132's portable MinHash near-dedup →
    * the q349 SemDeDup chain re-trained on the survivors → q213's
    * benchmark 8-gram decontamination (full-corpus benchmark, %10) →
    * the q305 unigram vocab + greedy DP (12-char words; longer words
    * charge ⌈len/4⌉) → the q353 pack walk at capacity 256. The final
    * select assembles one audit row per stage. */
  /** Shared q362/q368 pipeline chain: the seven curation stages as
    * CTEs, each reading the previous stage's survivor set (see q362
    * doc); `pwalk` is the packed per-doc assignment of the final
    * survivors. */
  private val pipelineCtes = {
    val as = Seq(131, 137, 139, 149, 151, 157, 163, 167)
    val bs = Seq(17, 29, 47, 71, 89, 107, 131, 151)
    val mins = as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      s"MIN((h * $a + $b) % 1000000007) AS m$j"
    }.mkString(",\n      |    ")
    val dims = 64
    val k = 8
    def assignCte(cent: String, out: String): String =
      s"""d_$out AS MATERIALIZED (
         |  SELECT v.vec_id, v.q, c.cl,
         |    CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
         |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
         |  FROM qv v CROSS JOIN $cent c),
         |$out AS MATERIALIZED (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM d_$out)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(assigned: String, out: String): String =
      s"""m_$out AS MATERIALIZED (
         |  SELECT cl, d,
         |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM $assigned, UNNEST(range(1, ${dims + 1})) t(d) GROUP BY cl, d),
         |$out AS MATERIALIZED (
         |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin
    val rounds = greedyRounds("gr", "vocab6")
    s"""s0 AS MATERIALIZED (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, source,
       |    CAST(n_chars AS BIGINT) AS n_chars
       |  FROM documents),
       |s1 AS MATERIALIZED (
       |  SELECT * FROM s0
       |  WHERE len(string_split(lower(text), ' ')) >= 40),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM s1 WHERE doc_id IN (
       |    SELECT MIN(doc_id) FROM s1 GROUP BY text)),
       |w3 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM s2),
       |t3 AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS tok
       |  FROM w3, UNNEST(range(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 3),
       |h3 AS (
       |  SELECT doc_id, tok,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
       |  FROM t3),
       |g3 AS (
       |  SELECT doc_id, $mins
       |  FROM h3 GROUP BY doc_id),
       |c3 AS (
       |  SELECT DISTINCT a, b FROM (
       |  SELECT ga.doc_id AS a, gb.doc_id AS b FROM g3 ga JOIN g3 gb
       |    ON ga.m0=gb.m0 AND ga.m1=gb.m1 AND ga.m2=gb.m2 AND ga.m3=gb.m3
       |   AND ga.doc_id < gb.doc_id
       |  UNION ALL
       |  SELECT ga.doc_id, gb.doc_id FROM g3 ga JOIN g3 gb
       |    ON ga.m4=gb.m4 AND ga.m5=gb.m5 AND ga.m6=gb.m6 AND ga.m7=gb.m7
       |   AND ga.doc_id < gb.doc_id)),
       |z3 AS (SELECT doc_id, COUNT(*) AS n FROM t3 GROUP BY 1),
       |x3 AS (
       |  SELECT c.a, c.b, COUNT(*) AS inter
       |  FROM c3 c
       |  JOIN t3 ta ON ta.doc_id = c.a
       |  JOIN t3 tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |mp AS MATERIALIZED (
       |  SELECT i.a, i.b
       |  FROM x3 i JOIN z3 sa ON sa.doc_id = i.a
       |  JOIN z3 sb ON sb.doc_id = i.b
       |  WHERE 2 * i.inter >= sa.n + sb.n - i.inter),
       |s3 AS MATERIALIZED (
       |  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT b FROM mp)),
       |qv AS MATERIALIZED (
       |  SELECT e.vec_id, list_transform(e.embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings e JOIN s3 s ON s.doc_id = e.vec_id),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $k)),
       |${assignCte("c0", "a0")},
       |${meanCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${meanCte("a1", "c2")},
       |${assignCte("c2", "lists")},
       |n2 AS MATERIALIZED (
       |  SELECT vec_id, CAST(list_aggregate(list_transform(
       |    range(1, ${dims + 1}), i -> q[i] * q[i]), 'sum') AS BIGINT) AS n2
       |  FROM qv),
       |dup AS MATERIALIZED (
       |  SELECT cl, a, b FROM (
       |    SELECT x.cl AS cl, x.vec_id AS a, y.vec_id AS b,
       |      nx.n2 AS na, ny.n2 AS nb,
       |      CAST(list_aggregate(list_transform(range(1, ${dims + 1}),
       |        i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) AS idot
       |    FROM lists x JOIN lists y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |    JOIN n2 nx ON nx.vec_id = x.vec_id
       |    JOIN n2 ny ON ny.vec_id = y.vec_id)
       |  WHERE idot >= 0
       |    AND CAST(idot AS HUGEINT) * idot * 100 >= 9 * CAST(na AS HUGEINT) * nb),
       |s4 AS MATERIALIZED (
       |  SELECT * FROM s3 WHERE doc_id NOT IN (SELECT DISTINCT b FROM dup)),
       |b5 AS (
       |  SELECT doc_id, doc_id % 10 = 0 AS ib,
       |    string_split(lower(text), ' ') AS ws
       |  FROM s0),
       |g5 AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS shingle
       |  FROM b5, UNNEST(range(1, len(ws) - 6)) t(i)
       |  WHERE len(ws) >= 8),
       |bg5 AS (
       |  SELECT g5.shingle, g5.doc_id AS bench_doc
       |  FROM g5 JOIN b5 USING (doc_id) WHERE b5.ib),
       |flg AS MATERIALIZED (
       |  SELECT DISTINCT c.doc_id
       |  FROM g5 c JOIN bg5 ON c.shingle = bg5.shingle
       |    AND c.doc_id <> bg5.bench_doc
       |  WHERE c.doc_id % 10 <> 0),
       |s5 AS MATERIALIZED (
       |  SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM flg)),
       |toks6 AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM s5),
       |starts6 AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM (SELECT tok FROM toks6)),
       |sub6 AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM starts6
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vocab6 AS MATERIALIZED (
       |  SELECT piece FROM sub6 GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |words6 AS (
       |  SELECT DISTINCT tok AS word FROM toks6 WHERE len(tok) <= 12),
       |gr0 AS (
       |  SELECT word, 0 AS pos, '' AS path FROM words6),
       |$rounds,
       |pieces AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS np
       |  FROM gr12 WHERE pos = len(word)),
       |dtok AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN p.np IS NOT NULL THEN p.np
       |      ELSE (len(t.tok) + 3) // 4 END) AS BIGINT) AS n_tokens
       |  FROM toks6 t LEFT JOIN pieces p ON p.word = t.tok GROUP BY 1),
       |stok AS MATERIALIZED (
       |  SELECT s.doc_id, s.source,
       |    CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens
       |  FROM s5 s LEFT JOIN dtok d USING (doc_id)),
       |pt AS MATERIALIZED (
       |  SELECT source, doc_id, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM stok),
       |pwalk(source, rn, doc_id, len, seq_id, seq_offset) AS (
       |  SELECT source, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM pt WHERE rn = 1
       |  UNION ALL
       |  SELECT n.source, n.rn, n.doc_id, n.n_tokens,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
       |  FROM pwalk w JOIN pt n ON n.source = w.source AND n.rn = w.rn + 1)""".stripMargin
  }

  /** q362: the per-stage audit rollup over the chain. */
  private[graft] val q362 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |nseq AS (
       |  SELECT CAST(COALESCE(SUM(m + 1), 0) AS BIGINT) AS s
       |  FROM (SELECT source, MAX(seq_id) AS m FROM pwalk GROUP BY source)),
       |ttok AS (
       |  SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t FROM stok),
       |cr AS (
       |  SELECT GREATEST(CAST(COALESCE(SUM(n_chars), 0) AS BIGINT), 1) AS c
       |  FROM s0),
       |sz AS (
       |  SELECT 0 AS sno, 'raw' AS nm, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS ch FROM s0
       |  UNION ALL SELECT 1, 'curate', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s1
       |  UNION ALL SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s2
       |  UNION ALL SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s3
       |  UNION ALL SELECT 4, 'semantic_dedup', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s4
       |  UNION ALL SELECT 5, 'decontaminate', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s5),
       |gate AS (
       |  SELECT CAST(sno AS BIGINT) AS stage_no, nm AS stage,
       |    CAST(COALESCE(LAG(n) OVER (ORDER BY sno), n) AS BIGINT)
       |      AS docs_in,
       |    n AS docs_out, ch AS chars_out
       |  FROM sz)
       |SELECT stage_no, stage, docs_in, docs_out,
       |  docs_in - docs_out AS removed, chars_out,
       |  CAST(chars_out * 1000000 // (SELECT c FROM cr) AS BIGINT)
       |    AS mass_ppm,
       |  CAST(-1 AS BIGINT) AS tokens_out, CAST(-1 AS BIGINT) AS n_seqs
       |FROM gate
       |UNION ALL
       |SELECT 6, 'tokenize', z.n, z.n, 0, z.ch,
       |  CAST(z.ch * 1000000 // (SELECT c FROM cr) AS BIGINT),
       |  (SELECT t FROM ttok), CAST(-1 AS BIGINT)
       |FROM sz z WHERE z.sno = 5
       |UNION ALL
       |SELECT 7, 'pack', z.n, z.n, 0, z.ch,
       |  CAST(z.ch * 1000000 // (SELECT c FROM cr) AS BIGINT),
       |  (SELECT t FROM ttok), (SELECT s FROM nseq)
       |FROM sz z WHERE z.sno = 5
       |ORDER BY stage_no""".stripMargin


  /** q368: the per-document provenance ledger over the same chain —
    * each raw doc's first-removal stage (or 'kept') plus the packed
    * sequence address for survivors. Five survivor left-joins, CASE
    * in stage order. */
  private[graft] val q368 =
    s"""WITH RECURSIVE
       |$pipelineCtes
       |SELECT d.doc_id,
       |  CASE WHEN g1.doc_id IS NULL THEN 'short'
       |       WHEN g2.doc_id IS NULL THEN 'exact_dup'
       |       WHEN g3.doc_id IS NULL THEN 'near_dup'
       |       WHEN g4.doc_id IS NULL THEN 'semantic_dup'
       |       WHEN g5.doc_id IS NULL THEN 'contaminated'
       |       ELSE 'kept' END AS disposition,
       |  CAST(COALESCE(w.seq_id, -1) AS BIGINT) AS seq_id,
       |  CAST(COALESCE(w.seq_offset, -1) AS BIGINT) AS seq_offset
       |FROM s0 d
       |LEFT JOIN s1 g1 ON g1.doc_id = d.doc_id
       |LEFT JOIN s2 g2 ON g2.doc_id = d.doc_id
       |LEFT JOIN s3 g3 ON g3.doc_id = d.doc_id
       |LEFT JOIN s4 g4 ON g4.doc_id = d.doc_id
       |LEFT JOIN s5 g5 ON g5.doc_id = d.doc_id
       |LEFT JOIN pwalk w ON w.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q369: weighted-ring replication audit — the q361 capacity vnode
    * table + the q363 walk-rank replay, R = 3; publishes capacity
    * intent vs measured primary / total-responsibility load. */
  private[graft] val q369 = {
    val caps = Seq(64, 64, 32, 32, 32, 32, 16, 16, 16, 16, 16, 16,
      8, 8, 8, 8)
    val capRows = caps.zipWithIndex
      .map { case (c, s) => s"($s, $c)" }.mkString(", ")
    val totalCap = caps.sum
    s"""WITH caps AS (SELECT * FROM (VALUES $capRows) c(shard, cap)),
       |vn0 AS (
       |  SELECT CAST(shard AS BIGINT) AS shard,
       |    CAST(UNNEST(range(0, cap)) AS BIGINT) AS v
       |  FROM caps),
       |vn AS (
       |  SELECT shard, 'shard:' || shard || ':' || v AS label FROM vn0),
       |vf AS (
       |  SELECT shard,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(label, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
       |  FROM vn),
       |vp AS (
       |  SELECT shard,
       |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
       |  FROM vf),
       |keys AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    ((doc_id % 1000000007) * 2654435761 + 40503)
       |      % 1000000007 AS p
       |  FROM documents),
       |ord AS (
       |  SELECT k.doc_id, vp.shard,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id
       |      ORDER BY (vp.pos < k.p), vp.pos) AS rnk
       |  FROM keys k CROSS JOIN vp),
       |firsts AS (
       |  SELECT doc_id, shard, MIN(rnk) AS fr
       |  FROM ord GROUP BY 1, 2),
       |rep AS (
       |  SELECT doc_id, shard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fr)
       |      AS replica_rank
       |  FROM firsts),
       |cnt AS (
       |  SELECT shard,
       |    CAST(SUM(CASE WHEN replica_rank = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_primary,
       |    CAST(SUM(CASE WHEN replica_rank > 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_replica
       |  FROM rep WHERE replica_rank <= 3 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keys)
       |SELECT CAST(c.shard AS BIGINT) AS shard,
       |  CAST(c.cap AS BIGINT) AS n_vnodes,
       |  CAST(c.cap * 1000000 // $totalCap AS BIGINT) AS capacity_ppm,
       |  CAST(COALESCE(n.n_primary, 0) AS BIGINT) AS n_primary,
       |  CAST(COALESCE(n.n_replica, 0) AS BIGINT) AS n_replica,
       |  CAST(COALESCE(n.n_primary, 0) + COALESCE(n.n_replica, 0)
       |    AS BIGINT) AS n_responsible,
       |  CAST(COALESCE(n.n_primary, 0) * 1000000 // t.n_total
       |    AS BIGINT) AS primary_ppm,
       |  CAST((COALESCE(n.n_primary, 0) + COALESCE(n.n_replica, 0))
       |    * 1000000 // t.n_total AS BIGINT) AS responsible_ppm
       |FROM caps c LEFT JOIN cnt n ON n.shard = c.shard, tot t
       |ORDER BY shard""".stripMargin
  }

  /** q370: the INCREMENTAL pipeline — yesterday's chain (doc_id % 7
    * ≠ 3) replayed in full to freeze its artifacts (curated store,
    * Lloyd centroids, unigram vocab, per-stratum pack fill), then the
    * delta (% 7 = 3) replayed against that frozen state: exact /
    * cross-banded MinHash / frozen-cluster cosine dedup where the
    * store side always wins, the same fixed benchmark screen, frozen
    * vocab tokenization (unspannable words charge ⌈len/4⌉), and the
    * pack walk CONTINUED from yesterday's carry. Final select: the
    * q368-shaped per-delta-doc ledger. */
  // ---- incremental-pipeline CTE generators (q370/q373/q374) --------
  // The store chain and the delta chain are each one reusable
  // generator so the one-day (q370), two-day absorbing (q373), and
  // signature-artifact (q374) replays share byte-identical stage SQL.

  private val IncDims = 64

  private val incMins = {
    val as = Seq(131, 137, 139, 149, 151, 157, 163, 167)
    val bs = Seq(17, 29, 47, 71, 89, 107, 131, 151)
    as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      s"MIN((h * $a + $b) % 1000000007) AS m$j"
    }.mkString(",\n      |    ")
  }

  private def incToksCte(src: String, out: String): String =
    s"""w_$out AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM $src),
       |$out AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS tok
       |  FROM w_$out, UNNEST(range(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 3)""".stripMargin

  private def incSigCte(toks: String, out: String): String =
    s"""h_$out AS (
       |  SELECT doc_id, tok,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
       |  FROM $toks),
       |$out AS MATERIALIZED (
       |  SELECT doc_id, $incMins
       |  FROM h_$out GROUP BY doc_id)""".stripMargin

  private def incAssignCte(src: String, cent: String, out: String): String =
    s"""d_$out AS MATERIALIZED (
       |  SELECT v.vec_id, v.q, c.cl,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
       |  FROM $src v CROSS JOIN $cent c),
       |$out AS MATERIALIZED (
       |  SELECT vec_id, q, cl FROM (
       |    SELECT vec_id, q, cl,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_$out)
       |  WHERE rn = 1)""".stripMargin

  private def incMeanCte(assigned: String, out: String): String =
    s"""m_$out AS MATERIALIZED (
       |  SELECT cl, d,
       |    CAST(FLOOR(CAST(SUM(q[d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
       |  FROM $assigned, UNNEST(range(1, ${IncDims + 1})) t(d) GROUP BY cl, d),
       |$out AS MATERIALIZED (
       |  SELECT cl, list(cv ORDER BY d) AS c FROM m_$out GROUP BY cl)""".stripMargin

  private def incNormCte(src: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, CAST(list_aggregate(list_transform(
       |    range(1, ${IncDims + 1}), i -> q[i] * q[i]), 'sum') AS BIGINT) AS n2
       |  FROM $src)""".stripMargin

  /** The exact-integer cosine ≥ 3/10 predicate between rows aliased
    * x (store side) and y (delta side), norms nx/ny. */
  private val incCosPred =
    s"""CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) >= 0
       |    AND CAST(CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) AS HUGEINT)
       |      * CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> x.q[i] * y.q[i]), 'sum') AS BIGINT) * 100
       |      >= 9 * CAST(nx.n2 AS HUGEINT) * ny.n2""".stripMargin

  /** The STORE build: run the full chain over `ad WHERE $dayFilter`,
    * freezing centroids (fc2), vocab (fvocab), curated members
    * (ymem), norms (yn2), carry (ycarry) and the full-corpus
    * contamination flags (cflg). Emits CTEs: ad, y0..y5, ylists,
    * yn2, ymem, cflg, fvocab, ycarry (+ internals). */
  private def incStoreCtes(dayFilter: String): String = {
    val yRounds = greedyRounds("ygr", "fvocab")
    s"""ad AS MATERIALIZED (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, source
       |  FROM documents),
       |y0 AS (SELECT * FROM ad WHERE $dayFilter),
       |y1 AS MATERIALIZED (
       |  SELECT * FROM y0 WHERE len(string_split(lower(text), ' ')) >= 40),
       |y2 AS MATERIALIZED (
       |  SELECT * FROM y1 WHERE doc_id IN (
       |    SELECT MIN(doc_id) FROM y1 GROUP BY text)),
       |${incToksCte("y2", "yt")},
       |${incSigCte("yt", "ysig")},
       |yc AS (
       |  SELECT DISTINCT a, b FROM (
       |  SELECT ga.doc_id AS a, gb.doc_id AS b FROM ysig ga JOIN ysig gb
       |    ON ga.m0=gb.m0 AND ga.m1=gb.m1 AND ga.m2=gb.m2 AND ga.m3=gb.m3
       |   AND ga.doc_id < gb.doc_id
       |  UNION ALL
       |  SELECT ga.doc_id, gb.doc_id FROM ysig ga JOIN ysig gb
       |    ON ga.m4=gb.m4 AND ga.m5=gb.m5 AND ga.m6=gb.m6 AND ga.m7=gb.m7
       |   AND ga.doc_id < gb.doc_id)),
       |yz AS (SELECT doc_id, COUNT(*) AS n FROM yt GROUP BY 1),
       |ymp AS MATERIALIZED (
       |  SELECT i.a, i.b FROM (
       |    SELECT c.a, c.b, COUNT(*) AS inter
       |    FROM yc c
       |    JOIN yt ta ON ta.doc_id = c.a
       |    JOIN yt tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |    GROUP BY 1, 2) i
       |  JOIN yz sa ON sa.doc_id = i.a
       |  JOIN yz sb ON sb.doc_id = i.b
       |  WHERE 2 * i.inter >= sa.n + sb.n - i.inter),
       |y3 AS MATERIALIZED (
       |  SELECT * FROM y2 WHERE doc_id NOT IN (SELECT b FROM ymp)),
       |yqv AS MATERIALIZED (
       |  SELECT e.vec_id, list_transform(e.embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings e JOIN y3 s ON s.doc_id = e.vec_id),
       |fc0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM yqv ORDER BY vec_id LIMIT 8)),
       |${incAssignCte("yqv", "fc0", "fa0")},
       |${incMeanCte("fa0", "fc1")},
       |${incAssignCte("yqv", "fc1", "fa1")},
       |${incMeanCte("fa1", "fc2")},
       |${incAssignCte("yqv", "fc2", "ylists")},
       |${incNormCte("yqv", "yn2")},
       |ydup AS MATERIALIZED (
       |  SELECT x.vec_id AS a, y.vec_id AS b FROM
       |    ylists x JOIN ylists y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |    JOIN yn2 nx ON nx.vec_id = x.vec_id
       |    JOIN yn2 ny ON ny.vec_id = y.vec_id
       |  WHERE $incCosPred),
       |y4 AS (SELECT * FROM y3 WHERE doc_id NOT IN
       |  (SELECT DISTINCT b FROM ydup)),
       |cb AS (
       |  SELECT doc_id, doc_id % 10 = 0 AS ib,
       |    string_split(lower(text), ' ') AS ws
       |  FROM ad),
       |cg AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS shingle
       |  FROM cb, UNNEST(range(1, len(ws) - 6)) t(i)
       |  WHERE len(ws) >= 8),
       |cbg AS (
       |  SELECT cg.shingle, cg.doc_id AS bench_doc
       |  FROM cg JOIN cb USING (doc_id) WHERE cb.ib),
       |cflg AS MATERIALIZED (
       |  SELECT DISTINCT c.doc_id
       |  FROM cg c JOIN cbg ON c.shingle = cbg.shingle
       |    AND c.doc_id <> cbg.bench_doc
       |  WHERE c.doc_id % 10 <> 0),
       |y5 AS MATERIALIZED (
       |  SELECT * FROM y4 WHERE doc_id NOT IN (SELECT doc_id FROM cflg)),
       |ytoks AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM y5),
       |fstarts AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM (SELECT tok FROM ytoks)),
       |fsub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM fstarts
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |fvocab AS MATERIALIZED (
       |  SELECT piece FROM fsub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |yw6 AS (SELECT DISTINCT tok AS word FROM ytoks WHERE len(tok) <= 12),
       |ygr0 AS (SELECT word, 0 AS pos, '' AS path FROM yw6),
       |$yRounds,
       |ypieces AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS np
       |  FROM ygr12 WHERE pos = len(word)),
       |ydt AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN p.np IS NOT NULL THEN p.np
       |      ELSE (len(t.tok) + 3) // 4 END) AS BIGINT) AS n_tokens
       |  FROM ytoks t LEFT JOIN ypieces p ON p.word = t.tok GROUP BY 1),
       |ystok AS MATERIALIZED (
       |  SELECT s.doc_id, s.source,
       |    CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens
       |  FROM y5 s LEFT JOIN ydt d USING (doc_id)),
       |ypt AS MATERIALIZED (
       |  SELECT source, doc_id, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM ystok),
       |ywalk(source, rn, doc_id, len, seq_id, seq_offset) AS (
       |  SELECT source, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM ypt WHERE rn = 1
       |  UNION ALL
       |  SELECT n.source, n.rn, n.doc_id, n.n_tokens,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
       |  FROM ywalk w JOIN ypt n ON n.source = w.source
       |    AND n.rn = w.rn + 1),
       |ycarry AS MATERIALIZED (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ywalk)
       |  WHERE rr = 1),
       |ymem AS (SELECT l.* FROM ylists l
       |  JOIN y5 ON y5.doc_id = l.vec_id)""".stripMargin
  }

  /** One DELTA day with CTE prefix `p` against a frozen store:
    * `storeDocs` (curated docs the exact/near stages dedup against),
    * `storeMem`/`storeNorm` (frozen-cluster members + norms for the
    * cross SemDeDup), `carry` (the pack continuation state). Emits
    * ${p}d0 (the raw day), ${p}1..${p}5, ${p}walk (+ internals). */
  private def incDeltaCtes(p: String, dayFilter: String,
      storeDocs: String, storeMem: String, storeNorm: String,
      carry: String, cents: String = "fc2",
      vocab: String = "fvocab", vecScale: Int = 1): String = {
    val rounds = greedyRounds(s"${p}gr", vocab)
    val scale = if (vecScale == 1) "" else s" * $vecScale"
    s"""${p}d0 AS (SELECT * FROM ad WHERE $dayFilter),
       |${p}1 AS MATERIALIZED (
       |  SELECT * FROM ${p}d0
       |  WHERE len(string_split(lower(text), ' ')) >= 40),
       |${p}2 AS MATERIALIZED (
       |  SELECT * FROM ${p}1
       |  WHERE text NOT IN (SELECT text FROM $storeDocs)
       |    AND doc_id IN (SELECT MIN(doc_id) FROM ${p}1 GROUP BY text)),
       |${incToksCte(s"${p}2", s"${p}t")},
       |${incSigCte(s"${p}t", s"${p}sig")},
       |${incToksCte(storeDocs, s"${p}st")},
       |${incSigCte(s"${p}st", s"${p}ssig")},
       |${p}xc AS (
       |  SELECT DISTINCT b_id, s_id FROM (
       |  SELECT b.doc_id AS b_id, s.doc_id AS s_id
       |  FROM ${p}sig b JOIN ${p}ssig s
       |    ON b.m0=s.m0 AND b.m1=s.m1 AND b.m2=s.m2 AND b.m3=s.m3
       |  UNION ALL
       |  SELECT b.doc_id, s.doc_id FROM ${p}sig b JOIN ${p}ssig s
       |    ON b.m4=s.m4 AND b.m5=s.m5 AND b.m6=s.m6 AND b.m7=s.m7)),
       |${p}z AS (SELECT doc_id, COUNT(*) AS n FROM ${p}t GROUP BY 1),
       |${p}sz AS (SELECT doc_id, COUNT(*) AS n FROM ${p}st GROUP BY 1),
       |${p}xmp AS MATERIALIZED (
       |  SELECT i.b_id FROM (
       |    SELECT c.b_id, c.s_id, COUNT(*) AS inter
       |    FROM ${p}xc c
       |    JOIN ${p}t tb ON tb.doc_id = c.b_id
       |    JOIN ${p}st ts ON ts.doc_id = c.s_id AND ts.tok = tb.tok
       |    GROUP BY 1, 2) i
       |  JOIN ${p}z nb ON nb.doc_id = i.b_id
       |  JOIN ${p}sz ns ON ns.doc_id = i.s_id
       |  WHERE 2 * i.inter >= nb.n + ns.n - i.inter),
       |${p}c AS (
       |  SELECT DISTINCT a, b FROM (
       |  SELECT ga.doc_id AS a, gb.doc_id AS b
       |  FROM ${p}sig ga JOIN ${p}sig gb
       |    ON ga.m0=gb.m0 AND ga.m1=gb.m1 AND ga.m2=gb.m2 AND ga.m3=gb.m3
       |   AND ga.doc_id < gb.doc_id
       |  UNION ALL
       |  SELECT ga.doc_id, gb.doc_id FROM ${p}sig ga JOIN ${p}sig gb
       |    ON ga.m4=gb.m4 AND ga.m5=gb.m5 AND ga.m6=gb.m6 AND ga.m7=gb.m7
       |   AND ga.doc_id < gb.doc_id)),
       |${p}mp AS MATERIALIZED (
       |  SELECT i.b FROM (
       |    SELECT c.a, c.b, COUNT(*) AS inter
       |    FROM ${p}c c
       |    JOIN ${p}t ta ON ta.doc_id = c.a
       |    JOIN ${p}t tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |    GROUP BY 1, 2) i
       |  JOIN ${p}z sa ON sa.doc_id = i.a
       |  JOIN ${p}z sb ON sb.doc_id = i.b
       |  WHERE 2 * i.inter >= sa.n + sb.n - i.inter),
       |${p}3 AS MATERIALIZED (
       |  SELECT * FROM ${p}2
       |  WHERE doc_id NOT IN (SELECT b_id FROM ${p}xmp)
       |    AND doc_id NOT IN (SELECT b FROM ${p}mp)),
       |${p}qv AS MATERIALIZED (
       |  SELECT e.vec_id, list_transform(e.embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)$scale) AS q
       |  FROM embeddings e JOIN ${p}3 s ON s.doc_id = e.vec_id),
       |${incAssignCte(s"${p}qv", cents, s"${p}lists")},
       |${incNormCte(s"${p}qv", s"${p}n2")},
       |${p}xsem AS MATERIALIZED (
       |  SELECT DISTINCT y.vec_id AS b FROM
       |    $storeMem x JOIN ${p}lists y ON x.cl = y.cl
       |    JOIN $storeNorm nx ON nx.vec_id = x.vec_id
       |    JOIN ${p}n2 ny ON ny.vec_id = y.vec_id
       |  WHERE $incCosPred),
       |${p}dup AS MATERIALIZED (
       |  SELECT x.vec_id AS a, y.vec_id AS b FROM
       |    ${p}lists x JOIN ${p}lists y
       |    ON x.cl = y.cl AND x.vec_id < y.vec_id
       |    JOIN ${p}n2 nx ON nx.vec_id = x.vec_id
       |    JOIN ${p}n2 ny ON ny.vec_id = y.vec_id
       |  WHERE $incCosPred),
       |${p}4 AS (SELECT * FROM ${p}3
       |  WHERE doc_id NOT IN (SELECT b FROM ${p}xsem)
       |    AND doc_id NOT IN (SELECT DISTINCT b FROM ${p}dup)),
       |${p}5 AS MATERIALIZED (
       |  SELECT * FROM ${p}4
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cflg)),
       |${p}toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM ${p}5),
       |${p}w6 AS (SELECT DISTINCT tok AS word FROM ${p}toks
       |  WHERE len(tok) <= 12),
       |${p}gr0 AS (SELECT word, 0 AS pos, '' AS path FROM ${p}w6),
       |$rounds,
       |${p}pieces AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS np
       |  FROM ${p}gr12 WHERE pos = len(word)),
       |${p}dt AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN p.np IS NOT NULL THEN p.np
       |      ELSE (len(t.tok) + 3) // 4 END) AS BIGINT) AS n_tokens
       |  FROM ${p}toks t LEFT JOIN ${p}pieces p ON p.word = t.tok
       |  GROUP BY 1),
       |${p}stok AS MATERIALIZED (
       |  SELECT s.doc_id, s.source,
       |    CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens
       |  FROM ${p}5 s LEFT JOIN ${p}dt d USING (doc_id)),
       |${p}pt AS MATERIALIZED (
       |  SELECT source, doc_id, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM ${p}stok),
       |${p}walk(source, rn, doc_id, len, seq_id, seq_offset) AS (
       |  SELECT p.source, p.rn, p.doc_id, p.n_tokens,
       |    CASE WHEN COALESCE(c.cf, 0) > 0
       |           AND COALESCE(c.cf, 0) + p.n_tokens > 256
       |         THEN COALESCE(c.cs, 0) + 1 ELSE COALESCE(c.cs, 0) END,
       |    CASE WHEN COALESCE(c.cf, 0) > 0
       |           AND COALESCE(c.cf, 0) + p.n_tokens > 256
       |         THEN CAST(0 AS BIGINT) ELSE COALESCE(c.cf, 0) END
       |  FROM ${p}pt p LEFT JOIN $carry c ON c.source = p.source
       |  WHERE p.rn = 1
       |  UNION ALL
       |  SELECT n.source, n.rn, n.doc_id, n.n_tokens,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_tokens > 256
       |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
       |  FROM ${p}walk w JOIN ${p}pt n ON n.source = w.source
       |    AND n.rn = w.rn + 1)""".stripMargin
  }

  /** The q368-shaped per-delta-doc ledger select body for prefix `p`
    * (no trailing ORDER BY — callers compose it). */
  private def incLedgerSelect(p: String): String =
    s"""SELECT d.doc_id,
       |  CASE WHEN g1.doc_id IS NULL THEN 'short'
       |       WHEN g2.doc_id IS NULL THEN 'exact_dup'
       |       WHEN g3.doc_id IS NULL THEN 'near_dup'
       |       WHEN g4.doc_id IS NULL THEN 'semantic_dup'
       |       WHEN g5.doc_id IS NULL THEN 'contaminated'
       |       ELSE 'kept' END AS disposition,
       |  CAST(COALESCE(w.seq_id, -1) AS BIGINT) AS seq_id,
       |  CAST(COALESCE(w.seq_offset, -1) AS BIGINT) AS seq_offset
       |FROM ${p}d0 d
       |LEFT JOIN ${p}1 g1 ON g1.doc_id = d.doc_id
       |LEFT JOIN ${p}2 g2 ON g2.doc_id = d.doc_id
       |LEFT JOIN ${p}3 g3 ON g3.doc_id = d.doc_id
       |LEFT JOIN ${p}4 g4 ON g4.doc_id = d.doc_id
       |LEFT JOIN ${p}5 g5 ON g5.doc_id = d.doc_id
       |LEFT JOIN ${p}walk w ON w.doc_id = d.doc_id""".stripMargin

  private[graft] val q370 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 3")},
       |${incDeltaCtes("d", "doc_id % 7 = 3", "y5", "ymem", "yn2",
          "ycarry")}
       |${incLedgerSelect("d")}
       |ORDER BY d.doc_id""".stripMargin

  /** q373: the two-day ABSORBING loop — day 0 (doc_id % 7 ∉ {2,3})
    * builds the frozen store; day 1 (% 7 = 2) runs the delta chain
    * and is absorbed (store1 = y5 ∪ e5, members/norms extended,
    * carry advanced per the packCarryMerge rule); day 2 (% 7 = 3)
    * runs against the GROWN store. Final select: both day ledgers,
    * day-tagged. */
  private[graft] val q373 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 2 AND doc_id % 7 <> 3")},
       |${incDeltaCtes("e", "doc_id % 7 = 2", "y5", "ymem", "yn2",
          "ycarry")},
       |store1 AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM y5
       |  UNION ALL SELECT doc_id, text, source FROM e5),
       |smem1 AS (
       |  SELECT * FROM ymem
       |  UNION ALL
       |  SELECT l.* FROM elists l JOIN e5 ON e5.doc_id = l.vec_id),
       |sn1 AS (SELECT * FROM yn2 UNION ALL SELECT * FROM en2),
       |ecl AS (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ewalk)
       |  WHERE rr = 1),
       |carry1 AS (
       |  SELECT source, cs, cf FROM ecl
       |  UNION ALL
       |  SELECT source, cs, cf FROM ycarry
       |  WHERE source NOT IN (SELECT source FROM ecl)),
       |${incDeltaCtes("f", "doc_id % 7 = 3", "store1", "smem1", "sn1",
          "carry1")},
       |led1 AS (${incLedgerSelect("e")}),
       |led2 AS (${incLedgerSelect("f")})
       |SELECT doc_id, day, disposition, seq_id, seq_offset FROM (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS day, disposition,
       |    seq_id, seq_offset FROM led1
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS BIGINT), disposition,
       |    seq_id, seq_offset FROM led2)
       |ORDER BY doc_id""".stripMargin

  /** q374: the signature-store cross near-dup pass — the verified
    * (batch, store) pairs of q370's near-dup stage. The engine reads
    * the store side from the persisted (doc_id, m0..m7, n_toks)
    * artifact; this replay recomputes signatures from text — equal
    * by the artifact contract (additionally spec-pinned). */
  private[graft] val q374 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 3")},
       |${incDeltaCtes("d", "doc_id % 7 = 3", "y5", "ymem", "yn2",
          "ycarry")}
       |SELECT i.b_id, i.s_id, CAST(i.inter AS BIGINT) AS inter,
       |  CAST(nb.n + ns.n - i.inter AS BIGINT) AS uni
       |FROM (
       |  SELECT c.b_id, c.s_id, COUNT(*) AS inter
       |  FROM dxc c
       |  JOIN dt tb ON tb.doc_id = c.b_id
       |  JOIN dst ts ON ts.doc_id = c.s_id AND ts.tok = tb.tok
       |  GROUP BY 1, 2) i
       |JOIN dz nb ON nb.doc_id = i.b_id
       |JOIN dsz ns ON ns.doc_id = i.s_id
       |WHERE 2 * i.inter >= nb.n + ns.n - i.inter
       |ORDER BY i.b_id, i.s_id""".stripMargin

  /** q371: the shard manifest — q362's packed sequences per-seq
    * aggregated, keyed by the char-fold of "source:seq_id", placed by
    * ring successor (q357 vnodes), rolled up per shard with zero-load
    * rows kept. */
  private[graft] val q371 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${ringCtes(16)},
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq),
       |sa AS (
       |  SELECT sp.n_docs, sp.n_tokens,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM sp),
       |scnt AS (
       |  SELECT vp.shard, CAST(COUNT(*) AS BIGINT) AS n_seqs,
       |    CAST(SUM(a.n_docs) AS BIGINT) AS n_docs,
       |    CAST(SUM(a.n_tokens) AS BIGINT) AS n_tokens
       |  FROM sa a JOIN vp ON vp.pos = a.vpos GROUP BY 1),
       |stot AS (
       |  SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t FROM sq)
       |SELECT s.shard,
       |  CAST(COALESCE(c.n_seqs, 0) AS BIGINT) AS n_seqs,
       |  CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN t.t > 0
       |    THEN CAST(COALESCE(c.n_tokens, 0) * 1000000 // t.t AS BIGINT)
       |    ELSE CAST(-1 AS BIGINT) END AS token_ppm
       |FROM (SELECT DISTINCT shard FROM vp) s
       |LEFT JOIN scnt c ON c.shard = s.shard, stot t
       |ORDER BY s.shard""".stripMargin

  /** q372: replicated reshard movement 16 → 20 at R=3 — before/after
    * replica sets from the q363 walk-rank replay (before = the
    * 20-shard vnode table restricted to shards < 16, the q358
    * shared-labels contract); copies_moved counts after-set members
    * absent from the before set. */
  private[graft] val q372 =
    s"""WITH ${ringCtes(20)},
       |ordb AS (
       |  SELECT k.doc_id, vp.shard,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id
       |      ORDER BY (vp.pos < k.p), vp.pos) AS rnk
       |  FROM keys k CROSS JOIN vp WHERE vp.shard < 16),
       |fb AS (SELECT doc_id, shard, MIN(rnk) AS fr
       |       FROM ordb GROUP BY 1, 2),
       |bset AS MATERIALIZED (
       |  SELECT doc_id, shard, rk FROM (
       |    SELECT doc_id, shard,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fr) AS rk
       |    FROM fb)
       |  WHERE rk <= 3),
       |orda AS (
       |  SELECT k.doc_id, vp.shard,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id
       |      ORDER BY (vp.pos < k.p), vp.pos) AS rnk
       |  FROM keys k CROSS JOIN vp),
       |fa AS (SELECT doc_id, shard, MIN(rnk) AS fr
       |       FROM orda GROUP BY 1, 2),
       |aset AS MATERIALIZED (
       |  SELECT doc_id, shard, rk FROM (
       |    SELECT doc_id, shard,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fr) AS rk
       |    FROM fa)
       |  WHERE rk <= 3),
       |mov AS (
       |  SELECT a.doc_id, a.shard FROM aset a
       |  LEFT JOIN bset b ON b.doc_id = a.doc_id AND b.shard = a.shard
       |  WHERE b.shard IS NULL),
       |pm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, shard FROM bset WHERE rk = 1) b
       |  JOIN (SELECT doc_id, shard FROM aset WHERE rk = 1) a
       |    USING (doc_id)
       |  WHERE b.shard <> a.shard),
       |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys)
       |SELECT nk.n AS n_keys,
       |  pm.n AS primary_moved,
       |  CASE WHEN nk.n > 0
       |    THEN CAST(pm.n * 1000000 // nk.n AS BIGINT)
       |    ELSE CAST(-1 AS BIGINT) END AS primary_moved_ppm,
       |  CAST((SELECT COUNT(*) FROM mov) AS BIGINT) AS copies_moved,
       |  CASE WHEN nk.n > 0
       |    THEN CAST((SELECT COUNT(*) FROM mov) * 1000000
       |      // (nk.n * 3) AS BIGINT)
       |    ELSE CAST(-1 AS BIGINT) END AS copies_moved_ppm
       |FROM nk, pm""".stripMargin

  /** q375: WEIGHTED replicated reshard — the q361 capacity fleet
    * grown by 64 vnodes of capacity either as one big box (cap 64)
    * or four small ones (cap 16 each), R = 3. Weighted vnode tables
    * per ring from capacity VALUES rows; before-set computed once
    * (shared by both scenarios), each after-set via the q363
    * walk-rank replay; copies_moved counts after-set members absent
    * from the before set. */
  private[graft] val q375 = {
    val caps = Seq(64, 64, 32, 32, 32, 32, 16, 16, 16, 16, 16, 16,
      8, 8, 8, 8)
    def capRows(cs: Seq[Int]): String = cs.zipWithIndex
      .map { case (c, s) => s"($s, $c)" }.mkString(", ")
    // weighted vnode position table from a capacity VALUES list
    def vpCte(name: String, cs: Seq[Int]): String =
      s"""${name}caps AS (SELECT * FROM (VALUES ${capRows(cs)})
         |  c(shard, cap)),
         |${name}vn0 AS (
         |  SELECT CAST(shard AS BIGINT) AS shard,
         |    CAST(UNNEST(range(0, cap)) AS BIGINT) AS v
         |  FROM ${name}caps),
         |${name}vf AS (
         |  SELECT shard,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split('shard:' || shard || ':' || v, ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
         |  FROM ${name}vn0),
         |${name}vp AS (
         |  SELECT shard,
         |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
         |  FROM ${name}vf)""".stripMargin
    // first-3-distinct-shard replica set against a vnode table
    def rset(name: String, vp: String): String =
      s"""${name}ord AS (
         |  SELECT k.doc_id, t.shard,
         |    ROW_NUMBER() OVER (PARTITION BY k.doc_id
         |      ORDER BY (t.pos < k.p), t.pos) AS rnk
         |  FROM keys k CROSS JOIN $vp t),
         |${name}f AS (SELECT doc_id, shard, MIN(rnk) AS fr
         |  FROM ${name}ord GROUP BY 1, 2),
         |${name}set AS MATERIALIZED (
         |  SELECT doc_id, shard, rk FROM (
         |    SELECT doc_id, shard,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fr) AS rk
         |    FROM ${name}f)
         |  WHERE rk <= 3)""".stripMargin
    // one audit row for a scenario whose after-set CTE is <s>set
    def scenarioRow(label: String, s: String): String =
      s"""SELECT '$label' AS scenario, nk.n AS n_keys,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |   FROM (SELECT doc_id, shard FROM bset WHERE rk = 1) b
         |   JOIN (SELECT doc_id, shard FROM ${s}set WHERE rk = 1) a
         |     USING (doc_id)
         |   WHERE b.shard <> a.shard) AS primary_moved,
         |  CASE WHEN nk.n > 0 THEN CAST(
         |    (SELECT COUNT(*)
         |     FROM (SELECT doc_id, shard FROM bset WHERE rk = 1) b
         |     JOIN (SELECT doc_id, shard FROM ${s}set WHERE rk = 1) a
         |       USING (doc_id)
         |     WHERE b.shard <> a.shard) * 1000000 // nk.n AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END AS primary_moved_ppm,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${s}set a
         |   LEFT JOIN bset b ON b.doc_id = a.doc_id
         |     AND b.shard = a.shard
         |   WHERE b.shard IS NULL) AS copies_moved,
         |  CASE WHEN nk.n > 0 THEN CAST(
         |    (SELECT COUNT(*) FROM ${s}set a
         |     LEFT JOIN bset b ON b.doc_id = a.doc_id
         |       AND b.shard = a.shard
         |     WHERE b.shard IS NULL) * 1000000 // (nk.n * 3) AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END AS copies_moved_ppm
         |FROM nk""".stripMargin
    s"""WITH ${vpCte("b", caps)},
       |${vpCte("g", caps :+ 64)},
       |${vpCte("s", caps ++ Seq(16, 16, 16, 16))},
       |keys AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    ((doc_id % 1000000007) * 2654435761 + 40503)
       |      % 1000000007 AS p
       |  FROM documents),
       |${rset("b", "bvp")},
       |${rset("g", "gvp")},
       |${rset("s", "svp")},
       |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys)
       |SELECT * FROM (
       |  ${scenarioRow("one_big", "g")}
       |  UNION ALL
       |  ${scenarioRow("four_small", "s")})
       |ORDER BY scenario""".stripMargin
  }

  /** q376: the loader-contract manifest — q371's per-sequence shard
    * placement with each shard's deterministic (source, seq_id) read
    * order: 1-based sequence rank and the cumulative token offset
    * where each sequence starts. */
  private[graft] val q376 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${ringCtes(16)},
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq),
       |sa AS (
       |  SELECT sp.source, sp.seq_id, sp.n_docs, sp.n_tokens,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM sp),
       |sb AS (
       |  SELECT vp.shard, a.source, a.seq_id, a.n_docs, a.n_tokens
       |  FROM sa a JOIN vp ON vp.pos = a.vpos)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
       |    ORDER BY source, seq_id) AS BIGINT) AS seq_rank,
       |  source, CAST(seq_id AS BIGINT) AS seq_id,
       |  n_docs, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |    ORDER BY source, seq_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS token_offset
       |FROM sb
       |ORDER BY shard, seq_rank""".stripMargin

  /** q377: SEGMENTED CONTINUED packing replay — yesterday (even
    * doc_ids) through the plain q353 walk leaving a per-stratum
    * carry, today (odd ids) through the q364 segment walk with the
    * FIRST segment of each stratum seeded from that carry (absolute
    * sequence ids); the splice window is byte-identical to q364's,
    * and the carry seeding mirrors q370's continued walk base case. */
  private[graft] val q377 =
    s"""WITH RECURSIVE
       |ty AS MATERIALIZED (
       |  SELECT source, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents WHERE doc_id % 2 = 0),
       |ywalk(source, rn, doc_id, len, seq_id, seq_offset) AS (
       |  SELECT source, rn, doc_id, n_chars,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM ty WHERE rn = 1
       |  UNION ALL
       |  SELECT n.source, n.rn, n.doc_id, n.n_chars,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_chars > 2000
       |         THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_chars > 2000
       |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
       |  FROM ywalk w JOIN ty n ON n.source = w.source
       |    AND n.rn = w.rn + 1),
       |qcarry AS MATERIALIZED (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ywalk)
       |  WHERE rr = 1),
       |td AS MATERIALIZED (
       |  SELECT source, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents WHERE doc_id % 2 <> 0),
       |ts7 AS MATERIALIZED (
       |  SELECT source, (rn - 1) // 8 AS seg, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source, (rn - 1) // 8
       |      ORDER BY doc_id) AS srn
       |  FROM td),
       |swalk7(source, seg, srn, doc_id, len, lseq, seq_offset) AS (
       |  SELECT t.source, t.seg, t.srn, t.doc_id, t.n_chars,
       |    CASE WHEN t.seg = 0 AND COALESCE(c.cf, 0) > 0
       |           AND COALESCE(c.cf, 0) + t.n_chars > 2000
       |         THEN COALESCE(c.cs, 0) + 1
       |         WHEN t.seg = 0 THEN COALESCE(c.cs, 0)
       |         ELSE CAST(0 AS BIGINT) END,
       |    CASE WHEN t.seg = 0 AND COALESCE(c.cf, 0) > 0
       |           AND COALESCE(c.cf, 0) + t.n_chars > 2000
       |         THEN CAST(0 AS BIGINT)
       |         WHEN t.seg = 0 THEN COALESCE(c.cf, 0)
       |         ELSE CAST(0 AS BIGINT) END
       |  FROM ts7 t LEFT JOIN qcarry c ON c.source = t.source
       |  WHERE t.srn = 1
       |  UNION ALL
       |  SELECT n.source, n.seg, n.srn, n.doc_id, n.n_chars,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_chars > 2000
       |         THEN w.lseq + 1 ELSE w.lseq END,
       |    CASE WHEN w.seq_offset + w.len > 0
       |           AND w.seq_offset + w.len + n.n_chars > 2000
       |         THEN CAST(0 AS BIGINT) ELSE w.seq_offset + w.len END
       |  FROM swalk7 w JOIN ts7 n ON n.source = w.source
       |    AND n.seg = w.seg AND n.srn = w.srn + 1),
       |segb7 AS MATERIALIZED (
       |  SELECT source, seg,
       |    CAST(COALESCE(SUM(n_seqs) OVER (PARTITION BY source
       |      ORDER BY seg ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS seq_base
       |  FROM (SELECT source, seg, MAX(lseq) + 1 AS n_seqs
       |        FROM swalk7 GROUP BY source, seg))
       |SELECT w.source, w.doc_id, CAST(w.len AS BIGINT) AS len,
       |  CAST(b.seq_base + w.lseq AS BIGINT) AS seq_id, w.seq_offset
       |FROM swalk7 w JOIN segb7 b ON b.source = w.source
       |  AND b.seg = w.seg
       |ORDER BY w.source, w.doc_id""".stripMargin

  /** q379: the incremental manifest diff — today's continued pack
    * walk (q370's dwalk) grouped per (source, seq_id), placed on the
    * q357 ring by the char-fold of "source:seq_id" (the q371 key —
    * identical for the carried sequence, so its shard is stable),
    * flagged extends_carry when the sequence is yesterday's carried
    * partial. */
  private[graft] val q379 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 3")},
       |${incDeltaCtes("d", "doc_id % 7 = 3", "y5", "ymem", "yn2",
          "ycarry")},
       |${ringCtes(16)},
       |dman AS (
       |  SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs_add,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens_add,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM dwalk GROUP BY source, seq_id),
       |dmp2 AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM dman),
       |dma AS (
       |  SELECT m.source, m.seq_id, m.n_docs_add, m.n_tokens_add,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= m.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM dmp2 m)
       |SELECT vp.shard, a.source, a.seq_id, a.n_docs_add,
       |  a.n_tokens_add,
       |  c.source IS NOT NULL AND a.seq_id = c.cs AS extends_carry
       |FROM dma a JOIN vp ON vp.pos = a.vpos
       |LEFT JOIN ycarry c ON c.source = a.source
       |ORDER BY a.source, a.seq_id""".stripMargin

  /** q380: the serving-refresh composition — IVF top-5 at nProbe = 2
    * under the FROZEN centroids, over inverted lists = store curated
    * members (ylists ⋈ y5) plus the absorbed day's kept members
    * (dlists ⋈ d5); probes are the q176 eval-set convention
    * (vec_id % 20 = 0, uncurated), exact integer cosine ranking. */
  private[graft] val q380 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 3")},
       |${incDeltaCtes("d", "doc_id % 7 = 3", "y5", "ymem", "yn2",
          "ycarry")},
       |aqv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |l380 AS (
       |  SELECT l.vec_id, l.q, l.cl FROM ylists l
       |  JOIN y5 ON y5.doc_id = l.vec_id
       |  UNION ALL
       |  SELECT l.vec_id, l.q, l.cl FROM dlists l
       |  JOIN d5 ON d5.doc_id = l.vec_id),
       |pd380 AS (
       |  SELECT v.vec_id, v.q, c.cl,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), 'sum') AS BIGINT) AS d2
       |  FROM aqv v CROSS JOIN fc2 c WHERE v.vec_id % 20 = 0),
       |p380 AS (
       |  SELECT vec_id AS qid, q AS qq, cl FROM (
       |    SELECT vec_id, q, cl,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM pd380)
       |  WHERE rn <= 2),
       |sc380 AS (
       |  SELECT p.qid, l.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> p.qq[i] * l.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM p380 p JOIN l380 l ON p.cl = l.cl AND l.vec_id <> p.qid)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank,
       |  cid AS neighbor_id, idot, cid % 7 = 3 AS from_delta
       |FROM (SELECT qid, cid, idot,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY idot DESC, cid ASC) AS rn
       |      FROM sc380)
       |WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** q383: quota admission — the day's kept docs (q370's dwalk rows)
    * offered per source in id order, admitted while the cumulative
    * token prefix stays within half the day's per-source offer. */
  private[graft] val q383 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 3")},
       |${incDeltaCtes("d", "doc_id % 7 = 3", "y5", "ymem", "yn2",
          "ycarry")},
       |off383 AS (
       |  SELECT source, doc_id, CAST(len AS BIGINT) AS n_tokens
       |  FROM dwalk),
       |bud383 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off383 GROUP BY 1),
       |cum383 AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM off383)
       |SELECT c.source, c.doc_id, c.n_tokens, c.cum_before,
       |  c.cum_before + c.n_tokens <= b.budget AS admitted
       |FROM cum383 c JOIN bud383 b USING (source)
       |ORDER BY c.source, c.doc_id""".stripMargin

  /** q384: the two-day quota ledger — q373's absorbing chains plus
    * two FIFO prefix-admission windows: day 1 admits under half its
    * offer, the rejects join day 2's offer with (offered_day, id)
    * priority, day 2 admits under half the combined offer. */
  private[graft] val q384 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 2 AND doc_id % 7 <> 3")},
       |${incDeltaCtes("e", "doc_id % 7 = 2", "y5", "ymem", "yn2",
          "ycarry")},
       |store1 AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM y5
       |  UNION ALL SELECT doc_id, text, source FROM e5),
       |smem1 AS (
       |  SELECT * FROM ymem
       |  UNION ALL
       |  SELECT l.* FROM elists l JOIN e5 ON e5.doc_id = l.vec_id),
       |sn1 AS (SELECT * FROM yn2 UNION ALL SELECT * FROM en2),
       |ecl AS (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ewalk)
       |  WHERE rr = 1),
       |carry1 AS (
       |  SELECT source, cs, cf FROM ecl
       |  UNION ALL
       |  SELECT source, cs, cf FROM ycarry
       |  WHERE source NOT IN (SELECT source FROM ecl)),
       |${incDeltaCtes("f", "doc_id % 7 = 3", "store1", "smem1", "sn1",
          "carry1")},
       |off1 AS (
       |  SELECT source, doc_id, CAST(len AS BIGINT) AS n_tokens,
       |    CAST(1 AS BIGINT) AS offered_day
       |  FROM ewalk),
       |bud1 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off1 GROUP BY 1),
       |cum1 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM off1),
       |adm1 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum1 c JOIN bud1 b USING (source)),
       |off2 AS (
       |  SELECT source, doc_id, n_tokens, offered_day
       |  FROM adm1 WHERE NOT admitted
       |  UNION ALL
       |  SELECT source, doc_id, CAST(len AS BIGINT),
       |    CAST(2 AS BIGINT)
       |  FROM fwalk),
       |bud2 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off2 GROUP BY 1),
       |cum2 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY offered_day, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM off2),
       |adm2 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum2 c JOIN bud2 b USING (source))
       |SELECT doc_id, source, n_tokens, offered_day,
       |  CAST(1 AS BIGINT) AS admitted_day
       |FROM adm1 WHERE admitted
       |UNION ALL
       |SELECT doc_id, source, n_tokens, offered_day,
       |  CAST(CASE WHEN admitted THEN 2 ELSE -1 END AS BIGINT)
       |FROM adm2
       |ORDER BY doc_id""".stripMargin

  /** q382: multi-epoch loader order — q376's per-sequence placement
    * crossed with epochs {0, 1}; each (epoch, sequence) sort key is
    * the char-fold of "epoch:<e>:<source>:<seq_id>" through the
    * quadratic mix, ranked per (shard, epoch) with (source, seq_id)
    * tie-breaks and an epoch-local token prefix sum. */
  private[graft] val q382 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${ringCtes(16)},
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id, CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq),
       |sa AS (
       |  SELECT sp.source, sp.seq_id, sp.n_tokens,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM sp),
       |sb AS (
       |  SELECT vp.shard, a.source, a.seq_id, a.n_tokens
       |  FROM sa a JOIN vp ON vp.pos = a.vpos),
       |sqe AS (
       |  SELECT s.*, CAST(t.e AS BIGINT) AS epoch
       |  FROM sb s CROSS JOIN (VALUES (0), (1)) t(e)),
       |eff AS (
       |  SELECT *,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(
       |        'epoch:' || epoch || ':' || source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS ef
       |  FROM sqe),
       |posd AS (
       |  SELECT *, (ef * ef + ef * 2654435761 + 40503)
       |    % 1000000007 AS pos
       |  FROM eff)
       |SELECT CAST(shard AS BIGINT) AS shard, epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard, epoch
       |    ORDER BY pos, source, seq_id) AS BIGINT) AS read_rank,
       |  source, CAST(seq_id AS BIGINT) AS seq_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard, epoch
       |    ORDER BY pos, source, seq_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS token_offset
       |FROM posd
       |ORDER BY shard, epoch, read_rank""".stripMargin

  /** q381: tokenizer drift across the day boundary — yesterday's
    * piece vocabulary (gated %7≠3 docs) vs the union-retrained one,
    * every ≤12-char distinct word of the union greedily segmented
    * under BOTH (two greedyRounds walks), classified and rolled up
    * with occurrence mass and exact token delta; the VALUES anchor
    * keeps provably-empty classes as 0-rows. */
  private def tokenizerDriftSql(gyPredicate: String) = {
    val r1 = greedyRounds("g1gr", "vv1")
    val r2 = greedyRounds("g2gr", "vv2")
    s"""WITH RECURSIVE
       |ad AS MATERIALIZED (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
       |gy AS (SELECT * FROM ad WHERE $gyPredicate
       |  AND len(string_split(lower(text), ' ')) >= 40),
       |ga AS (SELECT * FROM ad
       |  WHERE len(string_split(lower(text), ' ')) >= 40),
       |ytk AS MATERIALIZED (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM gy),
       |atk AS MATERIALIZED (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM ga),
       |occ381 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS occ
       |  FROM atk GROUP BY 1),
       |ys AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM ytk),
       |ysub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM ys JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vv1 AS MATERIALIZED (
       |  SELECT piece FROM ysub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |as381 AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM atk),
       |asub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM as381 JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |vv2 AS MATERIALIZED (
       |  SELECT piece FROM asub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |w381 AS (SELECT DISTINCT tok AS word FROM atk
       |  WHERE len(tok) <= 12),
       |g1gr0 AS (SELECT word, 0 AS pos, '' AS path FROM w381),
       |$r1,
       |p1 AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS npy
       |  FROM g1gr12 WHERE pos = len(word)),
       |g2gr0 AS (SELECT word, 0 AS pos, '' AS path FROM w381),
       |$r2,
       |p2 AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(string_split(path, '|')) - 1 AS BIGINT) AS npa
       |  FROM g2gr12 WHERE pos = len(word)),
       |cls AS (
       |  SELECT o.tok, o.occ,
       |    CASE WHEN len(o.tok) > 12 THEN 'over_dp_bound'
       |         WHEN p1.npy IS NULL AND p2.npa IS NULL THEN 'unspannable'
       |         WHEN p1.npy IS NULL THEN 'newly_spannable'
       |         WHEN p2.npa IS NULL THEN 'newly_unspannable'
       |         WHEN p2.npa < p1.npy THEN 'fewer_pieces'
       |         WHEN p2.npa > p1.npy THEN 'more_pieces'
       |         ELSE 'unchanged' END AS change,
       |    (COALESCE(p2.npa, (len(o.tok) + 3) // 4)
       |      - COALESCE(p1.npy, (len(o.tok) + 3) // 4)) * o.occ AS delta
       |  FROM occ381 o
       |  LEFT JOIN p1 ON p1.word = o.tok
       |  LEFT JOIN p2 ON p2.word = o.tok),
       |agg381 AS (
       |  SELECT change, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(occ) AS BIGINT) AS n_occ,
       |    CAST(SUM(delta) AS BIGINT) AS token_delta
       |  FROM cls GROUP BY change)
       |SELECT a.change,
       |  CAST(COALESCE(g.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(g.n_occ, 0) AS BIGINT) AS n_occ,
       |  CAST(COALESCE(g.token_delta, 0) AS BIGINT) AS token_delta
       |FROM (VALUES ('fewer_pieces'), ('more_pieces'),
       |  ('newly_spannable'), ('newly_unspannable'), ('over_dp_bound'),
       |  ('unchanged'), ('unspannable')) a(change)
       |LEFT JOIN agg381 g ON g.change = a.change
       |ORDER BY a.change""".stripMargin
  }

  private[graft] val q381 = tokenizerDriftSql("doc_id % 7 <> 3")

  /** q389: the cold-start drift variant — yesterday's vocabulary is
    * the BOOTSTRAP one, trained when the store held only its first
    * gate-surviving document; the comparison corpus is the full gated
    * fixture. Same classes and machinery as q381, but on this slice
    * the fixture genuinely differentiates: `fewer_pieces` carries
    * real mass (the closed-vocab fixture defeats every day-split
    * variant — SCALE.md round 15 "fixture honesty"). */
  private[graft] val q389 = tokenizerDriftSql(
    """doc_id = (SELECT MIN(doc_id) FROM ad
       |    WHERE len(string_split(lower(text), ' ')) >= 40)""".stripMargin)

  /** q378: the retrain trigger at the absorb boundary — the q352
    * drift readout over the REAL pipeline store: store-member vs
    * absorbed-day mean squared distance to the frozen centroids,
    * reusing the store chain's d_ylists and day-1's d_elists
    * all-pairs distance CTEs (winning row per vec). */
  private[graft] val q378 =
    s"""WITH RECURSIVE
       |${incStoreCtes("doc_id % 7 <> 2 AND doc_id % 7 <> 3")},
       |${incDeltaCtes("e", "doc_id % 7 = 2", "y5", "ymem", "yn2",
          "ycarry")},
       |yd2 AS (
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_ylists) a
       |  JOIN y5 ON y5.doc_id = a.vec_id
       |  WHERE a.rn = 1),
       |ed2 AS (
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_elists) a
       |  JOIN e5 ON e5.doc_id = a.vec_id
       |  WHERE a.rn = 1)
       |SELECT b.cl AS cluster_id,
       |  CAST(COALESCE(y.n, 0) AS BIGINT) AS n_store,
       |  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_absorbed,
       |  CAST(COALESCE(y.s, 0) // GREATEST(COALESCE(y.n, 0), 1) AS BIGINT)
       |    AS mean_d2_store,
       |  CAST(COALESCE(d.s, 0) // GREATEST(COALESCE(d.n, 0), 1) AS BIGINT)
       |    AS mean_d2_absorbed,
       |  CAST(COALESCE(d.s, 0) AS HUGEINT) * COALESCE(y.n, 0) * 4 >
       |    CAST(COALESCE(y.s, 0) AS HUGEINT) * COALESCE(d.n, 0) * 5
       |    AS retrain
       |FROM (SELECT DISTINCT cl FROM fc2) b
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM yd2 GROUP BY cl) y ON y.cl = b.cl
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM ed2 GROUP BY cl) d ON d.cl = b.cl
       |ORDER BY cluster_id""".stripMargin

  /** q385: the RETRAIN arm executed — the absorbed store (q370's day
    * folded in) gets fresh Lloyd centroids trained on its own member
    * vectors (same deterministic seed: 8 lowest vec_ids, 2
    * iterations), every member is re-assigned, the SemDeDup re-screen
    * runs under the NEW blocking, and the per-cluster frozen-vs-
    * retrained readout is published. Frozen-side distances reuse the
    * chain's all-pairs CTEs (d_ylists/d_dlists, the q378 pattern). */
  /** Shared q385/q390/q392/q393 retrain chain: the store + one
    * absorbed delta (prefix `dp`), the grown store's member vectors
    * (rqv), a fresh 2-iteration Lloyd (rc0 → rc2x) with the same
    * deterministic seed, the re-assignment (rlists, with d_rlists
    * carrying per-pair distances), norms, and the SemDeDup re-screen
    * drops under the new blocking (rdup). Defaults are the q385/q390
    * geometry (store = %7≠3, delta d = %7=3); q392/q393 retrain at
    * the day-1 boundary instead (store = %7∉{2,3}, delta e = %7=2)
    * and then run day 2 under the refreeze. */
  private def retrainChainCtes(
      storeFilter: String = "doc_id % 7 <> 3",
      dp: String = "d",
      deltaFilter: String = "doc_id % 7 = 3",
      dayScale: Int = 1): String = {
    // store-side vectors are always unscaled; a dayScale != 1 models
    // tonight's vectors arriving from a SHIFTED encoder (q397) — the
    // day branch of the grown corpus scales, the store does not
    val rqv =
      if (dayScale == 1)
        s"""rqv AS MATERIALIZED (
           |  SELECT e.vec_id, list_transform(e.embedding,
           |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
           |  FROM embeddings e JOIN (
           |    SELECT doc_id FROM y5 UNION ALL SELECT doc_id FROM ${dp}5) s
           |    ON s.doc_id = e.vec_id),""".stripMargin
      else
        s"""rqv AS MATERIALIZED (
           |  SELECT e.vec_id, list_transform(e.embedding,
           |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
           |  FROM embeddings e JOIN y5 s ON s.doc_id = e.vec_id
           |  UNION ALL
           |  SELECT e.vec_id, list_transform(e.embedding,
           |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)
           |      * $dayScale) AS q
           |  FROM embeddings e JOIN ${dp}5 s ON s.doc_id = e.vec_id),"""
          .stripMargin
    s"""${incStoreCtes(storeFilter)},
       |${incDeltaCtes(dp, deltaFilter, "y5", "ymem", "yn2",
          "ycarry", vecScale = dayScale)},
       |$rqv
       |rc0 AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
       |    q AS c
       |  FROM (SELECT vec_id, q FROM rqv ORDER BY vec_id LIMIT 8)),
       |${incAssignCte("rqv", "rc0", "ra0")},
       |${incMeanCte("ra0", "rc1")},
       |${incAssignCte("rqv", "rc1", "ra1")},
       |${incMeanCte("ra1", "rc2x")},
       |${incAssignCte("rqv", "rc2x", "rlists")},
       |${incNormCte("rqv", "rn2x")},
       |rdup AS MATERIALIZED (
       |  SELECT DISTINCT y.vec_id AS b FROM
       |    rlists x JOIN rlists y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |    JOIN rn2x nx ON nx.vec_id = x.vec_id
       |    JOIN rn2x ny ON ny.vec_id = y.vec_id
       |  WHERE $incCosPred)""".stripMargin
  }

  private[graft] val q385 =
    s"""WITH RECURSIVE
       |${retrainChainCtes()},
       |fz AS MATERIALIZED (
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_ylists) a
       |  JOIN y5 ON y5.doc_id = a.vec_id WHERE a.rn = 1
       |  UNION ALL
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_dlists) a
       |  JOIN d5 ON d5.doc_id = a.vec_id WHERE a.rn = 1),
       |rt AS MATERIALIZED (
       |  SELECT vec_id, cl, d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_rlists)
       |  WHERE rn = 1),
       |mv AS (
       |  SELECT f.cl, CAST(COUNT(*) AS BIGINT) AS n_re
       |  FROM fz f JOIN rt r ON r.vec_id = f.vec_id AND r.cl <> f.cl
       |  GROUP BY 1),
       |dr AS (
       |  SELECT r.cl, CAST(COUNT(*) AS BIGINT) AS n_drop
       |  FROM rt r JOIN rdup d ON d.b = r.vec_id GROUP BY 1)
       |SELECT b.cl AS cluster_id,
       |  CAST(COALESCE(f.n, 0) AS BIGINT) AS n_frozen,
       |  CAST(COALESCE(f.s, 0) // GREATEST(COALESCE(f.n, 0), 1)
       |    AS BIGINT) AS mean_d2_frozen,
       |  CAST(COALESCE(r.n, 0) AS BIGINT) AS n_retrained,
       |  CAST(COALESCE(r.s, 0) // GREATEST(COALESCE(r.n, 0), 1)
       |    AS BIGINT) AS mean_d2_retrained,
       |  CAST(COALESCE(m.n_re, 0) AS BIGINT) AS n_reassigned,
       |  CAST(COALESCE(d.n_drop, 0) AS BIGINT) AS n_dropped
       |FROM (SELECT DISTINCT cl FROM fc2) b
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM fz GROUP BY cl) f ON f.cl = b.cl
       |LEFT JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |           FROM rt GROUP BY cl) r ON r.cl = b.cl
       |LEFT JOIN mv m ON m.cl = b.cl
       |LEFT JOIN dr d ON d.cl = b.cl
       |ORDER BY cluster_id""".stripMargin

  /** q390: serving drift under a retrain — the q380 IVF top-5 search
    * replayed twice over the absorbed store: frozen lists (ylists ⋈
    * y5 ∪ dlists ⋈ d5) under fc2 vs retrained, re-screened lists
    * (rlists minus rdup) under rc2x; per probe the top-5 overlap and
    * both top-1 ids. */
  private[graft] val q390 =
    s"""WITH RECURSIVE
       |${retrainChainCtes()},
       |aqv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS q
       |  FROM embeddings),
       |lf AS MATERIALIZED (
       |  SELECT l.vec_id, l.q, l.cl FROM ylists l
       |  JOIN y5 ON y5.doc_id = l.vec_id
       |  UNION ALL
       |  SELECT l.vec_id, l.q, l.cl FROM dlists l
       |  JOIN d5 ON d5.doc_id = l.vec_id),
       |lr AS MATERIALIZED (
       |  SELECT vec_id, q, cl FROM rlists
       |  WHERE vec_id NOT IN (SELECT b FROM rdup)),
       |prb AS MATERIALIZED (
       |  SELECT vec_id AS qid, q AS qq FROM aqv WHERE vec_id % 20 = 0),
       |pdf AS (
       |  SELECT p.qid, p.qq, c.cl,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> (p.qq[i] - c.c[i]) * (p.qq[i] - c.c[i])), 'sum')
       |      AS BIGINT) AS d2
       |  FROM prb p CROSS JOIN fc2 c),
       |pf AS (
       |  SELECT qid, qq, cl FROM (
       |    SELECT qid, qq, cl,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cl) AS rn
       |    FROM pdf)
       |  WHERE rn <= 2),
       |pdr AS (
       |  SELECT p.qid, p.qq, c.cl,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> (p.qq[i] - c.c[i]) * (p.qq[i] - c.c[i])), 'sum')
       |      AS BIGINT) AS d2
       |  FROM prb p CROSS JOIN rc2x c),
       |pr AS (
       |  SELECT qid, qq, cl FROM (
       |    SELECT qid, qq, cl,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cl) AS rn
       |    FROM pdr)
       |  WHERE rn <= 2),
       |scf AS (
       |  SELECT p.qid, l.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> p.qq[i] * l.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM pf p JOIN lf l ON p.cl = l.cl AND l.vec_id <> p.qid),
       |t5f AS MATERIALIZED (
       |  SELECT qid, cid, rn FROM (
       |    SELECT qid, cid, idot,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY idot DESC, cid ASC) AS rn
       |    FROM scf)
       |  WHERE rn <= 5),
       |scr AS (
       |  SELECT p.qid, l.vec_id AS cid,
       |    CAST(list_aggregate(list_transform(range(1, ${IncDims + 1}),
       |      i -> p.qq[i] * l.q[i]), 'sum') AS BIGINT) AS idot
       |  FROM pr p JOIN lr l ON p.cl = l.cl AND l.vec_id <> p.qid),
       |t5r AS MATERIALIZED (
       |  SELECT qid, cid, rn FROM (
       |    SELECT qid, cid, idot,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY idot DESC, cid ASC) AS rn
       |    FROM scr)
       |  WHERE rn <= 5),
       |ov AS (
       |  SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM t5f f JOIN t5r r ON r.qid = f.qid AND r.cid = f.cid
       |  GROUP BY 1)
       |SELECT p.qid AS query_id,
       |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(COALESCE(f1.cid, -1) AS BIGINT) AS top1_frozen,
       |  CAST(COALESCE(r1.cid, -1) AS BIGINT) AS top1_retrained,
       |  COALESCE(f1.cid = r1.cid, false) AS top1_same
       |FROM prb p
       |LEFT JOIN ov o ON o.qid = p.qid
       |LEFT JOIN t5f f1 ON f1.qid = p.qid AND f1.rn = 1
       |LEFT JOIN t5r r1 ON r1.qid = p.qid AND r1.rn = 1
       |ORDER BY query_id""".stripMargin

  /** Shared q392/q393 chain: the q373 two-day geometry with the
    * RETRAIN fired at the day-1 absorb boundary. retrainChainCtes
    * (store = %7∉{2,3}, absorbed delta e = %7=2) yields the grown
    * store and the refreeze (rc2x/rlists/rn2x/rdup); store1/smem1/
    * sn1/carry1 replay the absorb exactly as q373; rs/rmem are the
    * RETAINED store after the re-screen (docs minus rdup, members
    * re-assigned under the new centroids), rvocab is the vocabulary
    * REFROZEN on the survivors (the fvocab rule over rs). Day 2
    * (%7=3) then runs TWICE: prefix f against the grown store under
    * the old freeze (fc2/fvocab — bit-equal to q373's day 2), prefix
    * g against the retained store under the new one (rc2x/rvocab).
    * Both pack against the SAME carry1 — retrain retains pack
    * history. */
  private def refreezeChainCtes(dayScale: Int = 1): String =
    s"""${retrainChainCtes(
          "doc_id % 7 <> 2 AND doc_id % 7 <> 3", "e",
          "doc_id % 7 = 2", dayScale)},
       |store1 AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM y5
       |  UNION ALL SELECT doc_id, text, source FROM e5),
       |smem1 AS (
       |  SELECT * FROM ymem
       |  UNION ALL
       |  SELECT l.* FROM elists l JOIN e5 ON e5.doc_id = l.vec_id),
       |sn1 AS (SELECT * FROM yn2 UNION ALL SELECT * FROM en2),
       |ecl AS (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ewalk)
       |  WHERE rr = 1),
       |carry1 AS (
       |  SELECT source, cs, cf FROM ecl
       |  UNION ALL
       |  SELECT source, cs, cf FROM ycarry
       |  WHERE source NOT IN (SELECT source FROM ecl)),
       |rs AS MATERIALIZED (
       |  SELECT * FROM store1
       |  WHERE doc_id NOT IN (SELECT b FROM rdup)),
       |rmem AS (SELECT l.* FROM rlists l JOIN rs ON rs.doc_id = l.vec_id),
       |rtk AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS tok
       |  FROM rs),
       |rvst AS (
       |  SELECT tok, unnest(generate_series(1, len(tok))) AS s
       |  FROM (SELECT tok FROM rtk)),
       |rvsub AS (
       |  SELECT substr(tok, s, l.v) AS piece
       |  FROM rvst
       |  JOIN (SELECT range AS v FROM range(1, 5)) l
       |    ON s + l.v - 1 <= len(tok)),
       |rvocab AS MATERIALIZED (
       |  SELECT piece FROM rvsub GROUP BY piece
       |  HAVING len(piece) = 1 OR COUNT(*) >= 2),
       |${incDeltaCtes("f", "doc_id % 7 = 3", "store1", "smem1", "sn1",
          "carry1")},
       |${incDeltaCtes("g", "doc_id % 7 = 3", "rs", "rmem", "rn2x",
          "carry1", "rc2x", "rvocab")}""".stripMargin

  /** q392: the loop CONTINUING THROUGH the refreeze — day 2's ledger
    * under the old freeze joined per doc to its ledger under the new
    * one, with the disposition-drift flag. */
  private[graft] val q392 =
    s"""WITH RECURSIVE
       |${refreezeChainCtes()},
       |ledf AS (${incLedgerSelect("f")}),
       |ledg AS (${incLedgerSelect("g")})
       |SELECT f.doc_id,
       |  f.disposition AS disp_frozen,
       |  g.disposition AS disp_refrozen,
       |  f.disposition <> g.disposition AS changed,
       |  f.seq_id AS seq_frozen, f.seq_offset AS off_frozen,
       |  g.seq_id AS seq_refrozen, g.seq_offset AS off_refrozen
       |FROM ledf f JOIN ledg g ON g.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** q393: the refreeze REPACK BILL per source — day 2's kept-doc
    * counts, packed token totals, and distinct new-sequence counts
    * under both freezes, plus the token delta. */
  private[graft] val q393 =
    s"""WITH RECURSIVE
       |${refreezeChainCtes()}
       |SELECT sp.source,
       |  CAST(COALESCE(fa.nd, 0) AS BIGINT) AS n_docs_frozen,
       |  CAST(COALESCE(ga.nd, 0) AS BIGINT) AS n_docs_refrozen,
       |  CAST(COALESCE(fa.tk, 0) AS BIGINT) AS tok_frozen,
       |  CAST(COALESCE(ga.tk, 0) AS BIGINT) AS tok_refrozen,
       |  CAST(COALESCE(ga.tk, 0) - COALESCE(fa.tk, 0) AS BIGINT)
       |    AS tok_delta,
       |  CAST(COALESCE(fw.ns, 0) AS BIGINT) AS n_seqs_frozen,
       |  CAST(COALESCE(gw.ns, 0) AS BIGINT) AS n_seqs_refrozen
       |FROM (SELECT DISTINCT source FROM ad WHERE doc_id % 7 = 3) sp
       |LEFT JOIN (SELECT source, COUNT(*) AS nd, SUM(n_tokens) AS tk
       |           FROM fstok GROUP BY 1) fa ON fa.source = sp.source
       |LEFT JOIN (SELECT source, COUNT(*) AS nd, SUM(n_tokens) AS tk
       |           FROM gstok GROUP BY 1) ga ON ga.source = sp.source
       |LEFT JOIN (SELECT source, COUNT(DISTINCT seq_id) AS ns
       |           FROM fwalk GROUP BY 1) fw ON fw.source = sp.source
       |LEFT JOIN (SELECT source, COUNT(DISTINCT seq_id) AS ns
       |           FROM gwalk GROUP BY 1) gw ON gw.source = sp.source
       |ORDER BY sp.source""".stripMargin

  /** q386: ring-change manifest migration — the packed sequences
    * placed on the 16-shard ring (the q376 manifest, bit-equal on the
    * before columns) and on the grown 20-shard ring, with both
    * manifests' rank/offset windows and the moved/invalidated
    * verdicts. */
  private[graft] val q386 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${ringCtes(16)},
       |w2n AS (
       |  SELECT CAST(s AS BIGINT) AS shard,
       |    'shard:' || s || ':' || v AS label
       |  FROM generate_series(0, 19) t(s),
       |       generate_series(0, 31) u(v)),
       |w2f AS (
       |  SELECT shard,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(label, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
       |  FROM w2n),
       |w2p AS (
       |  SELECT shard,
       |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
       |  FROM w2f),
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq),
       |sa AS (
       |  SELECT sp.source, sp.seq_id, sp.n_docs, sp.n_tokens,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM vp)) AS vb,
       |    COALESCE((SELECT MIN(pos) FROM w2p WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM w2p)) AS va
       |  FROM sp),
       |sb AS (
       |  SELECT a.source, a.seq_id, a.n_docs, a.n_tokens,
       |    b.shard AS shard_before, w.shard AS shard_after
       |  FROM sa a JOIN vp b ON b.pos = a.vb
       |            JOIN w2p w ON w.pos = a.va),
       |man AS (
       |  SELECT source, seq_id, n_docs, n_tokens,
       |    CAST(shard_before AS BIGINT) AS shard_before,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_before
       |      ORDER BY source, seq_id) AS BIGINT) AS seq_rank_before,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_before
       |      ORDER BY source, seq_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS token_offset_before,
       |    CAST(shard_after AS BIGINT) AS shard_after,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_after
       |      ORDER BY source, seq_id) AS BIGINT) AS seq_rank_after,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_after
       |      ORDER BY source, seq_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS token_offset_after
       |  FROM sb)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, n_docs,
       |  n_tokens, shard_before, seq_rank_before, token_offset_before,
       |  shard_after, seq_rank_after, token_offset_after,
       |  shard_before <> shard_after AS moved,
       |  shard_before <> shard_after
       |    OR token_offset_before <> token_offset_after AS invalidated
       |FROM man
       |ORDER BY source, seq_id""".stripMargin

  /** q391: weighted fleet-growth migration — the q375 one-big vs
    * four-small A/B at manifest granularity: the packed sequences
    * placed on the q361 weighted ring and on each grown ring, with
    * both manifests' rank/offset windows and the moved/invalidated
    * verdicts, scenario-tagged. */
  private[graft] val q391 = {
    val caps = Seq(64, 64, 32, 32, 32, 32, 16, 16, 16, 16, 16, 16,
      8, 8, 8, 8)
    def capRows(cs: Seq[Int]): String = cs.zipWithIndex
      .map { case (c, s) => s"($s, $c)" }.mkString(", ")
    def vpCte(name: String, cs: Seq[Int]): String =
      s"""${name}caps AS (SELECT * FROM (VALUES ${capRows(cs)})
         |  c(shard, cap)),
         |${name}vn0 AS (
         |  SELECT CAST(shard AS BIGINT) AS shard,
         |    CAST(UNNEST(range(0, cap)) AS BIGINT) AS v
         |  FROM ${name}caps),
         |${name}vf AS (
         |  SELECT shard,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split('shard:' || shard || ':' || v, ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
         |  FROM ${name}vn0),
         |${name}vp AS (
         |  SELECT shard,
         |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
         |  FROM ${name}vf)""".stripMargin
    def scenario(label: String, vp: String): String =
      s"""SELECT '$label' AS scenario, m.source, m.seq_id, m.n_tokens,
         |  m.shard_before, m.seq_rank_before, m.token_offset_before,
         |  m.shard_after, m.seq_rank_after, m.token_offset_after,
         |  m.shard_before <> m.shard_after AS moved,
         |  m.shard_before <> m.shard_after
         |    OR m.token_offset_before <> m.token_offset_after
         |    AS invalidated
         |FROM (
         |  SELECT source, seq_id, n_tokens,
         |    CAST(shard_before AS BIGINT) AS shard_before,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_before
         |      ORDER BY source, seq_id) AS BIGINT) AS seq_rank_before,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY shard_before ORDER BY source, seq_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS token_offset_before,
         |    CAST(shard_after AS BIGINT) AS shard_after,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_after
         |      ORDER BY source, seq_id) AS BIGINT) AS seq_rank_after,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY shard_after ORDER BY source, seq_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS token_offset_after
         |  FROM (
         |    SELECT a.source, a.seq_id, a.n_tokens,
         |      b.shard AS shard_before, w.shard AS shard_after
         |    FROM (
         |      SELECT sp.source, sp.seq_id, sp.n_tokens,
         |        COALESCE((SELECT MIN(pos) FROM bvp
         |                  WHERE pos >= sp.p),
         |                 (SELECT MIN(pos) FROM bvp)) AS vb,
         |        COALESCE((SELECT MIN(pos) FROM $vp
         |                  WHERE pos >= sp.p),
         |                 (SELECT MIN(pos) FROM $vp)) AS va
         |      FROM sp) a
         |    JOIN bvp b ON b.pos = a.vb
         |    JOIN $vp w ON w.pos = a.va)) m""".stripMargin
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${vpCte("b", caps)},
       |${vpCte("g", caps :+ 64)},
       |${vpCte("s", caps ++ Seq(16, 16, 16, 16))},
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id,
       |    CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS MATERIALIZED (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, n_tokens,
       |  shard_before, seq_rank_before, token_offset_before,
       |  shard_after, seq_rank_after, token_offset_after,
       |  moved, invalidated, scenario
       |FROM (
       |  ${scenario("one_big", "gvp")}
       |  UNION ALL
       |  ${scenario("four_small", "svp")})
       |ORDER BY scenario, source, seq_id""".stripMargin
  }

  /** q387: the K = 3-day quota starvation ledger — three absorbing
    * delta days (one more than q373), a FIFO (offered_day, doc_id)
    * admission window per day at half the day's pending per-source
    * mass, and the per-doc horizon verdict: admitted_day, wait_days,
    * starved (re-offered and still pending), blocked (alone exceeds
    * the final day's budget). */
  /** Shared q387/q394 horizon: the 3-absorbed-day chain (days e/f/g)
    * plus the FIFO half-of-pending admission fold (off1..adm3 —
    * q387's policy; also day 1 and day 2's pending set of the q394
    * carryover arm, which shares them until the budgets diverge). */
  private def quotaChainCtes: String =
    s"""${incStoreCtes(
          "doc_id % 7 <> 1 AND doc_id % 7 <> 2 AND doc_id % 7 <> 3")},
       |${incDeltaCtes("e", "doc_id % 7 = 1", "y5", "ymem", "yn2",
          "ycarry")},
       |store1 AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM y5
       |  UNION ALL SELECT doc_id, text, source FROM e5),
       |smem1 AS (
       |  SELECT * FROM ymem
       |  UNION ALL
       |  SELECT l.* FROM elists l JOIN e5 ON e5.doc_id = l.vec_id),
       |sn1 AS (SELECT * FROM yn2 UNION ALL SELECT * FROM en2),
       |ecl AS (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM ewalk)
       |  WHERE rr = 1),
       |carry1 AS (
       |  SELECT source, cs, cf FROM ecl
       |  UNION ALL
       |  SELECT source, cs, cf FROM ycarry
       |  WHERE source NOT IN (SELECT source FROM ecl)),
       |${incDeltaCtes("f", "doc_id % 7 = 2", "store1", "smem1", "sn1",
          "carry1")},
       |store2 AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM store1
       |  UNION ALL SELECT doc_id, text, source FROM f5),
       |smem2 AS (
       |  SELECT * FROM smem1
       |  UNION ALL
       |  SELECT l.* FROM flists l JOIN f5 ON f5.doc_id = l.vec_id),
       |sn2 AS (SELECT * FROM sn1 UNION ALL SELECT * FROM fn2),
       |fcl AS (
       |  SELECT source, seq_id AS cs, seq_offset + len AS cf FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY rn DESC) AS rr
       |    FROM fwalk)
       |  WHERE rr = 1),
       |carry2 AS (
       |  SELECT source, cs, cf FROM fcl
       |  UNION ALL
       |  SELECT source, cs, cf FROM carry1
       |  WHERE source NOT IN (SELECT source FROM fcl)),
       |${incDeltaCtes("g", "doc_id % 7 = 3", "store2", "smem2", "sn2",
          "carry2")},
       |off1 AS (
       |  SELECT source, doc_id, CAST(len AS BIGINT) AS n_tokens,
       |    CAST(1 AS BIGINT) AS offered_day
       |  FROM ewalk),
       |bud1 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off1 GROUP BY 1),
       |cum1 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY offered_day, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM off1),
       |adm1 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum1 c JOIN bud1 b USING (source)),
       |off2 AS (
       |  SELECT source, doc_id, n_tokens, offered_day
       |  FROM adm1 WHERE NOT admitted
       |  UNION ALL
       |  SELECT source, doc_id, CAST(len AS BIGINT),
       |    CAST(2 AS BIGINT)
       |  FROM fwalk),
       |bud2 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off2 GROUP BY 1),
       |cum2 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY offered_day, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM off2),
       |adm2 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum2 c JOIN bud2 b USING (source)),
       |off3 AS (
       |  SELECT source, doc_id, n_tokens, offered_day
       |  FROM adm2 WHERE NOT admitted
       |  UNION ALL
       |  SELECT source, doc_id, CAST(len AS BIGINT),
       |    CAST(3 AS BIGINT)
       |  FROM gwalk),
       |bud3 AS (
       |  SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM off3 GROUP BY 1),
       |cum3 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY offered_day, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM off3),
       |adm3 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum3 c JOIN bud3 b USING (source))""".stripMargin

  private[graft] val q387 =
    s"""WITH RECURSIVE
       |$quotaChainCtes
       |SELECT doc_id, source, n_tokens, offered_day,
       |  CAST(1 AS BIGINT) AS admitted_day,
       |  CAST(1 - offered_day AS BIGINT) AS wait_days,
       |  false AS starved, false AS blocked
       |FROM adm1 WHERE admitted
       |UNION ALL
       |SELECT doc_id, source, n_tokens, offered_day,
       |  CAST(2 AS BIGINT), CAST(2 - offered_day AS BIGINT),
       |  false, false
       |FROM adm2 WHERE admitted
       |UNION ALL
       |SELECT a.doc_id, a.source, a.n_tokens, a.offered_day,
       |  CAST(CASE WHEN a.admitted THEN 3 ELSE -1 END AS BIGINT),
       |  CAST(3 - a.offered_day AS BIGINT),
       |  NOT a.admitted AND a.offered_day < 3,
       |  NOT a.admitted AND a.n_tokens > b.budget
       |FROM adm3 a JOIN bud3 b USING (source)
       |ORDER BY doc_id""".stripMargin

  /** q395: the nightly restarted from disk — the engine persists the
    * absorbed store to parquet between days 2 and 3 and runs day 3
    * off the cold reload; the replay here never persists, so the gate
    * pins persistence TRANSPARENCY (the q387 horizon's day-3
    * ledger). */
  private[graft] val q395 =
    s"""WITH RECURSIVE
       |$quotaChainCtes
       |${incLedgerSelect("g")}
       |ORDER BY d.doc_id""".stripMargin

  /** q396: the nightly report — every stage scalar of one absorbed
    * night (the q370 geometry), with the retrain metrics selected
    * through the SAME q378 drift trigger the engine branches on, so
    * the gate pins the decision and not just the arms. */
  private def nightlyReportSql(chain: String): String =
    s"""WITH RECURSIVE
       |$chain,
       |yd3 AS (
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_ylists) a
       |  JOIN y5 ON y5.doc_id = a.vec_id
       |  WHERE a.rn = 1),
       |dd3 AS (
       |  SELECT a.vec_id, a.cl, a.d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d_dlists) a
       |  JOIN d5 ON d5.doc_id = a.vec_id
       |  WHERE a.rn = 1),
       |fired AS (
       |  SELECT COALESCE(BOOL_OR(
       |    CAST(d.s AS HUGEINT) * y.n * 4 >
       |      CAST(y.s AS HUGEINT) * d.n * 5), false) AS f
       |  FROM (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |        FROM yd3 GROUP BY 1) y
       |  JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
       |        FROM dd3 GROUP BY 1) d
       |    USING (cl)),
       |fzall AS (
       |  SELECT l.vec_id, l.cl FROM ylists l
       |  JOIN y5 ON y5.doc_id = l.vec_id
       |  UNION ALL
       |  SELECT l.vec_id, l.cl FROM dlists l
       |  JOIN d5 ON d5.doc_id = l.vec_id),
       |reas AS (
       |  SELECT COUNT(*) AS n FROM fzall f
       |  JOIN rlists r ON r.vec_id = f.vec_id
       |  WHERE f.cl <> r.cl),
       |evct AS (SELECT COUNT(*) AS n FROM rdup),
       |qoff AS (SELECT source, doc_id,
       |    CAST(len AS BIGINT) AS n_tokens FROM dwalk),
       |qbud AS (SELECT source,
       |    CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
       |  FROM qoff GROUP BY 1),
       |qadm AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cb FROM qoff) c
       |  JOIN qbud b USING (source))
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'offered' AS metric,
       |    (SELECT COUNT(*) FROM dd0) AS value
       |  UNION ALL SELECT 'gated_out',
       |    (SELECT COUNT(*) FROM dd0) - (SELECT COUNT(*) FROM d1)
       |  UNION ALL SELECT 'exact_dup',
       |    (SELECT COUNT(*) FROM d1) - (SELECT COUNT(*) FROM d2)
       |  UNION ALL SELECT 'near_dup',
       |    (SELECT COUNT(*) FROM d2) - (SELECT COUNT(*) FROM d3)
       |  UNION ALL SELECT 'semantic_dup',
       |    (SELECT COUNT(*) FROM d3) - (SELECT COUNT(*) FROM d4)
       |  UNION ALL SELECT 'contaminated',
       |    (SELECT COUNT(*) FROM d4) - (SELECT COUNT(*) FROM d5)
       |  UNION ALL SELECT 'kept', (SELECT COUNT(*) FROM d5)
       |  UNION ALL SELECT 'seqs_touched',
       |    (SELECT COUNT(*) FROM
       |      (SELECT DISTINCT source, seq_id FROM dwalk))
       |  UNION ALL SELECT 'tokens_packed',
       |    (SELECT COALESCE(SUM(len), 0) FROM dwalk)
       |  UNION ALL SELECT 'trigger_fired',
       |    (SELECT CASE WHEN f THEN 1 ELSE 0 END FROM fired)
       |  UNION ALL SELECT 'members_reassigned',
       |    (SELECT CASE WHEN f THEN (SELECT n FROM reas)
       |            ELSE 0 END FROM fired)
       |  UNION ALL SELECT 'members_evicted',
       |    (SELECT CASE WHEN f THEN (SELECT n FROM evct)
       |            ELSE 0 END FROM fired)
       |  UNION ALL SELECT 'docs_admitted',
       |    (SELECT COUNT(*) FILTER (WHERE admitted) FROM qadm)
       |  UNION ALL SELECT 'docs_backlogged',
       |    (SELECT COUNT(*) FILTER (WHERE NOT admitted) FROM qadm)
       |  UNION ALL SELECT 'tokens_admitted',
       |    (SELECT COALESCE(SUM(n_tokens) FILTER (WHERE admitted), 0)
       |     FROM qadm))
       |ORDER BY metric""".stripMargin

  private[graft] val q396 = nightlyReportSql(retrainChainCtes())

  /** q398: two nights with the decision CHAINED — night 1 is the
    * encoder-shift night (%7=2 vectors ×2) whose trigger fires;
    * night 2 (%7=3) is replayed under BOTH candidate stores (frozen
    * grown store and the retrained one) and every night-2 metric is
    * selected through the night-1 trigger CASE — the oracle takes
    * the decision itself rather than trusting the engine's branch. */
  private[graft] val q398 = {
    def win(allPairs: String, keep: String, out: String): String =
      s"""$out AS (
         |  SELECT a.vec_id, a.cl, a.d2 FROM (
         |    SELECT vec_id, cl, d2,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY d2, cl) AS rn
         |    FROM $allPairs) a
         |  JOIN $keep ON $keep.doc_id = a.vec_id
         |  WHERE a.rn = 1)""".stripMargin
    def trg(storeWin: String, dayWin: String, out: String): String =
      s"""$out AS (
         |  SELECT COALESCE(BOOL_OR(
         |    CAST(d.s AS HUGEINT) * y.n * 4 >
         |      CAST(y.s AS HUGEINT) * d.n * 5), false) AS f
         |  FROM (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
         |        FROM $storeWin GROUP BY 1) y
         |  JOIN (SELECT cl, SUM(d2) AS s, COUNT(*) AS n
         |        FROM $dayWin GROUP BY 1) d
         |    USING (cl))""".stripMargin
    def quota(walk: String, p: String): String =
      s"""${p}o AS (SELECT source, doc_id,
         |    CAST(len AS BIGINT) AS n_tokens FROM $walk),
         |${p}b AS (SELECT source,
         |    CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
         |  FROM ${p}o GROUP BY 1),
         |${p}a AS (
         |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
         |  FROM (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cb FROM ${p}o) c
         |  JOIN ${p}b b USING (source))""".stripMargin
    // per-night metric rows; d0/1..5/walk/quota prefixes and the
    // trigger/retrain scalar expressions are passed as SQL snippets
    def nightRows(night: Int, c: String => String): String = Seq(
      "offered" -> c("offered"), "gated_out" -> c("gated_out"),
      "exact_dup" -> c("exact_dup"), "near_dup" -> c("near_dup"),
      "semantic_dup" -> c("semantic_dup"),
      "contaminated" -> c("contaminated"), "kept" -> c("kept"),
      "seqs_touched" -> c("seqs_touched"),
      "tokens_packed" -> c("tokens_packed"),
      "trigger_fired" -> c("trigger_fired"),
      "members_reassigned" -> c("members_reassigned"),
      "members_evicted" -> c("members_evicted"),
      "docs_admitted" -> c("docs_admitted"),
      "docs_backlogged" -> c("docs_backlogged"),
      "tokens_admitted" -> c("tokens_admitted"))
      .map { case (m, v) =>
        s"SELECT CAST($night AS BIGINT) AS night, '$m' AS metric,\n" +
          s"  CAST($v AS BIGINT) AS value" }
      .mkString("\n  UNION ALL\n  ")
    // scalar snippets for a plain (un-CASEd) chain with prefix p,
    // quota prefix qp, trigger CTE t, retrain snippets re/ev
    def arm(p: String, qp: String): Map[String, String] = Map(
      "offered" -> s"(SELECT COUNT(*) FROM ${p}d0)",
      "gated_out" ->
        s"(SELECT COUNT(*) FROM ${p}d0) - (SELECT COUNT(*) FROM ${p}1)",
      "exact_dup" ->
        s"(SELECT COUNT(*) FROM ${p}1) - (SELECT COUNT(*) FROM ${p}2)",
      "near_dup" ->
        s"(SELECT COUNT(*) FROM ${p}2) - (SELECT COUNT(*) FROM ${p}3)",
      "semantic_dup" ->
        s"(SELECT COUNT(*) FROM ${p}3) - (SELECT COUNT(*) FROM ${p}4)",
      "contaminated" ->
        s"(SELECT COUNT(*) FROM ${p}4) - (SELECT COUNT(*) FROM ${p}5)",
      "kept" -> s"(SELECT COUNT(*) FROM ${p}5)",
      "seqs_touched" -> ("(SELECT COUNT(*) FROM " +
        s"(SELECT DISTINCT source, seq_id FROM ${p}walk))"),
      "tokens_packed" ->
        s"(SELECT COALESCE(SUM(len), 0) FROM ${p}walk)",
      "docs_admitted" ->
        s"(SELECT COUNT(*) FILTER (WHERE admitted) FROM ${qp}a)",
      "docs_backlogged" ->
        s"(SELECT COUNT(*) FILTER (WHERE NOT admitted) FROM ${qp}a)",
      "tokens_admitted" -> ("(SELECT COALESCE(SUM(n_tokens) " +
        s"FILTER (WHERE admitted), 0) FROM ${qp}a)"))
    val n1 = arm("e", "qe") ++ Map(
      "trigger_fired" ->
        "(SELECT CASE WHEN f THEN 1 ELSE 0 END FROM f1t)",
      "members_reassigned" ->
        "(SELECT CASE WHEN f THEN (SELECT n FROM reas) ELSE 0 END FROM f1t)",
      "members_evicted" ->
        "(SELECT CASE WHEN f THEN (SELECT n FROM evct) ELSE 0 END FROM f1t)")
    val af = arm("f", "qf") ++ Map("trigger_fired" ->
      "(SELECT CASE WHEN f THEN 1 ELSE 0 END FROM f2ft)")
    val ag = arm("g", "qg") ++ Map("trigger_fired" ->
      "(SELECT CASE WHEN f THEN 1 ELSE 0 END FROM f2rt)")
    val n2 = (af.keySet ++ Set("members_reassigned",
      "members_evicted")).map { m =>
      val v =
        if (m == "members_reassigned" || m == "members_evicted")
          "0" // the horizon ends after night 2 — no retrain follows
        else s"CASE WHEN (SELECT f FROM f1t) THEN ${ag(m)} " +
          s"ELSE ${af(m)} END"
      m -> v
    }.toMap
    s"""WITH RECURSIVE
       |${refreezeChainCtes(dayScale = 2)},
       |${win("d_ylists", "y5", "ywin")},
       |${win("d_elists", "e5", "ewin")},
       |${trg("ywin", "ewin", "f1t")},
       |fzall AS (
       |  SELECT vec_id, cl, d2 FROM ywin
       |  UNION ALL SELECT vec_id, cl, d2 FROM ewin),
       |reas AS (
       |  SELECT COUNT(*) AS n FROM fzall z
       |  JOIN rlists r ON r.vec_id = z.vec_id
       |  WHERE z.cl <> r.cl),
       |evct AS (SELECT COUNT(*) AS n FROM rdup),
       |${win("d_flists", "f5", "fwin")},
       |${trg("fzall", "fwin", "f2ft")},
       |${win("d_rlists", "rs", "rwin")},
       |${win("d_glists", "g5", "gwin")},
       |${trg("rwin", "gwin", "f2rt")},
       |${quota("ewalk", "qe")},
       |${quota("fwalk", "qf")},
       |${quota("gwalk", "qg")}
       |SELECT night, metric, value FROM (
       |  ${nightRows(1, n1)}
       |  UNION ALL
       |  ${nightRows(2, n2)})
       |ORDER BY night, metric""".stripMargin
  }

  /** q397: the ENCODER-SHIFT night — the q396 report replayed with
    * tonight's vectors arriving at 2× quantized scale (a deterministic
    * domain-shift simulation, the q345 "legacyprefix" convention: the
    * upstream embedding model changed and nobody renormalized). The
    * text-only stages are scale-invariant; the semantic stage's
    * cosine verdict is too, but its cluster blocking is not, so the
    * kept set may drift. The drift trigger fires and the retrain
    * branch actually runs — the firing arm of the q396 decision,
    * end-to-end under the oracle. */
  private[graft] val q397 = nightlyReportSql(retrainChainCtes(dayScale = 2))

  /** q394: the starvation remedy A/B — the q387 horizon admitted
    * under both policies. Day 1 is shared (nothing to carry), day 2
    * shares the pending window (day-1 admissions are identical) but
    * diverges on the budget (base + day-1 unspent), day 3 re-walks
    * its own pending. Final: per (policy, source) aggregates. */
  private[graft] val q394 =
    s"""WITH RECURSIVE
       |$quotaChainCtes,
       |ccar1 AS (
       |  SELECT b.source,
       |    b.budget - COALESCE(s.sp, 0) AS un
       |  FROM bud1 b LEFT JOIN (
       |    SELECT source, SUM(n_tokens) AS sp
       |    FROM adm1 WHERE admitted GROUP BY 1) s USING (source)),
       |cbud2 AS (
       |  SELECT b.source,
       |    CAST(b.budget + COALESCE(c.un, 0) AS BIGINT) AS budget
       |  FROM bud2 b LEFT JOIN ccar1 c USING (source)),
       |cadm2 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM cum2 c JOIN cbud2 b USING (source)),
       |ccar2 AS (
       |  SELECT b.source,
       |    b.budget - COALESCE(s.sp, 0) AS un
       |  FROM cbud2 b LEFT JOIN (
       |    SELECT source, SUM(n_tokens) AS sp
       |    FROM cadm2 WHERE admitted GROUP BY 1) s USING (source)),
       |coff3 AS (
       |  SELECT source, doc_id, n_tokens, offered_day
       |  FROM cadm2 WHERE NOT admitted
       |  UNION ALL
       |  SELECT source, doc_id, CAST(len AS BIGINT),
       |    CAST(3 AS BIGINT)
       |  FROM gwalk),
       |cbud3 AS (
       |  SELECT o.source,
       |    CAST(o.base + COALESCE(c.un, 0) AS BIGINT) AS budget
       |  FROM (SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT) AS base
       |        FROM coff3 GROUP BY 1) o
       |  LEFT JOIN ccar2 c USING (source)),
       |ccum3 AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY offered_day, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cb
       |  FROM coff3),
       |cadm3 AS (
       |  SELECT c.*, c.cb + c.n_tokens <= b.budget AS admitted
       |  FROM ccum3 c JOIN cbud3 b USING (source)),
       |spq AS (
       |  SELECT source, COUNT(*) AS n_offered FROM (
       |    SELECT source FROM off1
       |    UNION ALL SELECT source FROM fwalk
       |    UNION ALL SELECT source FROM gwalk)
       |  GROUP BY 1),
       |frows AS (
       |  SELECT source, n_tokens, offered_day, CAST(1 AS BIGINT) AS aday
       |  FROM adm1 WHERE admitted
       |  UNION ALL
       |  SELECT source, n_tokens, offered_day, CAST(2 AS BIGINT)
       |  FROM adm2 WHERE admitted
       |  UNION ALL
       |  SELECT source, n_tokens, offered_day,
       |    CAST(CASE WHEN admitted THEN 3 ELSE -1 END AS BIGINT)
       |  FROM adm3),
       |crows AS (
       |  SELECT source, n_tokens, offered_day, CAST(1 AS BIGINT) AS aday
       |  FROM adm1 WHERE admitted
       |  UNION ALL
       |  SELECT source, n_tokens, offered_day, CAST(2 AS BIGINT)
       |  FROM cadm2 WHERE admitted
       |  UNION ALL
       |  SELECT source, n_tokens, offered_day,
       |    CAST(CASE WHEN admitted THEN 3 ELSE -1 END AS BIGINT)
       |  FROM cadm3),
       |fstat AS (
       |  SELECT source,
       |    COUNT(*) FILTER (WHERE aday >= 0) AS n_admitted,
       |    SUM(n_tokens) FILTER (WHERE aday >= 0) AS tok_admitted,
       |    COUNT(*) FILTER (WHERE aday < 0) AS n_backlog,
       |    COUNT(*) FILTER (WHERE aday < 0 AND offered_day < 3)
       |      AS n_starved,
       |    SUM(CASE WHEN aday >= 0 THEN aday - offered_day
       |        ELSE 3 - offered_day END) AS sum_wait
       |  FROM frows GROUP BY 1),
       |cstat AS (
       |  SELECT source,
       |    COUNT(*) FILTER (WHERE aday >= 0) AS n_admitted,
       |    SUM(n_tokens) FILTER (WHERE aday >= 0) AS tok_admitted,
       |    COUNT(*) FILTER (WHERE aday < 0) AS n_backlog,
       |    COUNT(*) FILTER (WHERE aday < 0 AND offered_day < 3)
       |      AS n_starved,
       |    SUM(CASE WHEN aday >= 0 THEN aday - offered_day
       |        ELSE 3 - offered_day END) AS sum_wait
       |  FROM crows GROUP BY 1),
       |fblk AS (
       |  SELECT a.source, COUNT(*) AS n_blocked
       |  FROM adm3 a JOIN bud3 b USING (source)
       |  WHERE NOT a.admitted AND a.n_tokens > b.budget
       |  GROUP BY 1),
       |cblk AS (
       |  SELECT a.source, COUNT(*) AS n_blocked
       |  FROM cadm3 a JOIN cbud3 b USING (source)
       |  WHERE NOT a.admitted AND a.n_tokens > b.budget
       |  GROUP BY 1)
       |SELECT 'fifo' AS policy, sp.source,
       |  CAST(sp.n_offered AS BIGINT) AS n_offered,
       |  CAST(COALESCE(f.n_admitted, 0) AS BIGINT) AS n_admitted,
       |  CAST(COALESCE(f.tok_admitted, 0) AS BIGINT) AS tok_admitted,
       |  CAST(COALESCE(f.n_backlog, 0) AS BIGINT) AS n_backlog,
       |  CAST(COALESCE(f.n_starved, 0) AS BIGINT) AS n_starved,
       |  CAST(COALESCE(fb.n_blocked, 0) AS BIGINT) AS n_blocked,
       |  CAST(COALESCE(f.sum_wait, 0) AS BIGINT) AS sum_wait
       |FROM spq sp
       |LEFT JOIN fstat f USING (source)
       |LEFT JOIN fblk fb USING (source)
       |UNION ALL
       |SELECT 'carryover', sp.source,
       |  CAST(sp.n_offered AS BIGINT),
       |  CAST(COALESCE(c.n_admitted, 0) AS BIGINT),
       |  CAST(COALESCE(c.tok_admitted, 0) AS BIGINT),
       |  CAST(COALESCE(c.n_backlog, 0) AS BIGINT),
       |  CAST(COALESCE(c.n_starved, 0) AS BIGINT),
       |  CAST(COALESCE(cb2.n_blocked, 0) AS BIGINT),
       |  CAST(COALESCE(c.sum_wait, 0) AS BIGINT)
       |FROM spq sp
       |LEFT JOIN cstat c USING (source)
       |LEFT JOIN cblk cb2 USING (source)
       |ORDER BY policy, source""".stripMargin

  /** q388: epoch-order shuffle quality — q382's per-epoch orders
    * compared per shard: the Spearman footrule Σd² and integer
    * rho_ppm between the two epoch ranks, plus each epoch's longest
    * same-source run (gaps-and-islands over the read order). */
  private[graft] val q388 =
    s"""WITH RECURSIVE
       |$pipelineCtes,
       |${ringCtes(16)},
       |sq AS MATERIALIZED (
       |  SELECT source, seq_id, CAST(SUM(len) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS k
       |  FROM pwalk GROUP BY source, seq_id),
       |sp AS (
       |  SELECT *, ((k % 1000000007) * 2654435761 + 40503)
       |    % 1000000007 AS p
       |  FROM sq),
       |sa AS (
       |  SELECT sp.source, sp.seq_id, sp.n_tokens,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= sp.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM sp),
       |sb AS (
       |  SELECT vp.shard, a.source, a.seq_id, a.n_tokens
       |  FROM sa a JOIN vp ON vp.pos = a.vpos),
       |sqe AS (
       |  SELECT s.*, CAST(t.e AS BIGINT) AS epoch
       |  FROM sb s CROSS JOIN (VALUES (0), (1)) t(e)),
       |eff AS (
       |  SELECT *,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(
       |        'epoch:' || epoch || ':' || source || ':' || seq_id, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS ef
       |  FROM sqe),
       |posd AS (
       |  SELECT *, (ef * ef + ef * 2654435761 + 40503)
       |    % 1000000007 AS pos
       |  FROM eff),
       |rk AS MATERIALIZED (
       |  SELECT CAST(shard AS BIGINT) AS shard, epoch, source,
       |    CAST(seq_id AS BIGINT) AS seq_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY shard, epoch
       |      ORDER BY pos, source, seq_id) AS BIGINT) AS read_rank
       |  FROM posd),
       |ft AS (
       |  SELECT e0.shard, CAST(COUNT(*) AS BIGINT) AS n_seqs,
       |    CAST(SUM((e0.read_rank - e1.read_rank)
       |      * (e0.read_rank - e1.read_rank)) AS BIGINT) AS sum_d2
       |  FROM rk e0 JOIN rk e1 ON e1.source = e0.source
       |    AND e1.seq_id = e0.seq_id AND e1.epoch = 1
       |  WHERE e0.epoch = 0 GROUP BY 1),
       |runs AS (
       |  SELECT shard, epoch, CAST(MAX(run_len) AS BIGINT) AS max_run
       |  FROM (
       |    SELECT shard, epoch, source, grp, COUNT(*) AS run_len
       |    FROM (
       |      SELECT shard, epoch, source,
       |        read_rank - ROW_NUMBER() OVER (PARTITION BY shard,
       |          epoch, source ORDER BY read_rank) AS grp
       |      FROM rk)
       |    GROUP BY 1, 2, 3, 4)
       |  GROUP BY 1, 2)
       |SELECT f.shard, f.n_seqs, f.sum_d2,
       |  CAST(CASE WHEN f.n_seqs >= 2
       |    THEN 1000000 - CAST(6000000 AS HUGEINT) * f.sum_d2
       |      // (CAST(f.n_seqs AS HUGEINT)
       |          * (f.n_seqs * f.n_seqs - 1))
       |    ELSE -1 END AS BIGINT) AS rho_ppm,
       |  r0.max_run AS max_run_e0, r1.max_run AS max_run_e1
       |FROM ft f
       |JOIN runs r0 ON r0.shard = f.shard AND r0.epoch = 0
       |JOIN runs r1 ON r1.shard = f.shard AND r1.epoch = 1
       |ORDER BY f.shard""".stripMargin

  /** q363: replication audit — per key, rank every vnode by clockwise
    * walk order from the key's position ((pos < p) sorts the
    * non-wrapped arc first), keep each SHARD's first appearance, and
    * take the 3 earliest distinct shards; per shard, primary (rank 1)
    * vs replica (ranks 2-3) key counts and ppm shares. The key×vnode
    * cross join is oracle-only brute force — the engine walks the
    * ring natively. */
  private[graft] val q363 =
    s"""WITH ${ringCtes(16)},
       |ord AS (
       |  SELECT k.doc_id, vp.shard,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id
       |      ORDER BY (vp.pos < k.p), vp.pos) AS rnk
       |  FROM keys k CROSS JOIN vp),
       |firsts AS (
       |  SELECT doc_id, shard, MIN(rnk) AS fr
       |  FROM ord GROUP BY 1, 2),
       |rep AS (
       |  SELECT doc_id, shard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fr)
       |      AS replica_rank
       |  FROM firsts),
       |cnt AS (
       |  SELECT shard,
       |    CAST(SUM(CASE WHEN replica_rank = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_primary,
       |    CAST(SUM(CASE WHEN replica_rank > 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_replica
       |  FROM rep WHERE replica_rank <= 3 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keys)
       |SELECT s.shard,
       |  CAST(COALESCE(c.n_primary, 0) AS BIGINT) AS n_primary,
       |  CAST(COALESCE(c.n_replica, 0) AS BIGINT) AS n_replica,
       |  CAST(COALESCE(c.n_primary, 0) + COALESCE(c.n_replica, 0)
       |    AS BIGINT) AS n_responsible,
       |  CAST(COALESCE(c.n_primary, 0) * 1000000 // t.n_total
       |    AS BIGINT) AS primary_ppm,
       |  CAST((COALESCE(c.n_primary, 0) + COALESCE(c.n_replica, 0))
       |    * 1000000 // t.n_total AS BIGINT) AS responsible_ppm
       |FROM (SELECT DISTINCT shard FROM vp) s
       |LEFT JOIN cnt c ON c.shard = s.shard, tot t
       |ORDER BY s.shard""".stripMargin

  /** q357: ring shard-load audit — per shard, the theoretical arc
    * share (wrap-around LAG over sorted vnode positions) vs the
    * empirical successor-assignment key share. */
  private[graft] val q357 =
    s"""WITH ${ringCtes(16)},
       |arcs AS (
       |  SELECT shard, pos,
       |    pos - COALESCE(LAG(pos) OVER (ORDER BY pos),
       |      (SELECT MAX(pos) FROM vp) - 1000000007) AS arc
       |  FROM vp),
       |arcsum AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_vnodes,
       |    CAST(SUM(arc) AS BIGINT) AS arc
       |  FROM arcs GROUP BY 1),
       |asg AS (
       |  SELECT k.doc_id,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= k.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM keys k),
       |cnt AS (
       |  SELECT vp.shard, CAST(COUNT(*) AS BIGINT) AS n_keys
       |  FROM asg a JOIN vp ON vp.pos = a.vpos
       |  GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keys)
       |SELECT s.shard, s.n_vnodes,
       |  CAST(s.arc * 1000000 // 1000000007 AS BIGINT) AS arc_ppm,
       |  CAST(COALESCE(c.n_keys, 0) AS BIGINT) AS n_keys,
       |  CAST(COALESCE(c.n_keys, 0) * 1000000 // t.n_total AS BIGINT)
       |    AS load_ppm
       |FROM arcsum s LEFT JOIN cnt c ON s.shard = c.shard, tot t
       |ORDER BY s.shard""".stripMargin

  /** q358: reshard movement 16 → 20 shards — the before-ring is the
    * after-ring restricted to shards < 16 (identical vnode labels:
    * the consistent-hashing contract), so one vnode table serves
    * both sides; mod-N movement compared on the same keys. */
  private[graft] val q358 =
    s"""WITH ${ringCtes(20)},
       |asg AS (
       |  SELECT k.doc_id,
       |    COALESCE((SELECT MIN(pos) FROM vp
       |                WHERE shard < 16 AND pos >= k.p),
       |             (SELECT MIN(pos) FROM vp WHERE shard < 16)) AS vb,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= k.p),
       |             (SELECT MIN(pos) FROM vp)) AS va
       |  FROM keys k),
       |m AS (
       |  SELECT a.doc_id, vb.shard AS shard_before,
       |    va.shard AS shard_after
       |  FROM asg a
       |  JOIN vp vb ON vb.pos = a.vb
       |  JOIN vp va ON va.pos = a.va),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(CASE WHEN shard_before != shard_after
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ring_moved,
       |    CAST(SUM(CASE WHEN doc_id % 16 != doc_id % 20
       |      THEN 1 ELSE 0 END) AS BIGINT) AS mod_moved
       |  FROM m)
       |SELECT n_keys, ring_moved,
       |  CAST(ring_moved * 1000000 // n_keys AS BIGINT)
       |    AS ring_moved_ppm,
       |  mod_moved,
       |  CAST(mod_moved * 1000000 // n_keys AS BIGINT)
       |    AS mod_moved_ppm
       |FROM agg""".stripMargin

  /** q360: reshard migration plan — the q358 assignment CTEs grouped
    * into the per-(from, to) work order. */
  private[graft] val q360 =
    s"""WITH ${ringCtes(20)},
       |asg AS (
       |  SELECT k.doc_id,
       |    COALESCE((SELECT MIN(pos) FROM vp
       |                WHERE shard < 16 AND pos >= k.p),
       |             (SELECT MIN(pos) FROM vp WHERE shard < 16)) AS vb,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= k.p),
       |             (SELECT MIN(pos) FROM vp)) AS va
       |  FROM keys k),
       |m AS (
       |  SELECT a.doc_id, vb.shard AS shard_before,
       |    va.shard AS shard_after
       |  FROM asg a
       |  JOIN vp vb ON vb.pos = a.vb
       |  JOIN vp va ON va.pos = a.va)
       |SELECT shard_before, shard_after,
       |  CAST(COUNT(*) AS BIGINT) AS n_keys
       |FROM m WHERE shard_before != shard_after
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** q361: weighted ring load audit — capacity-proportional vnode
    * counts from a VALUES capacity table (UNNEST(range(0, cap)) per
    * shard), the same fold+mix position replay, wrap-around arcs,
    * and the three ppm shares side by side. */
  private[graft] val q361 = {
    val caps = Seq(64, 64, 32, 32, 32, 32, 16, 16, 16, 16, 16, 16,
      8, 8, 8, 8)
    val totalCap = caps.sum
    val vals = caps.zipWithIndex
      .map { case (c, s) => s"($s, $c)" }.mkString(", ")
    s"""WITH caps AS (SELECT * FROM (VALUES $vals) c(shard, cap)),
       |vn0 AS (
       |  SELECT CAST(shard AS BIGINT) AS shard,
       |    CAST(UNNEST(range(0, cap)) AS BIGINT) AS v
       |  FROM caps),
       |vn AS (
       |  SELECT shard, 'shard:' || shard || ':' || v AS label FROM vn0),
       |vf AS (
       |  SELECT shard,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(label, ''),
       |        c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS f
       |  FROM vn),
       |vp AS (
       |  SELECT shard,
       |    (f * f + f * 2654435761 + 40503) % 1000000007 AS pos
       |  FROM vf),
       |keys AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    ((doc_id % 1000000007) * 2654435761 + 40503)
       |      % 1000000007 AS p
       |  FROM documents),
       |arcs AS (
       |  SELECT shard, pos,
       |    pos - COALESCE(LAG(pos) OVER (ORDER BY pos),
       |      (SELECT MAX(pos) FROM vp) - 1000000007) AS arc
       |  FROM vp),
       |arcsum AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_vnodes,
       |    CAST(SUM(arc) AS BIGINT) AS arc
       |  FROM arcs GROUP BY 1),
       |asg AS (
       |  SELECT k.doc_id,
       |    COALESCE((SELECT MIN(pos) FROM vp WHERE pos >= k.p),
       |             (SELECT MIN(pos) FROM vp)) AS vpos
       |  FROM keys k),
       |cnt AS (
       |  SELECT vp.shard, CAST(COUNT(*) AS BIGINT) AS n_keys
       |  FROM asg a JOIN vp ON vp.pos = a.vpos
       |  GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keys)
       |SELECT s.shard, s.n_vnodes,
       |  CAST(s.n_vnodes * 1000000 // $totalCap AS BIGINT)
       |    AS capacity_ppm,
       |  CAST(s.arc * 1000000 // 1000000007 AS BIGINT) AS arc_ppm,
       |  CAST(COALESCE(c.n_keys, 0) AS BIGINT) AS n_keys,
       |  CAST(COALESCE(c.n_keys, 0) * 1000000 // t.n_total AS BIGINT)
       |    AS load_ppm
       |FROM arcsum s LEFT JOIN cnt c ON s.shard = c.shard, tot t
       |ORDER BY s.shard""".stripMargin
  }

  /** q359: MinHash band-geometry sweep — the q132 signature CTEs
    * replayed once, candidates per banding as per-config UNIONs of
    * band equi-joins, truth = exhaustive 3-gram Jaccard ≥ 1/2 via the
    * posting self-join (lossless: disjoint pairs have J = 0). */
  private[graft] val q359 = {
    val as = Seq(131, 137, 139, 149, 151, 157, 163, 167)
    val bs = Seq(17, 29, 47, 71, 89, 107, 131, 151)
    val mins = as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      s"MIN((h * $a + $b) % 1000000007) AS m$j"
    }.mkString(",\n      |    ")
    val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
    val candCtes = configs.map { case (b, r) =>
      val unions = (0 until b).map { i =>
        val conds = (i * r until (i + 1) * r)
          .map(j => s"s1.m$j = s2.m$j").mkString(" AND ")
        s"SELECT s1.doc_id AS a, s2.doc_id AS b FROM sig s1 " +
          s"JOIN sig s2 ON s1.doc_id < s2.doc_id AND $conds"
      }.mkString("\n  UNION\n  ")
      s"c${b}_$r AS (\n  $unions)"
    }.mkString(",\n")
    val rows = configs.map { case (b, r) =>
      s"SELECT CAST($b AS BIGINT) AS bands, " +
        s"CAST($r AS BIGINT) AS rows_per_band,\n" +
        s"    (SELECT COUNT(*) FROM c${b}_$r) AS n_candidates,\n" +
        s"    (SELECT COUNT(*) FROM c${b}_$r c JOIN truth t " +
        s"ON t.a = c.a AND t.b = c.b) AS n_hit"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS tok
       |  FROM w, UNNEST(range(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 3),
       |wh AS (
       |  SELECT doc_id, tok,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS h
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, $mins
       |  FROM wh GROUP BY doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
       |pr AS (
       |  SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS inter
       |  FROM toks ta JOIN toks tb ON tb.tok = ta.tok
       |    AND ta.doc_id < tb.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT p.a, p.b FROM pr p
       |  JOIN sizes sa ON sa.doc_id = p.a
       |  JOIN sizes sb ON sb.doc_id = p.b
       |  WHERE 2 * p.inter >= sa.n + sb.n - p.inter),
       |$candCtes,
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
       |res AS (
       |  $rows)
       |SELECT r.bands, r.rows_per_band,
       |  CAST(r.n_candidates AS BIGINT) AS n_candidates,
       |  nt.n_true,
       |  CAST(r.n_hit AS BIGINT) AS n_hit,
       |  CAST(CASE WHEN nt.n_true > 0
       |    THEN r.n_hit * 1000000 // nt.n_true ELSE -1 END AS BIGINT)
       |    AS recall_ppm,
       |  CAST(CASE WHEN r.n_candidates > 0
       |    THEN r.n_hit * 1000000 // r.n_candidates ELSE -1 END
       |    AS BIGINT) AS precision_ppm
       |FROM res r, nt
       |ORDER BY r.bands DESC""".stripMargin
  }

  /** q366: band-geometry chooser — q359's sweep wrapped in the
    * one-row argmax: max recall under a 50% precision floor, ties
    * toward fewer candidates then more bands. */
  private[graft] val q366 =
    s"""SELECT bands, rows_per_band, n_candidates, n_true, n_hit,
       |  recall_ppm, precision_ppm,
       |  (precision_ppm >= 500000) AS qualifies
       |FROM ($q359)
       |ORDER BY qualifies DESC, recall_ppm DESC, n_candidates ASC,
       |  bands DESC
       |LIMIT 1""".stripMargin

  /** q367: SemDeDup τ chooser — q356's sweep wrapped in the one-row
    * argmax: most aggressive τ (max flagged) under a 50% retention
    * floor, ties toward smaller τ. */
  private[graft] val q367 =
    s"""SELECT tau_num, tau_den, n_dup_edges, n_flagged, n_kept,
       |  CAST(n_kept * 1000000 //
       |    (SELECT COUNT(*) FROM embeddings) AS BIGINT) AS kept_ppm,
       |  (CAST(n_kept * 1000000 //
       |    (SELECT COUNT(*) FROM embeddings) AS BIGINT) >= 500000)
       |    AS qualifies
       |FROM ($q356)
       |ORDER BY qualifies DESC, n_flagged DESC,
       |  tau_num * 1000000 // tau_den ASC
       |LIMIT 1""".stripMargin
}
