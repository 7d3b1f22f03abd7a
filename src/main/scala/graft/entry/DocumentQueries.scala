package graft
package entry

import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.operators._

/**
 * Documents and events: windowed event aggregation, sessionizing, dedup, text
 * analysis and approximate nearest neighbours.
 */
private[graft] object DocumentQueries {

  /** The q_ann_ivf mirror (verified cell-exact against the engine during
   * authoring): XXH64-of-long seed selection, 3 Lloyd rounds, probe + rank. */
  private lazy val annIvfSql: String = {
    val M64 = "18446744073709551616"
    val M32 = 4294967296L
    val P1 = java.lang.Long.parseUnsignedLong("9E3779B185EBCA87", 16)
    val P2 = java.lang.Long.parseUnsignedLong("C2B2AE3D27D4EB4F", 16)
    val P3 = java.lang.Long.parseUnsignedLong("165667B19E3779F9", 16)
    val P4 = java.lang.Long.parseUnsignedLong("85EBCA77C2B2AE63", 16)
    val P5 = java.lang.Long.parseUnsignedLong("27D4EB2F165667C5", 16)
    val acc0 = 42L + P5 + 8L // wraps like the JVM
    def u(v: Long) = java.lang.Long.toUnsignedString(v)
    def wrapMul(z: String, c: Long): String = {
      val clo = java.lang.Long.remainderUnsigned(c, M32)
      s"CAST(((CAST($z AS HUGEINT) % $M32) * CAST('${u(c)}' AS HUGEINT) " +
        s"+ (((CAST($z AS HUGEINT) // $M32) * $clo) % $M32) * $M32) % $M64 AS UBIGINT)"
    }
    def rotl(x: String, r: Int): String =
      s"(CAST((CAST($x AS HUGEINT) * ${1L << r}) % $M64 AS UBIGINT) | ($x >> ${64 - r}))"
    def wrapAdd(x: String, c: Long): String =
      s"CAST((CAST($x AS HUGEINT) + CAST('${u(c)}' AS HUGEINT)) % $M64 AS UBIGINT)"
    val dot = "list_sum(list_transform(range(1, 65), i -> e.v[i] * c.v[i]))"
    val na = "list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i]))"
    val nb = "list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))"
    val score = s"CASE WHEN ($na) = 0 OR ($nb) = 0 THEN 0.0 ELSE ($dot) / sqrt(($na) * ($nb)) END"
    def lloyd(k: Int): String =
      s"""sc$k AS (SELECT e.id, c.l, $score AS s FROM emb e CROSS JOIN c$k c),
         |asg$k AS (SELECT id, l FROM (
         |    SELECT id, l, row_number() OVER (PARTITION BY id ORDER BY s DESC, l) AS rn FROM sc$k)
         |  WHERE rn = 1),
         |mn$k AS (SELECT a.l, i.i AS d,
         |    CAST(CAST(sum(e.v[i.i]) / count(*) AS FLOAT) AS DOUBLE) AS val
         |  FROM asg$k a JOIN emb e USING (id) CROSS JOIN range(1, 65) i(i)
         |  GROUP BY a.l, i.i),
         |nw$k AS (SELECT l, list(val ORDER BY d) AS v FROM mn$k GROUP BY l),
         |c${k + 1} AS MATERIALIZED (SELECT l, v FROM nw$k
         |  UNION ALL SELECT c.l, c.v FROM c$k c WHERE c.l NOT IN (SELECT l FROM nw$k))""".stripMargin
    s"""WITH emb AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |x0 AS (SELECT id, v, CAST(id AS UBIGINT) AS vu FROM emb),
       |x1 AS (SELECT id, v, ${wrapMul("vu", P2)} AS k1 FROM x0),
       |x2 AS (SELECT id, v, ${rotl("k1", 31)} AS k1r FROM x1),
       |x3 AS (SELECT id, v, ${wrapMul("k1r", P1)} AS k1p FROM x2),
       |x4 AS (SELECT id, v, xor(CAST('${u(acc0)}' AS UBIGINT), k1p) AS acc1 FROM x3),
       |x5 AS (SELECT id, v, ${rotl("acc1", 27)} AS accr FROM x4),
       |x6 AS (SELECT id, v, ${wrapAdd(wrapMul("accr", P1), P4)} AS acc2 FROM x5),
       |x7 AS (SELECT id, v, ${wrapMul("xor(acc2, acc2 >> 33)", P2)} AS a4 FROM x6),
       |x8 AS (SELECT id, v, ${wrapMul("xor(a4, a4 >> 29)", P3)} AS a6 FROM x7),
       |xh AS (SELECT id, v, xor(a6, a6 >> 32) AS hu FROM x8),
       |xs AS (SELECT id, v, CASE WHEN hu >= 9223372036854775808
       |    THEN CAST(CAST(hu AS HUGEINT) - $M64 AS BIGINT) ELSE CAST(hu AS BIGINT) END AS hs FROM xh),
       |seeds AS (SELECT id FROM xs ORDER BY hs, id LIMIT 16),
       |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY hs, id) - 1 AS l, v
       |  FROM xs WHERE id IN (SELECT id FROM seeds)),
       |${lloyd(0)},
       |${lloyd(1)},
       |${lloyd(2)},
       |fsc AS (SELECT e.id, c.l, $score AS s FROM emb e CROSS JOIN c3 c),
       |lists AS (SELECT id, l FROM (
       |    SELECT id, l, row_number() OVER (PARTITION BY id ORDER BY s DESC, l) AS rn FROM fsc)
       |  WHERE rn = 1),
       |probes AS (SELECT id, l FROM (
       |    SELECT id, l, row_number() OVER (PARTITION BY id ORDER BY s DESC, l) AS rn FROM fsc)
       |  WHERE rn <= 4),
       |cand AS (SELECT p.id, q.id AS neighbor_id
       |  FROM probes p JOIN lists q USING (l) WHERE p.id <> q.id),
       |scored AS (SELECT c.id, c.neighbor_id,
       |    list_cosine_similarity(ea.v, eb.v) AS score
       |  FROM cand c JOIN emb ea ON ea.id = c.id JOIN emb eb ON eb.id = c.neighbor_id),
       |ranked AS (SELECT id, neighbor_id,
       |    row_number() OVER (PARTITION BY id ORDER BY score DESC, neighbor_id) AS rnk
       |  FROM scored)
       |SELECT id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM ranked
       |WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin
  }

  /** q_minhash_pairs SQL: the FULL MinHash+LSH pipeline mirrored — java
   * String.hashCode per word, 64-bit polynomial shingle hash, SplitMix64
   * finalizer (limb multiply), 64 XOR-permutations with signed minima,
   * 16×4 band folds, bucket self-join, exact distinct-shingle Jaccard. */
  private lazy val minhashSql: String = {
    import WrapSql._
    val gk = (0 until 64).map { k =>
      s"($k, CAST('${u(k * Golden)}' AS UBIGINT))"
    }.mkString(", ")
    var bexpr = "CAST(b AS HUGEINT)"
    for (ri <- 0 until 4)
      bexpr = s"(($bexpr * 1000003 + max(CASE WHEN ri = $ri THEN sigu END)) % $M64)"
    s"""WITH $shinglesCte,
       |dsh AS (SELECT id, list_distinct(list(sh)) AS s FROM shingles GROUP BY id),
       |gk(k, g) AS (VALUES $gk),
       |pkin AS (SELECT s.id, g.k, xor(s.sh, g.g) AS _zin FROM shingles s CROSS JOIN gk g),
       |${splitmix("pk", "_zin", "ph")},
       |sigs AS (SELECT id, k,
       |    min(CASE WHEN ph >= 9223372036854775808 THEN CAST(CAST(ph AS HUGEINT) - $M64 AS BIGINT) ELSE CAST(ph AS BIGINT) END) AS sig
       |  FROM pkout GROUP BY id, k),
       |allsig AS (SELECT d.id, g.k, coalesce(s.sig, 9223372036854775807) AS sig
       |  FROM docs d CROSS JOIN gk g LEFT JOIN sigs s ON s.id = d.id AND s.k = g.k),
       |bandrows AS (SELECT id, k // 4 AS b, k % 4 AS ri,
       |    (CAST(sig AS HUGEINT) % $M64 + $M64) % $M64 AS sigu
       |  FROM allsig),
       |bands AS (SELECT id, b, CAST($bexpr AS UBIGINT) AS bucket FROM bandrows GROUP BY id, b),
       |cand AS (SELECT DISTINCT a.id AS a_id, b2.id AS b_id
       |  FROM bands a JOIN bands b2 ON a.bucket = b2.bucket AND a.b = b2.b AND a.id < b2.id),
       |jac AS (SELECT c.a_id, c.b_id,
       |    CASE WHEN coalesce(len(da.s), 0) = 0 AND coalesce(len(db.s), 0) = 0 THEN 1.0
       |    ELSE CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
       |      (coalesce(len(da.s), 0) + coalesce(len(db.s), 0) - len(list_intersect(da.s, db.s))) END AS jaccard
       |  FROM cand c LEFT JOIN dsh da ON da.id = c.a_id LEFT JOIN dsh db ON db.id = c.b_id)
       |SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** q_simhash_pairs SQL: per-bit shingle majorities → 64-bit simhash,
   * 16-bit band buckets, Hamming ≤ 8 via bit_count(xor). */
  private lazy val simhashSql: String = {
    import WrapSql._
    s"""WITH $shinglesCte,
       |bits AS (SELECT s.id, b.b, SUM(CAST((s.sh >> CAST(b.b AS INTEGER)) & 1 AS BIGINT)) AS cnt, count(*) AS n
       |  FROM shingles s CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b GROUP BY s.id, b.b),
       |sh64 AS (SELECT id, SUM(CASE WHEN 2 * cnt - n > 0 THEN CAST(1 AS UBIGINT) << CAST(b AS INTEGER) ELSE CAST(0 AS UBIGINT) END) AS h
       |  FROM bits GROUP BY id),
       |allsh AS (SELECT d.id, CAST(coalesce(s.h, 0) AS UBIGINT) AS h FROM docs d LEFT JOIN sh64 s ON s.id = d.id),
       |banded AS (SELECT id, h, (CAST(b AS UBIGINT) << 16) | ((h >> CAST(16 * b AS INTEGER)) & 65535) AS bucket
       |  FROM allsh, unnest(range(0, 4)) t(b)),
       |cand AS (SELECT DISTINCT a.id AS a_id, b2.id AS b_id, a.h AS a_h, b2.h AS b_h
       |  FROM banded a JOIN banded b2 ON a.bucket = b2.bucket AND a.id < b2.id)
       |SELECT a_id, b_id, CAST(bit_count(xor(a_h, b_h)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(a_h, b_h)) <= 8
       |ORDER BY a_id, b_id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    query("q_events_window")((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("HOUR", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("hour", "event_type"))(
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin),

    // gap-based sessionization (30-min gap per user), exact microsecond
    // arithmetic — the batch analog of the streaming state machine
    query("q_sessionize")((s, dir) =>
      Sessionize.summarize(t(s, dir, "events"), "user_id", "ts", "event_id",
          gapSeconds = 1800)
        .orderBy("user_id", "session"))(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) - 1 AS session
        |  FROM g)
        |SELECT user_id, CAST(session AS BIGINT) AS session, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM s GROUP BY user_id, session
        |ORDER BY user_id, session""".stripMargin),

    query("q_dedup_exact")((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("_key", substring(col("text"), 1, 30))
      Dedup.exact(docs, "doc_id", "_key")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    })(
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY substr(text, 1, 30) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    query("q_token_count")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
        .orderBy("doc_id"))(
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    query("q_quality")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long").as("q_int"))
        .orderBy("doc_id"))(
      """SELECT doc_id, CAST(floor((
        |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
        |  + greatest(1.0 - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 4.0, 0.0) * 0.3
        |  + (CASE WHEN CAST(length(text) AS DOUBLE) / greatest(CAST(
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE), 1.0)
        |      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |  ) * 1000000.0) AS BIGINT) AS q_int
        |FROM documents ORDER BY doc_id""".stripMargin),

    query("q_ann_topk")((s, dir) =>
      Ann.bruteForceTopK(s, t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .select(col("id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("id", "rnk"))(
      """WITH pairs AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS score
        |  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT id, neighbor_id,
        |    row_number() OVER (PARTITION BY id ORDER BY score DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |SELECT id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM ranked
        |WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin),

    // minhash/simhash: the full pipelines are mirrored in DuckDB (64-bit
    // wrap arithmetic via HUGEINT limb decomposition — see WrapSql)
    query("q_minhash_pairs")((s, dir) =>
      Dedup.minhashPairs(s, t(s, dir, "documents"), "doc_id", "text", threshold = 0.3)
        .orderBy("a_id", "b_id"))(
      minhashSql),

    query("q_simhash_pairs")((s, dir) =>
      Dedup.simhashPairs(s, t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a_id", "b_id"))(
      simhashSql),

    query("q_lang_id")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langIdUdf(col("text")).as("lang_pred"))
        .orderBy("doc_id"))(
      // stopword-hit argmax mirror of TextAnalysis.langIdUdf: count stopword
      // hits per language, winner = lexicographically-smallest argmax (de < en
      // < es < fr), all-zero -> 'und'. Pure integer logic — hash-exact.
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(coalesce(text, '')), '\W+'), x -> x <> '') AS words
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(words, x -> list_contains(['the','and','of','to','in','is','that','for','with','was','it','a'], x))) AS s_en,
        |  len(list_filter(words, x -> list_contains(['der','die','und','das','ist','von','mit','ein','nicht','den','zu'], x))) AS s_de,
        |  len(list_filter(words, x -> list_contains(['le','la','et','les','des','est','un','une','du','que','dans','pour'], x))) AS s_fr,
        |  len(list_filter(words, x -> list_contains(['el','la','de','que','y','los','en','un','una','es','del','por'], x))) AS s_es
        |  FROM w),
        |m AS (SELECT doc_id, greatest(s_en, s_de, s_fr, s_es) AS mx, s_en, s_de, s_fr, s_es FROM s)
        |SELECT doc_id, CASE WHEN mx = 0 THEN 'und'
        |  WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en'
        |  WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin),

    query("q_fingerprint")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintUdf(col("text")).as("fp"))
        .orderBy("doc_id"))(
      // FNV-1a 64-bit rolling fingerprint mirror of TextAnalysis.fingerprintUdf:
      // wrap-around multiply emulated in HUGEINT (multiplier ~2^40, product
      // < 2^104 fits 128-bit), list_reduce over UTF-16 char codes.
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (SELECT doc_id, text,
        |  CASE WHEN norm = '' THEN [CAST(1469598103934665603 AS UBIGINT)]
        |  ELSE list_prepend(CAST(1469598103934665603 AS UBIGINT),
        |    list_transform(string_split(norm, ''), ch -> CAST(unicode(ch) AS UBIGINT))) END AS l
        |  FROM n),
        |f AS (SELECT doc_id, text, list_reduce(l, (acc, x) ->
        |  CAST(CAST(xor(acc, x) AS HUGEINT) * 1099511628211 % 18446744073709551616 AS UBIGINT)) AS u
        |  FROM c)
        |SELECT doc_id, CASE WHEN text IS NULL THEN CAST(0 AS BIGINT)
        |  WHEN u >= 9223372036854775808 THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |  ELSE CAST(u AS BIGINT) END AS fp
        |FROM f ORDER BY doc_id""".stripMargin),

    // embedding near-dup: the raw table has no pairs above 0.52 cosine, so
    // near-duplicates are PLANTED deterministically — scaled copies (x2 is
    // exact in binary FP: identical LSH sign bits, cosine 1) of every 4th
    // vector. LSH multi-probe must recover exactly the planted pairs; the
    // DuckDB oracle checks the full all-pairs cosine >= 0.95 set.
    query("q_embed_dedup")((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), v => (v * lit(2.0f)).cast("float")).as("embedding"))
      Dedup.embeddingPairs(s, base.unionByName(planted), "vec_id", "embedding",
          threshold = 0.95)
        .select(col("a_id"), col("b_id"))
        .orderBy("a_id", "b_id")
    })(
      """WITH aug AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 4 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.95
        |ORDER BY a_id, b_id""".stripMargin),

    // exact n-gram (3-word shingle) Jaccard over all candidate pairs — the
    // minhash verifier run exhaustively on a bounded slice so DuckDB can
    // mirror it with list functions; integer (inter, union) outputs and an
    // integer cross-multiplied threshold keep the compare FP-free
    query("q_jaccard_pairs")((s, dir) => {
      val w = array_remove(split(lower(col("text")), "\\W+"), "")
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), array_distinct(
          transform(sequence(lit(0), size(col("w")) - 3),
            i => concat_ws(" ",
              element_at(col("w"), i + 1),
              element_at(col("w"), i + 2),
              element_at(col("w"), i + 3)))).as("s"))
      val inter = size(array_intersect(col("a.s"), col("b.s")))
      val uni = size(col("a.s")) + size(col("b.s")) - inter
      docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          inter.cast("long").as("inter"), uni.cast("long").as("uni"))
        .filter(col("inter") * 10 >= col("uni") * 3)
        .orderBy("a_id", "b_id")
    })(
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
        |  FROM documents WHERE doc_id < 300),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM docs WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 10 >=
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 3
        |ORDER BY a_id, b_id""".stripMargin),

    query("q_ann_lsh")((s, dir) =>
      Ann.lshTopK(s, t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .select(col("id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("id", "rnk"))(
      // full LSH mirror of Ann.lshTopK: hyperplane signatures recomputed from
      // the same ±1 grid (list_sum is sequential -> dot products bit-match the
      // Scala fold), Hamming-1 multi-probe bucket join, exact cosine rank.
      // Output carries ranks only, so list_cosine_similarity ulps are inert
      // (same argument as the passing q_ann_topk oracle).
      s"""WITH grid AS (SELECT p, sgn
         |  FROM (VALUES ${Ann.planesSqlValues(10, 64)}) t(p, sgn)),
         |sigs AS (SELECT e.vec_id AS id,
         |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * g.sgn[i])) >= 0
         |      THEN 1 << g.p ELSE 0 END) AS BIGINT) AS sig
         |  FROM embeddings e CROSS JOIN grid g GROUP BY e.vec_id),
         |probes AS (SELECT id,
         |    CASE WHEN i.i = 0 THEN sig
         |    ELSE xor(sig, CAST(1 AS BIGINT) << CAST(i.i - 1 AS INTEGER)) END AS bucket
         |  FROM sigs CROSS JOIN range(0, 11) i(i)),
         |cand AS (SELECT DISTINCT p.id, b.id AS neighbor_id
         |  FROM probes p JOIN sigs b ON p.bucket = b.sig AND p.id <> b.id),
         |scored AS (SELECT c.id, c.neighbor_id,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |      CAST(eb.embedding AS DOUBLE[])) AS score
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |ranked AS (SELECT id, neighbor_id,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM ranked
         |WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin),

    query("q_ann_ivf")((s, dir) =>
      Ann.ivfTopK(s, t(s, dir, "embeddings"), "vec_id", "embedding", k = 3,
          nlist = 16, nprobe = 4)
        .select(col("id"), col("rank").cast("long").as("rnk"), col("neighbor_id"))
        .orderBy("id", "rnk"))(
      // full IVF mirror of Ann.ivfTopK: Spark-exact XXH64(long, seed 42) hash
      // ordering for the 16 seed vectors (32-bit-limb wrap-multiplies +
      // rotations in HUGEINT), 3 unrolled Lloyd iterations with float-rounded
      // centroid means (CAST ... AS FLOAT == Scala .toFloat), argmax-cosine
      // assignment with lower-list tie-break, nprobe=4 multi-probe, exact
      // cosine rank. Output carries ranks only, so sum-order ulps in the
      // centroid means are inert (argmax margins are generic).
      annIvfSql)
  )
}
