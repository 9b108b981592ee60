package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{QueryDef, Tables}

/** Round-10 additions: exact-substring span dedup (the Lee et al.
  * ExactSubstr transform), BM25 ranked retrieval, and the newest
  * connector/layout surface. Same conventions as PipelineQueries —
  * total-order output, scalar columns, identical aliases on both
  * engines.
  */
object PipelineLatest {

  val defs: Seq[QueryDef] = Seq(

    // --- exact duplicated-substring removal (Lee et al. ExactSubstr):
    //     every >= 8-token run occurring more than once in the corpus is
    //     merged into maximal per-doc spans and cut from the text. The
    //     engine pre-filters on xxhash64(window) so only candidate
    //     windows ever ship their text (the string-keyed confirm makes
    //     collisions harmless — acceleration invisible); the oracle is
    //     the plain string-count formulation with the same island merge
    //     as window SQL. Fully-duplicated docs clean to ''. ---
    QueryDef(
      "p82_exact_substr_dedup",
      (s, dir) => graft.operators.ExactSubstrDedup.cleanedCorpus(
          Tables.t(s, dir, "documents"), "doc_id", "text",
          w = 8, minCount = 2)
        .orderBy("doc_id"),
      Some(
        """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
          |             FROM documents),
          |wins AS (SELECT doc_id, i - 1 AS s,
          |           array_to_string(tk[i:i+7], ' ') AS span
          |         FROM (SELECT doc_id, tk,
          |                 unnest(range(1, len(tk) - 6)) AS i
          |               FROM tok WHERE len(tk) >= 8)),
          |dup AS (SELECT span FROM wins GROUP BY span
          |        HAVING count(*) >= 2),
          |m AS (SELECT wins.doc_id, wins.s FROM wins JOIN dup USING (span)),
          |brk AS (SELECT doc_id, s,
          |          CASE WHEN s - lag(s) OVER (PARTITION BY doc_id
          |            ORDER BY s) <= 8 THEN 0 ELSE 1 END AS b
          |        FROM m),
          |isl AS (SELECT doc_id, s,
          |          sum(b) OVER (PARTITION BY doc_id ORDER BY s) AS g
          |        FROM brk),
          |iv AS (SELECT doc_id, g, min(s) AS b, max(s) + 8 AS e
          |       FROM isl GROUP BY doc_id, g),
          |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
          |          CAST(sum(e - b) AS BIGINT) AS dup_tokens
          |        FROM iv GROUP BY doc_id),
          |toks AS (SELECT doc_id, i - 1 AS pos, tk[i] AS w2
          |         FROM (SELECT doc_id, tk,
          |                 unnest(range(1, len(tk) + 1)) AS i
          |               FROM tok)),
          |kept AS (SELECT t.doc_id,
          |           string_agg(t.w2, ' ' ORDER BY t.pos) AS ct
          |         FROM toks t LEFT JOIN iv
          |           ON t.doc_id = iv.doc_id
          |          AND t.pos >= iv.b AND t.pos < iv.e
          |         WHERE iv.doc_id IS NULL
          |         GROUP BY t.doc_id)
          |SELECT tok.doc_id AS doc_id,
          |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          |  CAST(len(tk) AS INT) AS n_tokens,
          |  coalesce(k.ct, '') AS cleaned_text
          |FROM tok LEFT JOIN agg a USING (doc_id)
          |  LEFT JOIN kept k USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      benchExt = true),

    // --- BM25 ranked retrieval: queries = tokens 3..6 of docs 0..4
    //     (deduplicated), top-5 docs per query by 6dp-rounded score.
    //     Every floating constant is interpolated from the SAME Scala
    //     double the engine uses (k1+1 computed once, not re-parsed), and
    //     avgdl is exact-sum/count on both engines, so per-row contribs
    //     are bit-identical and only the (rounded) sum order differs —
    //     p55's regime. df is computed over the query-vocabulary slice
    //     (exact: the cut keeps every (doc,term) row for query terms). ---
    QueryDef(
      "p83_bm25_topk",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            array_distinct(slice(split(col("text"), " "), 3, 4)).as("qterms"))
        graft.operators.Bm25.topK(docs, "doc_id", "text",
            queries, "query_id", "qterms", k = 5)
          .select(col("qid").as("query_id"), col("id").as("doc_id"),
            col("score"))
          .orderBy(col("query_id"), col("score").desc, col("doc_id"))
      },
      Some {
        val k1 = 1.2; val b = 0.75
        val k1p1 = k1 + 1.0
        s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
           |             FROM documents),
           |q AS (SELECT doc_id AS query_id,
           |        unnest(list_distinct(tk[3:6])) AS term
           |      FROM tok WHERE doc_id < 5),
           |tfg AS (SELECT doc_id, len(tk) AS dl, term, count(*) AS tf
           |        FROM (SELECT doc_id, tk, unnest(tk) AS term FROM tok)
           |        GROUP BY 1, 2, 3),
           |cand AS (SELECT tfg.* FROM tfg
           |         JOIN (SELECT DISTINCT term FROM q) USING (term)),
           |dfx AS (SELECT term, count(*) AS df FROM cand GROUP BY 1),
           |tot AS (SELECT count(*) AS n_docs,
           |          sum(len(tk))::DOUBLE / count(*) AS avgdl
           |        FROM tok),
           |sc AS (SELECT q.query_id, c.doc_id,
           |         round(sum(
           |           ln(1.0::DOUBLE + (t.n_docs - d.df + 0.5::DOUBLE)
           |             / (d.df + 0.5::DOUBLE))
           |           * c.tf * $k1p1::DOUBLE
           |           / (c.tf + $k1::DOUBLE * (1.0::DOUBLE - $b::DOUBLE
           |               + $b::DOUBLE * c.dl / t.avgdl))), 6) AS score
           |       FROM cand c JOIN q USING (term) JOIN dfx d USING (term)
           |       CROSS JOIN tot t
           |       GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, doc_id) AS rn FROM sc)
           |SELECT query_id, doc_id, score FROM r WHERE rn <= 5
           |ORDER BY query_id, score DESC, doc_id""".stripMargin
      },
      benchExt = true),

    // --- DSv2 TIME TRAVEL (the 7th connector dimension): overwrite a
    //     per-mktsegment customer rollup (version N), append poison rows
    //     that would corrupt every aggregate (version N+1), then read
    //     `versionAsOf` N back through the connector — the driver hash
    //     certifies that a pinned snapshot read sees EXACTLY the
    //     pre-append table. Rollback/expiry/vacuum-protection semantics
    //     are pinned in ManifestTableSpec. ---
    QueryDef(
      "q86_time_travel",
      (s, dir) => StorageLayout.q86TimeTravel(s, dir)(),
      Some(
        """SELECT c_mktsegment,
          |  CAST(count(*) AS BIGINT) AS n_cust,
          |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
          |  min(c_acctbal) AS min_bal
          |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // --- dynamic partition pruning over a month-partitioned fact: the
    //     fact is written PARTITIONED BY ship_month (the layout a 100 TB
    //     fact table actually has), the dim side arrives with a
    //     selective filter, and Spark injects a runtime pruning subquery
    //     into the fact scan — only January partitions are READ, not
    //     just filtered (DppSpec asserts the dynamicpruning expression
    //     and the pruned partition count). Aggregates are exact-in-fp
    //     (counts + small-integer-valued quantity sums). ---
    QueryDef(
      "q87_dynamic_partition_pruning",
      (s, dir) => StorageLayout.q87Dpp(s, dir)(),
      Some(
        """WITH f AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
          |             l_quantity FROM lineitem),
          |d AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
          |      FROM orders WHERE month(o_orderdate) = 1)
          |SELECT ship_month, CAST(count(*) AS BIGINT) AS n,
          |  sum(l_quantity) AS sum_qty
          |FROM f JOIN d USING (ship_month)
          |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // --- copy-on-write MERGE (q88): customer lands key-clustered in 8
    //     files, sparse updates (every 10th key, whole-row) + 3 inserts
    //     beyond the key range merge in, and the read-back must equal
    //     the plain SQL merge — while CowSpec separately pins that only
    //     key-overlapping files were rewritten. Update arithmetic is
    //     exact (same double + same constant on both engines). ---
    QueryDef(
      "q88_cow_merge",
      (s, dir) => StorageLayout.q88CowMerge(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, 'upd-' || c_name AS c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT * FROM merged ORDER BY c_custkey""".stripMargin)),

    // --- copy-on-write DELETE (q89): the right-to-be-forgotten table
    //     primitive — every 7th customer key is deleted from the same
    //     key-clustered layout; partially-hit files rewrite, fully-hit
    //     files drop, untouched files carry over (CowSpec). The read
    //     back must equal the plain anti-join. ---
    QueryDef(
      "q89_cow_delete",
      (s, dir) => StorageLayout.q89CowDelete(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_custkey % 7 <> 0
          |ORDER BY c_custkey""".stripMargin)),

    // --- bloom point-lookup file skipping (q90): customer lands
    //     HASH-SCATTERED (every file's key range spans the table — zone
    //     maps prune nothing by construction) with per-file blooms on
    //     the key; an IN point lookup reads only bloom-positive files.
    //     BloomSkipSpec pins the files-read counts (incl. the string
    //     column zone maps can never cover); the oracle is the plain
    //     filter — skipping must be invisible. ---
    QueryDef(
      "q90_bloom_skip",
      (s, dir) => StorageLayout.q90BloomSkip(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_custkey IN (1, 7, 500, 1203)
          |ORDER BY c_custkey""".stripMargin)),

    // --- audio perceptual near-dup (p84): the WAV twin of p63 — docs in
    //     a family (id/3) share a base signal ±2-amplitude noise; the
    //     48-frame |PCM|-energy fingerprint (aHash's cross-multiplied
    //     integer rule on the 1-D signal) runs through the REAL
    //     javax.sound decode, then the SAME banded hamming join as
    //     images. 48 bits / 3 bands of 16 gives 65536-value band keys,
    //     so band buckets track family count instead of saturating at
    //     64 values (the 16-bit r10 form's O(n²) scale-killer); at
    //     sf0.1 the output is exactly the 4999 planted family pairs.
    //     The oracle never decodes a byte: samples are pure integer
    //     arithmetic recomputed in SQL. ---
    QueryDef(
      "p84_audio_neardup",
      (s, dir) => {
        import s.implicits._
        // round-18: the 12-byte (id, afp) fingerprint frame is cut
        // with a localCheckpoint — the banded self-join's two sides
        // otherwise each recompute the full synth+decode+fingerprint
        // pass (AQE broadcast-converts one side, so the subtrees get
        // different exchange types and reuse cannot dedupe them; the
        // lshCandidates lesson). NOTE: spreading the decode to
        // core-count tasks was A/B'd and REJECTED (1.14 -> 2.8 s —
        // javax.sound's provider registry serializes concurrent
        // getAudioInputStream calls, so parallel decode contends
        // instead of scaling).
        val wavs = Tables.t(s, dir, "documents").select(col("doc_id"))
          .as[Long]
          .mapPartitions(_.map { id =>
            val fam = id / 3
            graft.operators.Multimodal.WavRow(id,
              graft.operators.Multimodal.synthWavNoise(id, 8000,
                64 + (fam % 17).toInt * 4))
          })
        val hashes = graft.operators.Multimodal.audioFingerprint(wavs,
            frames = 48)
          .toDF().select(col("doc_id").as("id"), col("afp"))
          .transform(graft.operators.Materialize.cut)
        graft.operators.Dedup.hammingNearDupPairs(hashes, "afp",
            totalBits = 48, maxDist = 2)
          .orderBy("id_a", "id_b")
      },
      Some(
        """WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
          |             64 + ((doc_id // 3) % 17) * 4 AS n
          |           FROM documents),
          |sm AS (SELECT doc_id, n, i,
          |         ((fam * 31 + i) * (fam * 31 + i) % 99991 * 7919
          |            + (fam * 31 + i) * 104729) % 20000 - 10000
          |           + (doc_id * 7 + i * 13) % 5 - 2 AS v
          |       FROM (SELECT doc_id, fam, n, unnest(range(0, n)) AS i
          |             FROM d)),
          |fr AS (SELECT doc_id, n, (i * 48) // n AS f,
          |         sum(abs(v)) AS fsum, count(*) AS fcnt
          |       FROM sm GROUP BY 1, 2, 3),
          |tot AS (SELECT doc_id, sum(abs(v)) AS tsum FROM sm GROUP BY 1),
          |bits AS (SELECT fr.doc_id,
          |          CASE WHEN fr.fsum * fr.n > t.tsum * fr.fcnt
          |            THEN (1::BIGINT << f::INT) ELSE 0 END AS bit
          |         FROM fr JOIN tot t USING (doc_id)),
          |hs AS (SELECT doc_id AS id, sum(bit)::BIGINT AS afp
          |       FROM bits GROUP BY 1),
          |p AS (SELECT a.id id_a, b.id id_b,
          |        CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
          |      FROM hs a JOIN hs b ON a.id < b.id)
          |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 2
          |ORDER BY id_a, id_b""".stripMargin),
      benchExt = true),

    // --- corpus-level distinct-n diversity per language (p85): the
    //     mode-collapse detector per-doc metrics (p18/p32) cannot see —
    //     occurrence totals are metadata-cheap (len−n+1 per row), only
    //     distinct grams ship. Oracle mirrors the slice-comprehension
    //     windows (p56's trick) with DISTINCT over the slice. ---
    QueryDef(
      "p85_distinct_ngram_diversity",
      (s, dir) => graft.operators.TextAnalysis.distinctNgramDiversity(
          Tables.t(s, dir, "documents"), "lang", "text")
        .orderBy("slice", "n"),
      Some {
        def level(n: Int): String =
          s"""SELECT t.lang AS slice, CAST($n AS INT) AS n,
             |  t.n_grams, coalesce(d.n_distinct, 0) AS n_distinct
             |FROM (SELECT lang, CAST(sum(CASE WHEN len(tk) >= $n
             |        THEN len(tk) - ${n - 1} ELSE 0 END) AS BIGINT)
             |        AS n_grams
             |      FROM tok GROUP BY lang) t
             |LEFT JOIN (
             |  SELECT lang, CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
             |  FROM (SELECT lang,
             |          unnest([array_to_string(tk[i:i+${n - 1}], ' ')
             |            FOR i IN range(1, len(tk) - ${n - 2})]) AS g
             |        FROM tok WHERE len(tk) >= $n)
             |  GROUP BY lang) d ON t.lang = d.lang""".stripMargin
        s"""WITH tok AS (SELECT lang, string_split(text, ' ') AS tk
           |             FROM documents),
           |u AS (
           |${Seq(1, 2, 3).map(level).mkString("\nUNION ALL\n")})
           |SELECT slice, n, n_grams, n_distinct,
           |  CASE WHEN n_grams > 0
           |    THEN round(n_distinct::DOUBLE / n_grams, 6) END
           |    AS distinct_ratio
           |FROM u ORDER BY slice, n""".stripMargin
      },
      benchExt = true),

    // --- exact distributed AUC-ROC (p86): does mean token length
    //     separate English docs? The score is an exact int/int division
    //     (bit-identical both engines), the U statistic stays in exact
    //     integer arithmetic through the two-phase global scan (p76's
    //     pattern — no SinglePartition window), and the ONE final
    //     division is the only float op. Single-row result, total
    //     order trivial. The scorer is pure string arithmetic — for a
    //     single-space split, sum(token lengths) = length - #spaces and
    //     #tokens = #spaces + 1 (split("") = [""], so the identity holds
    //     on empty text too) — the same integers split+aggregate would
    //     produce, without materializing a token array per document
    //     (round-16: the array form allocated the split TWICE per row
    //     and was the group's scan-cost outlier). ---
    QueryDef(
      "p86_exact_auc",
      (s, dir) => {
        val scored = Tables.t(s, dir, "documents").select(
          graft.functions.Fns.meanTokenLen6dp(col("text"))
            .as("mean_tok_len"),
          (col("lang") === "en").as("is_en"))
        graft.operators.EvalMetrics.aucRoc(scored, "mean_tok_len", "is_en")
      },
      Some(
        """WITH s AS (SELECT round(list_sum(list_transform(
          |      string_split(text, ' '), x -> length(x)))::DOUBLE
          |      / len(string_split(text, ' ')), 6) AS score,
          |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          |  FROM documents),
          |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
          |        CAST(count(*) - sum(y) AS BIGINT) AS nn
          |      FROM s GROUP BY score),
          |c AS (SELECT score, np, nn,
          |        CAST(sum(nn) OVER (ORDER BY score
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |          AS BIGINT) AS cum
          |      FROM g),
          |u AS (SELECT CAST(sum(np * (2 * (cum - nn) + nn)) AS BIGINT)
          |        AS u2,
          |        CAST(sum(np) AS BIGINT) AS p,
          |        CAST(sum(nn) AS BIGINT) AS n,
          |        CAST(count(*) AS BIGINT) AS n_scores
          |      FROM c)
          |SELECT p AS n_pos, n AS n_neg, n_scores,
          |  CASE WHEN p > 0 AND n > 0
          |    THEN round(u2::DOUBLE / (2.0::DOUBLE * p * n), 6) END AS auc
          |FROM u""".stripMargin),
      benchExt = true),

    // --- ranked-retrieval metrics (p87): recall@10 / MRR / nDCG@10 of
    //     exact cosine retrieval under label-match relevance — the
    //     evaluation loop every ANN/retrieval knob (p10/p13/p58's
    //     ladders, p83's BM25) should be tuned against. DCG discounts
    //     and IDCG prefixes are ONE Scala-computed literal table shared
    //     by both plans; the only per-query float ops are a
    //     deterministic fold and one division. ---
    QueryDef(
      "p87_retrieval_metrics",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        val ranked = graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id") % 50 === 0), e, k = 10)
        graft.operators.EvalMetrics.labelRetrievalMetrics(
            ranked, e.select("vec_id", "label"), k = 10)
          .orderBy("qid")
      },
      Some {
        val w = graft.operators.EvalMetrics.dcgWeights(10)
        val pre = graft.operators.EvalMetrics.idcgPrefix(10)
        val pivots = (1 to 10).map(r =>
          s"coalesce(max(CASE WHEN rank = $r THEN rel END), 0) AS r$r")
          .mkString(",\n           ")
        val dcg = (1 to 10).map(r => s"r$r * ${w(r - 1)}::DOUBLE")
          .mkString(" + ")
        val preList = pre.map(p => s"$p::DOUBLE").mkString("[", ", ", "]")
        s"""WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings
           |           WHERE vec_id % 50 = 0),
           |c AS (SELECT vec_id nid, embedding nv FROM embeddings),
           |s AS (SELECT qid, nid,
           |  round(
           |    list_sum(list_transform(range(1, 65),
           |      i -> CAST(qv[i] AS DOUBLE) * CAST(nv[i] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(range(1, 65),
           |         i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
           |     * sqrt(list_sum(list_transform(range(1, 65),
           |         i -> CAST(nv[i] AS DOUBLE) * CAST(nv[i] AS DOUBLE))))), 6) cos
           |  FROM q JOIN c ON qid <> nid),
           |r AS (SELECT *, CAST(row_number() OVER
           |        (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
           |      FROM s),
           |top AS (SELECT qid, nid, rank FROM r WHERE rank <= 10),
           |lab AS (SELECT vec_id, label FROM embeddings),
           |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS lab_n
           |        FROM lab GROUP BY 1),
           |t AS (SELECT top.qid, top.rank,
           |        CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
           |      FROM top
           |      JOIN lab ql ON top.qid = ql.vec_id
           |      JOIN lab nl ON top.nid = nl.vec_id),
           |piv AS (SELECT qid,
           |           $pivots,
           |           CAST(sum(rel) AS BIGINT) AS hits,
           |           CAST(min(CASE WHEN rel = 1 THEN rank END) AS INT)
           |             AS first_rel
           |        FROM t GROUP BY qid),
           |nr AS (SELECT ql.vec_id AS qid, cnt.lab_n - 1 AS n_rel
           |       FROM (SELECT vec_id, label FROM embeddings
           |             WHERE vec_id % 50 = 0) ql
           |       JOIN cnt USING (label))
           |SELECT p.qid, nr.n_rel, p.hits,
           |  CASE WHEN nr.n_rel > 0
           |    THEN round(p.hits::DOUBLE / nr.n_rel, 6) END AS recall_at_10,
           |  coalesce(round(1.0::DOUBLE / p.first_rel, 6), 0.0::DOUBLE)
           |    AS mrr,
           |  CASE WHEN least(nr.n_rel, 10) > 0
           |    THEN round(($dcg)
           |      / ($preList[CAST(least(nr.n_rel, 10) AS INT) + 1]), 6)
           |    END AS ndcg_at_10
           |FROM piv p JOIN nr USING (qid)
           |ORDER BY qid""".stripMargin
      },
      benchExt = true),

    // --- k-anonymity audit + suppression (p88): the group-level privacy
    //     release check (Sweeney) — per (nation, segment) quasi group,
    //     its size, compliance at k=5, and the count of rows the
    //     suppression release would keep. The suppressed-release row
    //     count is recomputed per group so ONE query certifies both the
    //     audit and the enforcement join. The BUILDING segment is
    //     nullified so one quasi value per nation is NULL — exercising
    //     the null-safe (<=>) enforcement join end-to-end: with a plain
    //     equality join every NULL-quasi row would be suppressed and
    //     this query's n_released would disagree with the oracle's
    //     group count (ADVICE r10, Anonymize.suppressSmallGroups). ---
    QueryDef(
      "p88_k_anonymity",
      (s, dir) => {
        val cust = Tables.t(s, dir, "customer")
          .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
        val quasi = Seq("c_nationkey", "seg")
        val report = graft.operators.Anonymize.kAnonymityReport(
          cust, quasi, k = 5)
        val kept = graft.operators.Anonymize.suppressSmallGroups(
            cust, quasi, k = 5)
          .groupBy(quasi.map(col): _*)
          .agg(count(lit(1)).as("n_released"))
          .select(col("c_nationkey").as("__r_nat"), col("seg").as("__r_seg"),
            col("n_released"))
        report.join(kept,
            col("c_nationkey") <=> col("__r_nat") &&
              col("seg") <=> col("__r_seg"), "left")
          .select(col("c_nationkey"), col("seg"), col("n"),
            col("compliant"),
            coalesce(col("n_released"), lit(0L)).as("n_released"))
          .orderBy("c_nationkey", "seg")
      },
      Some(
        """WITH c AS (SELECT c_nationkey,
          |             nullif(c_mktsegment, 'BUILDING') AS seg
          |           FROM customer),
          |g AS (SELECT c_nationkey, seg, CAST(count(*) AS BIGINT) AS n
          |      FROM c GROUP BY 1, 2)
          |SELECT c_nationkey, seg, n, n >= 5 AS compliant,
          |  CASE WHEN n >= 5 THEN n ELSE 0 END AS n_released
          |FROM g
          |ORDER BY c_nationkey, seg NULLS FIRST""".stripMargin),
      benchExt = true),

    // --- tokenizer fertility/compression report (p89): the tokenization
    //     family's measurement loop — p68 trains, p73 encodes, this
    //     gates: per-language pieces-per-word and chars-per-piece under
    //     the corpus-trained 8-merge BPE. The oracle replays the SAME
    //     training and encoding folds (p68/p73's CTE machinery) and
    //     rolls them up per lang. ---
    QueryDef(
      "p89_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val merges = graft.operators.BpeTrainer
          .learnMerges(docs, "text", numMerges = 8)
          .orderBy("merge_rank").select("lhs", "rhs")
          .as[(String, String)].collect().toSeq
        graft.operators.TokenizerEval.fertilityReport(
            docs, "text", "lang", merges)
          .orderBy("slice")
      },
      Some {
        val base = PipelineRecent.bpeOracle(8)
        val ctes = base.substring("WITH ".length,
          base.indexOf("\nSELECT 1 AS merge_rank"))
        val encodeCtes = ("e0 AS (SELECT word, string_split(word, '') " +
          "AS ts FROM (SELECT DISTINCT word FROM dw))") +:
          (1 to 8).map { r =>
            s"e$r AS (SELECT word,\n" +
              "  list_reduce(list_transform(ts, t -> [t]), (acc, x) ->\n" +
              s"    CASE WHEN acc[len(acc)] = c$r.lhs AND x[1] = c$r.rhs\n" +
              "      THEN acc[1:len(acc)-1] || [acc[len(acc)] || x[1]]\n" +
              "      ELSE acc || x END) AS ts\n" +
              s"  FROM e${r - 1} CROSS JOIN c$r)"
          }
        s"""WITH $ctes,
           |dw AS (SELECT lang, t AS word
           |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
           |             FROM documents)),
           |${encodeCtes.mkString(",\n")},
           |sc AS (SELECT dw.lang, e8.ts FROM dw JOIN e8 USING (word)),
           |pc AS (SELECT lang AS slice,
           |         CAST(sum(len(ts)) AS BIGINT) AS n_pieces
           |       FROM sc GROUP BY 1),
           |wd AS (SELECT lang AS slice, CAST(count(*) AS BIGINT) AS n_words,
           |         CAST(sum(length(word)) AS BIGINT) AS n_word_chars
           |       FROM dw GROUP BY 1)
           |SELECT slice, n_words, n_word_chars, n_pieces,
           |  round(n_pieces::DOUBLE / n_words, 6) AS fertility,
           |  round(n_word_chars::DOUBLE / n_pieces, 6) AS chars_per_piece
           |FROM wd JOIN pc USING (slice) ORDER BY slice""".stripMargin
      },
      benchExt = true),

    // --- quality-aware canonical keep (p90): the RefinedWeb release
    //     rule — each SimHash near-dup cluster keeps its HIGHEST-QUALITY
    //     member (distinct-token ratio, 6dp, id ties) instead of p48's
    //     arbitrary min-id. Clusters are hamming-0 signature buckets:
    //     the pairs feed the SAME generic component machinery
    //     (ConnectedComponents via qualityCanonicalKeep), but an
    //     EQUALITY relation is its own transitive closure, so the
    //     oracle is a plain signature group-by — affordable at any
    //     scale, where a positive-radius closure is not (a 1-bit radius
    //     on this shared-vocabulary fixture chains a 2800-member
    //     component whose recursive-CTE closure runs for hours; p14
    //     carries that regime, at sf0.01 only). ---
    QueryDef(
      "p90_quality_canonical_keep",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val tk = split(col("text"), " ")
        val pairs = graft.operators.Dedup.simhashNearDupPairs(
          graft.operators.Dedup.simhashSignatures(docs, "doc_id", "text"),
          maxDist = 0)
        graft.operators.Dedup.qualityCanonicalKeep(docs, "doc_id", pairs,
            round(size(array_distinct(tk)).cast("double") / size(tk), 6))
          .orderBy("group_id")
      },
      Some {
        s"""${PipelineQueries.duckSimhashCte},
           |grp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY sh)
           |          AS group_id
           |        FROM sig),
           |qy AS (SELECT doc_id,
           |         round(len(list_distinct(tk))::DOUBLE / len(tk), 6) AS q
           |       FROM (SELECT doc_id, string_split(text, ' ') AS tk
           |             FROM documents)),
           |j AS (SELECT grp.group_id, grp.doc_id, qy.q
           |      FROM grp JOIN qy ON grp.doc_id = qy.doc_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY group_id
           |        ORDER BY q DESC, doc_id) AS rn FROM j),
           |sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS n_members
           |       FROM j GROUP BY 1)
           |SELECT r.group_id, sz.n_members, r.doc_id AS kept_id,
           |  r.q AS kept_quality
           |FROM r JOIN sz USING (group_id) WHERE rn = 1
           |ORDER BY group_id""".stripMargin
      },
      benchExt = true),

    // --- calibration bins (p91): the reliability diagram behind ECE —
    //     the same mean-token-length/is-English pairing p86 scores by
    //     AUC, binned over the observed score range (min/max ride in as
    //     a 1-row broadcast, so bin edges are bit-identical on both
    //     engines). Bin means round after the sum (p55's regime);
    //     every other column is exact-integer arithmetic. ---
    QueryDef(
      "p91_calibration_bins",
      (s, dir) => {
        val scored = Tables.t(s, dir, "documents").select(
          graft.functions.Fns.meanTokenLen6dp(col("text"))
            .as("mean_tok_len"),
          (col("lang") === "en").as("is_en"))
        graft.operators.EvalMetrics.calibrationBins(
            scored, "mean_tok_len", "is_en", bins = 10)
          .orderBy("bin")
      },
      Some(
        """WITH s AS (SELECT round(list_sum(list_transform(
          |      string_split(text, ' '), x -> length(x)))::DOUBLE
          |      / len(string_split(text, ' ')), 6) AS s,
          |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          |  FROM documents),
          |mm AS (SELECT min(s) AS mn, max(s) AS mx FROM s),
          |bx AS (SELECT s.s, s.y, mn, mx,
          |         CASE WHEN mx = mn THEN 0
          |           ELSE CAST(least(floor((s.s - mn) / (mx - mn)
          |             * 10.0::DOUBLE), 9.0::DOUBLE) AS INT) END AS bin
          |       FROM s CROSS JOIN mm),
          |g AS (SELECT bin, mn, mx, CAST(count(*) AS BIGINT) AS n,
          |        round(sum(s) / count(*), 6) AS mean_score,
          |        round(sum(y)::DOUBLE / count(*), 6) AS frac_pos
          |      FROM bx GROUP BY 1, 2, 3)
          |SELECT bin,
          |  round(mn + bin * (mx - mn) / 10.0::DOUBLE, 6) AS lo,
          |  round(mn + (bin + 1) * (mx - mn) / 10.0::DOUBLE, 6) AS hi,
          |  n, mean_score, frac_pos
          |FROM g ORDER BY bin""".stripMargin),
      benchExt = true),

    // --- layout capstone (q91): the storage-side twin of p79's curate
    //     capstone — ONE table carries every skipping structure the
    //     engine writes (range-clustered layout -> tight zone maps on
    //     the cluster key, per-file blooms on the string key), and ONE
    //     read exercises both: a range predicate prunes to the
    //     overlapping cluster files, an equality on a STRING prunes by
    //     bloom inside them (zone maps cannot see strings at all).
    //     LayoutCapstoneSpec pins the files-read counts for each
    //     predicate alone and combined; the oracle is the plain filter
    //     — all skipping must be invisible. ---
    QueryDef(
      "q91_layout_capstone",
      (s, dir) => StorageLayout.q91LayoutCapstone(s, dir)(),
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 100 AS klo,
          |             max(o_orderkey) // 10 AS khi FROM orders),
          |pick AS (SELECT o_custkey FROM orders, b
          |         WHERE o_orderkey >= b.klo
          |         ORDER BY o_orderkey LIMIT 1)
          |SELECT o_orderkey, orders.o_custkey AS o_custkey,
          |  o_orderstatus, o_totalprice, o_orderpriority
          |FROM orders, b, pick
          |WHERE o_orderkey >= b.klo AND o_orderkey < b.khi
          |  AND orders.o_custkey = pick.o_custkey
          |ORDER BY o_orderkey""".stripMargin)),

    // --- merge-on-read DELETE (q92): q89's delete without rewriting a
    //     single data file — position deletion-vector sidecars land in
    //     the manifest entries' reserved #dvp stats key and the
    //     connector's read path skips the marked rows (Iceberg-v2/
    //     Delta-DV shape). CowSpec pins filesRewritten == 0, the
    //     chain-then-fold of stacked deletes, vacuum protection, and
    //     that compaction materializes the vectors away; the oracle is
    //     the plain anti-join — the merge must be invisible. ---
    QueryDef(
      "q92_mor_delete",
      (s, dir) => StorageLayout.q92MorDelete(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_custkey % 7 <> 0
          |ORDER BY c_custkey""".stripMargin)),

    // --- schema evolution across manifest versions (q93): v1 lands
    //     (c_custkey, c_name) for even keys, v2 appends the EVOLVED
    //     (c_custkey, c_name, c_acctbal) for odd keys; the live read
    //     projects the union schema with nulls for pre-evolution rows —
    //     resolution is by NAME, types from the table schema. Time
    //     travel returns each version's OWN schema (v1 has two columns
    //     — ManifestTableSpec pins both directions); the oracle is the
    //     CASE-projected plain table. ---
    QueryDef(
      "q93_schema_evolution",
      (s, dir) => StorageLayout.q93SchemaEvolution(s, dir)(),
      Some(
        """SELECT c_custkey, c_name,
          |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
          |FROM customer ORDER BY c_custkey""".stripMargin)),

    // --- change data feed across a COW-merge hop (q94): Delta CDF's
    //     shape from the MANIFEST DIFF alone — entries whose
    //     (name, crc, stats) changed are read under each version's own
    //     manifest and the row-level symmetric difference is the feed;
    //     unchanged entries are never opened (O(changed files), the CDC
    //     scale contract). Updates appear as delete+insert, unchanged
    //     rows inside rewritten files cancel; the oracle recomputes the
    //     merge's delta from the base table. ---
    QueryDef(
      "q94_change_feed",
      (s, dir) => StorageLayout.q94ChangeFeed(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |feed AS (
          |  SELECT 'delete' AS _change_type, c_custkey, c_name,
          |    c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT 'insert', c_custkey, 'upd-' || c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT 'insert', CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins)
          |SELECT _change_type, c_custkey, c_name, c_nationkey,
          |  c_acctbal, c_mktsegment
          |FROM feed ORDER BY _change_type, c_custkey""".stripMargin)),

    // --- streaming read, batch-oracled (q95): customer lands in three
    //     appends (three manifest versions), the micro-batch source
    //     tails them through the exactly-once streaming WRITE into a
    //     second table, and the destination must equal the plain
    //     table — the stream-vs-batch equivalence every streaming
    //     system owes its users, here hash-certified by DuckDB rather
    //     than asserted in a spec. ---
    QueryDef(
      "q95_stream_tail",
      (s, dir) => StorageLayout.q95StreamTail(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer ORDER BY c_custkey""".stripMargin)),

    // --- merge-on-read MERGE (q96): q88's upsert with ZERO data-file
    //     rewrites — old versions of updated keys are deletion-vectored
    //     onto the affected entries, the update rows land as new files
    //     in the same commit (Iceberg-v2 MOR MERGE shape). The oracle
    //     is IDENTICAL to q88's: MOR and COW must be indistinguishable
    //     at read time; CowSpec pins filesRewritten == 0 and the
    //     byte-identical survival of every original entry. ---
    QueryDef(
      "q96_mor_merge",
      (s, dir) => StorageLayout.q96MorMerge(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, 'upd-' || c_name AS c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT * FROM merged ORDER BY c_custkey""".stripMargin)),

    // --- CDC-maintained materialized view (q97): a per-segment
    //     count+sum aggregate maintained through a COW-merge hop from
    //     the CHANGE FEED alone — base state from time travel at the
    //     pre-merge version, delta = retraction algebra over the feed
    //     (O(changes), never a base rescan). The measure is acctbal in
    //     integer CENTS, so the algebra is order-free and the
    //     maintained view is bit-equal to the oracle's recompute over
    //     the merged table. The refresh MATERIALIZES into a stored
    //     table at build time (round 16); what the oracle certifies is
    //     the scan of that stored view. ---
    QueryDef(
      "q97_incremental_view",
      (s, dir) => StorageLayout.q97IncrementalView(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, c_mktsegment,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_mktsegment,
          |    CAST(c_acctbal AS DOUBLE) FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_mktsegment, c_acctbal
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
          |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
          |    AS sum_cents
          |FROM merged GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // --- storage-partitioned join (q98): customer and supplier written
    //     partitioned on their nation key (declared clustered
    //     distribution + sort; single-valued files carrying reserved
    //     #part: keys), read back through the KeyGroupedPartitioning
    //     layout report — join and grouped aggregate plan with zero
    //     shuffle exchanges between two co-partitioned gtabs
    //     (PartitionedTableSpec pins the plan; the Iceberg bucket-join
    //     mechanism on this connector). Integer-exact aggregates; the
    //     oracle recomputes from the plain tables. ---
    QueryDef(
      "q98_partitioned_join",
      (s, dir) => StorageLayout.q98PartitionedJoin(s, dir)(),
      Some(
        """SELECT c_nationkey AS nk, count(*) AS n_pairs,
          |  CAST(sum(c_custkey + s_suppkey) AS BIGINT) AS key_sum
          |FROM customer JOIN supplier ON c_nationkey = s_nationkey
          |GROUP BY 1 ORDER BY nk""".stripMargin)),

    // --- write-audit-publish (q99): inserts staged on a zero-copy
    //     BRANCH of the manifest ledger, audited (in-build requires:
    //     branch sees them, main does not — a failed audit fails the
    //     query), then atomically fast-forwarded into main; the
    //     publish would refuse after any foreign main commit
    //     (BranchSpec pins the conflict). The oracle is the plain
    //     union of base + staged rows. ---
    QueryDef(
      "q99_wap_publish",
      (s, dir) => StorageLayout.q99WapPublish(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |u AS (
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
          |    c_mktsegment FROM customer
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins)
          |SELECT * FROM u ORDER BY c_custkey""".stripMargin)),

    // --- WAP capstone (q100): q88's COW MERGE staged on a branch,
    //     audited row-level via branchDiff (in-build requires pin the
    //     diff's insert/delete counts AND main's pre-publish
    //     isolation), then atomically fast-forwarded. The oracle is
    //     q88's VERBATIM: a merge through write-audit-publish must be
    //     indistinguishable from a direct merge. ---
    QueryDef(
      "q100_wap_merge",
      (s, dir) => StorageLayout.q100WapMerge(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, 'upd-' || c_name AS c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT * FROM merged ORDER BY c_custkey""".stripMargin)),

    // --- SQL catalog end-to-end (q101): CREATE TABLE ... PARTITIONED
    //     BY through GraftCatalog, INSERT INTO riding the
    //     auto-partitioned write path, a METADATA-ONLY DELETE WHERE on
    //     the partition column (in-build requires: zero rewrites,
    //     dropped files, pre-delete VERSION AS OF count), SELECT back
    //     in plain SQL. Oracle = the anti-filtered base table; the
    //     DDL/DML loop must be invisible in the rows. CatalogSpec pins
    //     SHOW TABLES, branch reads via VERSION AS OF 'name', ALTER
    //     TABLE ADD COLUMN, null-safe boundary deletes, rename/drop. ---
    QueryDef(
      "q101_catalog_sql",
      (s, dir) => StorageLayout.q101CatalogSql(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_mktsegment <> 'BUILDING'
          |ORDER BY c_custkey""".stripMargin)),

    // --- SQL MERGE INTO (q102): q88's upsert through the catalog's
    //     SupportsRowLevelOperations surface — the group-based COW
    //     rewrite (runtime group filtering + zone-map pruning localize
    //     the rewrite; the replace commit swaps exactly the scanned
    //     files, snapshot-validated). The oracle is q88's VERBATIM:
    //     SQL MERGE must be indistinguishable from CowOps.merge.
    //     RowLevelSpec pins file-level locality, layout preservation,
    //     and the typed concurrent-commit conflict. ---
    QueryDef(
      "q102_sql_merge",
      (s, dir) => StorageLayout.q102SqlMerge(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, 'upd-' || c_name AS c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT * FROM merged ORDER BY c_custkey""".stripMargin)),

    // --- SQL UPDATE (q103): expression assignments over a predicate
    //     through the same group-based rewrite; the oracle recomputes
    //     the update as a CASE projection. ---
    QueryDef(
      "q103_sql_update",
      (s, dir) => StorageLayout.q103SqlUpdate(s, dir)(),
      Some(
        """SELECT c_custkey,
          |  CASE WHEN c_mktsegment = 'BUILDING'
          |    THEN 'upd-' || c_name ELSE c_name END AS c_name,
          |  c_nationkey,
          |  CASE WHEN c_mktsegment = 'BUILDING'
          |    THEN c_acctbal + 100.0::DOUBLE ELSE c_acctbal END
          |    AS c_acctbal,
          |  c_mktsegment
          |FROM customer ORDER BY c_custkey""".stripMargin)),

    // --- atomic CTAS (q104): CREATE TABLE ... PARTITIONED BY ... AS
    //     SELECT through StagingTableCatalog — the table exists only
    //     after the atomic publish (CtasSpec pins the failed-select
    //     path leaving nothing behind); the read is a partition-pruned
    //     scan of the created table, the oracle the same filter on the
    //     base table. ---
    QueryDef(
      "q104_ctas",
      (s, dir) => StorageLayout.q104Ctas(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_mktsegment = 'BUILDING'
          |ORDER BY c_custkey""".stripMargin)),

    // --- TIMESTAMP AS OF (q105): q86's pinned-snapshot contract by
    //     wall clock — every publish stamps commit millis in the
    //     manifest header, the read resolves latest-at-or-before and
    //     must see exactly the pre-poison rollup (CatalogSpec pins the
    //     SQL TIMESTAMP AS OF front door + history ts_ms). ---
    QueryDef(
      "q105_timestamp_travel",
      (s, dir) => StorageLayout.q105TimestampTravel(s, dir)(),
      Some(
        """SELECT c_mktsegment, count(*) AS n_cust,
          |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
          |  min(c_acctbal) AS min_bal
          |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // --- SQL layout capstone (q106): q91's every-skipping-structure
    //     table built by ONE statement — CTAS + TBLPROPERTIES blooms +
    //     a REPARTITION_BY_RANGE/SORT BY clustering — and read with the
    //     same combined range + bloom-equality predicate. Shares q91's
    //     oracle verbatim: the SQL front door must be value-identical
    //     to the hand-built layout. ---
    QueryDef(
      "q106_ctas_capstone",
      (s, dir) => StorageLayout.q106CtasCapstone(s, dir)(),
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 100 AS klo,
          |             max(o_orderkey) // 10 AS khi FROM orders),
          |pick AS (SELECT o_custkey FROM orders, b
          |         WHERE o_orderkey >= b.klo
          |         ORDER BY o_orderkey LIMIT 1)
          |SELECT o_orderkey, orders.o_custkey AS o_custkey,
          |  o_orderstatus, o_totalprice, o_orderpriority
          |FROM orders, b, pick
          |WHERE o_orderkey >= b.klo AND o_orderkey < b.khi
          |  AND orders.o_custkey = pick.o_custkey
          |ORDER BY o_orderkey""".stripMargin)),

    // --- SQL merge-on-read DELETE (q107): q92's delete through
    //     `write.delete.mode=merge-on-read` — the SupportsDelta plan
    //     writes POSITION deletion vectors ((file, line-ordinal) row
    //     IDs, `#dvp` sidecars) and rewrites zero data files (in-build
    //     require + RowLevelSpec pins). Shares q89/q92's oracle. ---
    QueryDef(
      "q107_sql_mor_delete",
      (s, dir) => StorageLayout.q107SqlMorDelete(s, dir)(),
      Some(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer WHERE c_custkey % 7 <> 0
          |ORDER BY c_custkey""".stripMargin)),

    // --- SQL merge-on-read MERGE (q108): q88/q102's upsert through
    //     `write.merge.mode=merge-on-read` — matched rows split into
    //     position delete + fresh insert, pre-merge files survive
    //     byte-identical. Shares q88/q102's oracle verbatim: three
    //     strategies, one answer. ---
    QueryDef(
      "q108_sql_mor_merge",
      (s, dir) => StorageLayout.q108SqlMorMerge(s, dir)(),
      Some(
        """WITH ins AS (SELECT * FROM (VALUES
          |    (1000000000, 'new-0', 0, 0.0, 'MACHINERY'),
          |    (1000000001, 'new-1', 1, 0.0, 'MACHINERY'),
          |    (1000000002, 'new-2', 2, 0.0, 'MACHINERY'))
          |  t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
          |merged AS (
          |  SELECT c_custkey, 'upd-' || c_name AS c_name, c_nationkey,
          |    c_acctbal + 1000.0::DOUBLE AS c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT), c_name,
          |    CAST(c_nationkey AS INT), CAST(c_acctbal AS DOUBLE),
          |    c_mktsegment FROM ins
          |  UNION ALL
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |  FROM customer WHERE c_custkey % 10 <> 0)
          |SELECT * FROM merged ORDER BY c_custkey""".stripMargin)),

    // --- catalog-persisted view (q109): `CALL system.create_view`
    //     stores the rollup as SQL text, the read expands it through
    //     the GraftViewResolution extension rule; q86's oracle shape —
    //     the view layer must be value-invisible. ---
    QueryDef(
      "q109_view",
      (s, dir) => StorageLayout.q109View(s, dir)(),
      Some(
        """SELECT c_mktsegment, count(*) AS n_cust,
          |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
          |  min(c_acctbal) AS min_bal
          |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // --- distributed right-to-be-forgotten purge (p93): build the p46
    //     MinHash index, purge a takedown set (index docs with
    //     doc_id % 7 = 1) through IncrementalDedup.purgeIndex — the
    //     DataFrame drop set, bloom-split retention path, never a
    //     driver list — then probe with the p46 batch. The oracle is
    //     p46's exact all-pairs Jaccard recomputed over the RETAINED
    //     corpus: purged docs must be invisible to every probe, and
    //     the probe's recall contract is unchanged. PurgeSpec pins the
    //     shuffle bound (O(dropset + FPP·index)) and purged ==
    //     fresh-rebuild; this row puts the SEMANTICS in the DuckDB
    //     gate the driver runs. ---
    QueryDef(
      "p93_index_purge",
      (s, dir) => {
        val p = graft.operators.IncrementalDedup.Params(shingleSize = 3,
          numHashes = 128, bands = 32, threshold = 0.8)
        val docs = Tables.t(s, dir, "documents")
        // per-dataset paths (p46's convention); the purge target is
        // cleared so re-runs never read a stale survivor append
        val root = "/tmp/graft_p93_index/" +
          java.lang.Integer.toHexString(dir.hashCode)
        val idx = s"$root/idx"
        val purged = s"$root/purged"
        graft.sources.FsMeta.deleteRecursive(purged)
        graft.operators.IncrementalDedup.buildIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", p, idx)
        val victims = docs.filter(col("doc_id") % 5 =!= 0 &&
          col("doc_id") % 7 === 1).select("doc_id")
        graft.operators.IncrementalDedup.purgeIndex(
          s, idx, purged, victims, "doc_id")
        graft.operators.IncrementalDedup.nearDupsAgainstIndex(
            s, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", p,
            purged)
          .orderBy("id_a", "id_b")
      },
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') tk
          |           FROM documents
          |           WHERE NOT (doc_id % 5 <> 0 AND doc_id % 7 = 1)),
          |sh AS (SELECT doc_id,
          |         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
          |                        FOR i IN range(1, len(tk) - 1)]) s
          |       FROM t WHERE len(tk) >= 3),
          |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
          |        len(list_intersect(a.s, b.s))::DOUBLE
          |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, round(j, 6) AS jaccard
          |FROM p WHERE j >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)
          |ORDER BY id_a, id_b""".stripMargin))
  )
}
