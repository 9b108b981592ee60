package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{QueryDef, Tables}
import graft.operators.{ConnectedComponents, Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-training-data pipeline queries over `documents` / `embeddings`:
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine),
  * similarity search (brute-force + LSH ANN), text analysis. North-star
  * scope on top of reference parity (SURVEY.md §0 scope note).
  */
object PipelineQueries {

  // DuckDB mirror of graft.functions.RollingHash31 (code-point rolling
  // hash mod 2^31) — keeps hash-bearing queries oracle-checkable.
  private[queries] def duckRollingHash(expr: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($expr, ''), " +
      "c -> unicode(c)::BIGINT)), (h, c) -> (h*31 + c) % 2147483648)"

  // Shared CTE prefix mirroring Dedup.simhashSignatures (tokens -> rolling
  // hash -> 32 affine-permutation parity contributions -> signature).
  // Single source: p04 and p05 both splice this, so the permutation
  // formula can never drift between the two oracles.
  private[queries] val duckSimhashCte: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |            FROM documents),
       |h AS (SELECT doc_id, ${duckRollingHash("t")} AS th FROM tok),
       |c AS (SELECT doc_id, j,
       |        CASE WHEN (th * (2*j + 3) + (j * 2654435761) % 2147483647)
       |                  % 2147483647 % 2 = 1
       |             THEN 1 ELSE -1 END AS contrib
       |      FROM h CROSS JOIN range(32) r(j)),
       |w AS (SELECT doc_id, j, sum(contrib) AS wj FROM c GROUP BY doc_id, j),
       |sig AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN wj > 0 THEN 1::BIGINT << j ELSE 0 END)
       |               AS BIGINT) AS sh
       |        FROM w GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // --- exact dedup: content-hash groups ---
    QueryDef(
      "p01_dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.t(s, dir, "documents"), "doc_id", "text")
        .select("content_md5", "keep_id", "n_copies")
        .orderBy("keep_id"),
      Some(
        """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
          |       count(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // --- MinHash+LSH near-dup, exact-Jaccard verified. Oracle computes
    //     exact all-pairs Jaccard; with 128 hashes / 32 bands the LSH miss
    //     probability at the planted j>=0.9 pairs is < 1e-14. ---
    QueryDef(
      "p02_minhash_neardup",
      (s, dir) => Dedup.minhashNearDupPairs(
        Tables.t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
          |sh AS (SELECT doc_id,
          |         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
          |                        FOR i IN range(1, len(tk) - 1)]) s
          |       FROM t WHERE len(tk) >= 3),
          |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
          |        len(list_intersect(a.s, b.s))::DOUBLE
          |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, round(j, 6) AS jaccard
          |FROM p WHERE j >= 0.8 ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // --- exact n-gram (bigram) Jaccard via shingle inverted-index join ---
    QueryDef(
      "p03_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(
        Tables.t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
          |sh AS (SELECT doc_id,
          |         list_distinct([tk[i] || ' ' || tk[i+1]
          |                        FOR i IN range(1, len(tk))]) s
          |       FROM t WHERE len(tk) >= 2),
          |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
          |        len(list_intersect(a.s, b.s))::DOUBLE
          |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, round(j, 6) AS jaccard
          |FROM p WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // --- 32-bit SimHash signatures (fully mirrored in SQL) ---
    QueryDef(
      "p04_simhash",
      (s, dir) => Dedup.simhashSignatures(
        Tables.t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(
        s"""$duckSimhashCte
           |SELECT doc_id, sh AS simhash FROM sig ORDER BY doc_id""".stripMargin)),

    // --- SimHash near-dup pairs (hamming <= 3, pigeonhole banding).
    //     Banding over 4 bands of 8 bits guarantees every hamming<=3 pair
    //     is a candidate, so this equals exact all-pairs hamming. ---
    QueryDef(
      "p05_simhash_neardup",
      (s, dir) => Dedup.simhashNearDupPairs(
        Dedup.simhashSignatures(Tables.t(s, dir, "documents"), "doc_id", "text"),
        maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(
        s"""$duckSimhashCte
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3
           |ORDER BY id_a, id_b""".stripMargin)),

    // --- rolling-hash fingerprint (the custom Expression, end-to-end) ---
    QueryDef(
      "p06_fingerprint",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some(
        s"""SELECT doc_id, ${duckRollingHash("text")} AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- language-ID + quality + token-count analysis ---
    QueryDef(
      "p07_text_analysis",
      (s, dir) => TextAnalysis.analyze(
        Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          |       WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
          |       WHEN regexp_matches(text, '[äöüß]') THEN 'de'
          |       WHEN regexp_matches(text, '[èàçêôû]') THEN 'fr'
          |       ELSE 'en' END AS lang_guess,
          |  """.stripMargin +
          duckRollingHash("text") + " AS fingerprint,\n" +
          """  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |  round((length(text) - (len(string_split(text, ' ')) - 1))
          |        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
          |  round(len(list_filter(string_split(text, ' '),
          |          t -> t IN ('the','a','of','and','in','to')))
          |        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
          |  round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
          |        / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
          |  round(ln(len(string_split(text, ' ')) + 1)
          |        - 2.0 * (length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
          |                 / CAST(length(text) AS DOUBLE))
          |        - (len(list_filter(string_split(text, ' '),
          |             t -> t IN ('the','a','of','and','in','to')))
          |           / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS quality_score,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
          |       AS BIGINT) AS bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin),
      bench = true),

    // --- embedding-cosine near-dup pairs (brute force; LSH = scale path) ---
    QueryDef(
      "p08_embedding_neardup",
      (s, dir) => Similarity.cosineNearDupPairs(
        Tables.t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some(
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          |p AS (SELECT a.vec_id id_a, b.vec_id id_b,
          |  round(
          |    list_sum(list_transform(range(1, 65),
          |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(range(1, 65),
          |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(range(1, 65),
          |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) c
          |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
          |SELECT id_a, id_b, c AS cos FROM p WHERE c >= 0.4
          |ORDER BY id_a, id_b""".stripMargin)),

    // --- exact ANN: brute-force cosine top-5 for query subset ---
    QueryDef(
      "p09_ann_bruteforce",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") % 50 === 0), e, k = 5)
          .orderBy("qid", "rank")
      },
      Some(
        """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings
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
          |      FROM s)
          |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5
          |ORDER BY qid, rank""".stripMargin),
      bench = true),

    // --- approximate ANN: LSH bucket join + in-bucket rerank. No oracle
    //     (approximate); recall vs brute force asserted in ScalaTest. ---
    QueryDef(
      "p10_ann_lsh",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        Similarity.lshTopK(
          e.filter(col("vec_id") % 50 === 0), e, k = 5)
          .orderBy("qid", "rank")
      },
      None),

    // --- approximate ANN, IVF path: k-means coarse quantizer + nprobe
    //     rerank. No oracle (approximate + iterative training); recall
    //     floor vs brute force asserted in DedupSimilaritySpec. ---
    QueryDef(
      "p13_ann_ivf",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        Similarity.ivfTopK(
          e.filter(col("vec_id") % 50 === 0), e, k = 5)
          .orderBy("qid", "rank")
      },
      None),

    // --- multimodal: REAL mixed-kind decode through one dispatching
    //     pass. Each doc gets a deterministic payload encoded by the
    //     actual JDK codec for its kind (grayscale PNG / 16-bit PCM WAV /
    //     multi-frame GIF); decodeMedia routes each row to the matching
    //     decoder and lands everything in one union feature schema. All
    //     three codecs are lossless here, so every feature is plain SQL
    //     arithmetic for the oracle. Visual fields are -1 for audio and
    //     vice versa; video pixels index as frame f = i // (w*h),
    //     pixel j = i % (w*h) with value (id*31 + f*17 + j) % 256. ---
    QueryDef(
      "p12_media_features",
      (s, dir) => Multimodal.mediaFeatures(s, Tables.t(s, dir, "documents"))
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), col("sample_rate"), col("n_samples"),
          round(col("feat_mean"), 6).as("feat_mean"))
        .orderBy("doc_id"),
      Some(
        """WITH params AS (
          |  SELECT doc_id,
          |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          |         ELSE 'video' END AS kind,
          |    CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 13
          |         WHEN 1 THEN -1 ELSE 16 END AS INTEGER) AS width,
          |    CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 7
          |         WHEN 1 THEN -1 ELSE 8 END AS INTEGER) AS height,
          |    CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN -1
          |         ELSE 2 + doc_id % 4 END AS INTEGER) AS n_frames,
          |    CAST(CASE doc_id % 3 WHEN 1 THEN 8000 ELSE -1 END
          |         AS INTEGER) AS sample_rate,
          |    CAST(CASE doc_id % 3 WHEN 1 THEN 100 + doc_id % 50 ELSE -1 END
          |         AS BIGINT) AS n_samples
          |  FROM documents),
          |vals AS (
          |  SELECT doc_id, unnest(range(0, CASE doc_id % 3
          |      WHEN 0 THEN (4 + doc_id % 13) * (4 + doc_id % 7)
          |      WHEN 1 THEN 100 + doc_id % 50
          |      ELSE (2 + doc_id % 4) * 128 END)) AS i
          |  FROM documents),
          |fm AS (
          |  SELECT doc_id, round(avg(CASE doc_id % 3
          |      WHEN 0 THEN ((doc_id*31 + i) % 256)::DOUBLE
          |      WHEN 1 THEN ((doc_id*31 + i) % 65536 - 32768)::DOUBLE
          |      ELSE ((doc_id*31 + (i // 128) * 17 + (i % 128)) % 256)::DOUBLE
          |      END), 6) AS feat_mean
          |  FROM vals GROUP BY doc_id)
          |SELECT p.doc_id, kind, width, height, n_frames, sample_rate,
          |  n_samples, feat_mean
          |FROM params p JOIN fm USING (doc_id) ORDER BY p.doc_id""".stripMargin)),

    // --- corpus profile by language ---
    QueryDef(
      "p11_docs_by_lang",
      (s, dir) => Tables.t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some(
        """SELECT lang, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |       count(DISTINCT source) AS n_sources
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // --- dedup GROUPS: connected components over the verified MinHash
    //     near-dup pairs (near-dup is not transitive — the closure is
    //     what a keep-one-per-group dedup actually needs). Oracle: the
    //     exact all-pairs Jaccard edge set (p02's oracle) closed with a
    //     recursive CTE. ---
    QueryDef(
      "p14_dedup_groups",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
        ConnectedComponents.dedupGroups(docs, "doc_id", pairs)
          .orderBy("doc_id")
      },
      Some(
        """WITH RECURSIVE
          |t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
          |sh AS (SELECT doc_id,
          |         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
          |                        FOR i IN range(1, len(tk) - 1)]) s
          |       FROM t WHERE len(tk) >= 3),
          |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
          |        len(list_intersect(a.s, b.s))::DOUBLE
          |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e0 AS (SELECT id_a, id_b FROM p WHERE j >= 0.8),
          |edges AS (SELECT id_a AS s, id_b AS d FROM e0
          |          UNION SELECT id_b, id_a FROM e0),
          |reach AS (
          |  SELECT s, d FROM edges
          |  UNION
          |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
          |),
          |comp AS (SELECT s AS doc_id, least(s, min(d)) AS group_id
          |         FROM reach GROUP BY s)
          |SELECT d.doc_id,
          |  coalesce(c.group_id, d.doc_id) AS group_id,
          |  (d.doc_id = coalesce(c.group_id, d.doc_id)) AS is_rep
          |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    // --- overlapping token-window chunking (operators.Chunking): the
    //     doc->chunk generator between cleaning and tokenization. Spark's
    //     split(text,' ') and slice(arr, start, len) mirror DuckDB's
    //     string_split and list_slice (inclusive 1-based begin..end). ---
    QueryDef(
      "p15_doc_chunks",
      (s, dir) => graft.operators.Chunking.chunks(
        Tables.t(s, dir, "documents").filter(col("doc_id") % 20 === 0),
        "doc_id", "text", window = 50, stride = 40)
        .orderBy("doc_id", "chunk_start"),
      Some(
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks
          |  FROM documents WHERE doc_id % 20 = 0),
          |e AS (
          |  SELECT doc_id, toks,
          |    unnest(generate_series(0, greatest(len(toks) - 1, 0), 40))
          |      AS chunk_start
          |  FROM d)
          |SELECT doc_id, chunk_start,
          |  CAST(len(list_slice(toks, chunk_start + 1, chunk_start + 50))
          |       AS BIGINT) AS n_chunk_tokens,
          |  array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 50),
          |                  ' ') AS chunk_text
          |FROM e WHERE chunk_start < len(toks)
          |ORDER BY doc_id, chunk_start""".stripMargin)),

    // --- greedy sequence packing (operators.Chunking.withSequenceIds):
    //     docs fill 2048-token sequences per language in doc_id order; a
    //     doc joins the sequence its first token lands in. Output is the
    //     per-sequence manifest a training job reads. ---
    QueryDef(
      "p16_seq_packing",
      (s, dir) => graft.operators.Chunking.withSequenceIds(
        Tables.t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            size(graft.functions.Fns.tokens(col("text"))).as("nt")),
        "lang", "doc_id", col("nt"), budget = 2048)
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("seq_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "seq_id"),
      Some(
        """WITH t AS (
          |  SELECT lang, doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |  FROM documents),
          |c AS (
          |  SELECT lang, doc_id, n_toks,
          |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM t)
          |SELECT lang, CAST((cum - n_toks) // 2048 AS BIGINT) AS seq_id,
          |  count(*) AS n_docs,
          |  CAST(sum(n_toks) AS BIGINT) AS seq_tokens,
          |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM c GROUP BY lang, seq_id
          |ORDER BY lang, seq_id""".stripMargin))
  )
}
