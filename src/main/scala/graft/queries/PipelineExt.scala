package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{QueryDef, Tables}
import graft.operators.{Anonymize, Decontaminate, Embeddings, IdAssign, Multimodal, Sampling, TextAnalysis, TfIdf}

/** Round-4 training-data pipeline additions: benchmark decontamination,
  * repetition-based quality rules, embedding maintenance, PII
  * pseudonymization. Same conventions as PipelineQueries (total-order
  * output, scalar columns, identical aliases both engines).
  */
object PipelineExt {

  // DuckDB mirror of Fns.shingles(tokens, n): distinct contiguous word
  // n-grams joined by single spaces (i ranges 1..len-n+1, 1-based).
  private def duckGrams(n: Int): String = {
    val terms = (0 until n).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"list_distinct([$terms FOR i IN range(1, len(tk) - ${n - 2})])"
  }

  val defs: Seq[QueryDef] = Seq(

    // --- benchmark decontamination (GPT-3 appendix C procedure): docs
    //     with doc_id % 20 = 0 stand in for the eval/benchmark set; a
    //     train doc is contaminated when it shares any distinct word
    //     4-gram with any eval doc. The eval n-gram set is broadcast, so
    //     the train corpus is never shuffled (see Decontaminate). ---
    QueryDef(
      "p17_decontaminate",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        Decontaminate.overlapCounts(
            train = docs.filter(col("doc_id") % 20 =!= 0),
            eval = docs.filter(col("doc_id") % 20 === 0),
            idCol = "doc_id", textCol = "text", n = 4)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
           |g AS (SELECT doc_id, ${duckGrams(4)} s
           |      FROM t WHERE len(tk) >= 4),
           |eg AS (SELECT DISTINCT unnest(s) gram FROM g WHERE doc_id % 20 = 0),
           |tg AS (SELECT doc_id, unnest(s) gram FROM g WHERE doc_id % 20 <> 0)
           |SELECT tg.doc_id, count(*) AS n_overlap
           |FROM tg JOIN eg USING (gram)
           |GROUP BY tg.doc_id ORDER BY tg.doc_id""".stripMargin)),

    // --- Gopher repetition rules: duplicate word/2-gram/3-gram occurrence
    //     fractions per doc (1 - distinct/total). Pure per-row project —
    //     the 100 TB cost is one corpus scan fused into whatever stage
    //     runs next. ---
    QueryDef(
      "p18_repetition",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id") +: TextAnalysis.repetitionColumns(col("text")): _*)
        .orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents)
           |SELECT doc_id,
           |  round(1.0 - len(list_distinct(tk))::DOUBLE / len(tk), 6)
           |    AS dup_word_frac,
           |  CASE WHEN len(tk) >= 2 THEN
           |    round(1.0 - len(${duckGrams(2)})::DOUBLE / (len(tk) - 1), 6)
           |  ELSE 0.0 END AS dup_2gram_frac,
           |  CASE WHEN len(tk) >= 3 THEN
           |    round(1.0 - len(${duckGrams(3)})::DOUBLE / (len(tk) - 2), 6)
           |  ELSE 0.0 END AS dup_3gram_frac
           |FROM t ORDER BY doc_id""".stripMargin)),

    // --- embedding maintenance: L2 norm + symmetric int8 quantization,
    //     verified through a scalar digest (dims, norm, maxabs, and a
    //     position-weighted code checksum that pins every code). The
    //     floor(y + 0.5) rounding is deliberate: engine round() half-rules
    //     differ, floor in IEEE doubles does not. ---
    QueryDef(
      "p19_embed_quantize",
      (s, dir) => Embeddings.int8Digest(
          Tables.t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some(
        """WITH v AS (SELECT vec_id,
          |             list_transform(embedding, x -> x::DOUBLE) AS e
          |           FROM embeddings),
          |m AS (SELECT vec_id, e,
          |        len(e) AS n_dims,
          |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
          |        list_max(list_transform(e, x -> abs(x))) AS ma
          |      FROM v)
          |SELECT vec_id,
          |  n_dims::BIGINT AS n_dims,
          |  round(nrm, 6) AS l2_norm,
          |  round(ma, 6) AS maxabs,
          |  CAST(list_sum([i * (CASE WHEN ma > 0
          |         THEN floor(e[i] * 127.0 / ma + 0.5) ELSE 0.0 END)
          |       FOR i IN range(1, len(e) + 1)]) AS BIGINT) AS code_checksum
          |FROM m ORDER BY vec_id""".stripMargin)),

    // --- PII scrub: digit masking + salted-SHA-256 pseudonyms + numeric
    //     generalization over customer. Every transform is a built-in
    //     codegen'd expression, so the scrub fuses into the table scan —
    //     the 100 TB cost is the scan itself. ---
    QueryDef(
      "p20_pii_scrub",
      (s, dir) => Tables.t(s, dir, "customer")
        .select(
          col("c_custkey"),
          Anonymize.maskDigits(col("c_name")).as("masked_name"),
          Anonymize.pseudonym(col("c_name"), salt = "graft-v1").as("name_pseudonym"),
          Anonymize.generalize(col("c_acctbal"), 1000L).as("acctbal_bucket"),
          col("c_mktsegment"))
        .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey,
          |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
          |  sha256('graft-v1' || c_name) AS name_pseudonym,
          |  CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_bucket,
          |  c_mktsegment
          |FROM customer ORDER BY c_custkey""".stripMargin)),

    // --- deterministic per-stratum subsample: exactly 10 docs per lang by
    //     FNV-1a(doc_id) order, planned through the custom TopKPerGroup
    //     physical operator (hash ascending instead of a measure
    //     descending — same bounded map-side heaps). The oracle replays
    //     the identical hash order through a window, using q32's FNV
    //     list_reduce mirror. ---
    QueryDef(
      "p21_stratified_sample",
      (s, dir) => Sampling
        .perStratum(Tables.t(s, dir, "documents"), "lang", "doc_id", k = 10)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id"),
      Some(
        """WITH h AS (SELECT doc_id, lang,
          |    (list_reduce(list_prepend(2166136261::BIGINT,
          |       list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
          |         c -> unicode(c)::BIGINT)),
          |       (h, c) -> (xor(h, c) * 16777619) % 4294967296)) % 2147483648
          |      AS hv
          |  FROM documents),
          |r AS (SELECT doc_id, lang,
          |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) rn
          |      FROM h)
          |SELECT doc_id, lang FROM r WHERE rn <= 10
          |ORDER BY lang, doc_id""".stripMargin)),

    // --- canonical text normalization: NFC (native expression — Spark
    //     has no builtin; DuckDB's nfc_normalize is the mirror) + lower +
    //     whitespace collapse. The full normalized text is emitted, so
    //     the driver hash pins every character of every document. ---
    QueryDef(
      "p22_normalize_text",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"),
          length(TextAnalysis.normalizeText(col("text")))
            .cast("long").as("n_chars_norm"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  trim(regexp_replace(lower(nfc_normalize(text)),
          |                      '\s+', ' ', 'g')) AS norm_text,
          |  length(trim(regexp_replace(lower(nfc_normalize(text)),
          |                             '\s+', ' ', 'g'))) AS n_chars_norm
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- TF-IDF top-3 salient terms per document (sklearn's smooth
    //     ln((N+1)/(df+1))+1 idf): keyword extraction through the
    //     TopKPerGroup physical operator. Selection ranks on the
    //     UNROUNDED score (bit-identical across engines: same IEEE
    //     ratio through ln on both sides); output rounds to 6 dp. ---
    QueryDef(
      "p23_tfidf_topterms",
      (s, dir) => TfIdf
        .topTerms(Tables.t(s, dir, "documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          round(col("score"), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term")),
      Some(
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |              FROM documents),
          |tc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dfx AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |s AS (SELECT tc.doc_id, tc.term, tc.tf,
          |        tc.tf * (ln((n.n_docs + 1)::DOUBLE / (dfx.df + 1)::DOUBLE)
          |                 + 1.0) AS score
          |      FROM tc JOIN dfx USING (term) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, term) AS rn FROM s)
          |SELECT doc_id, term, tf, round(score, 6) AS tfidf
          |FROM r WHERE rn <= 3
          |ORDER BY doc_id, tfidf DESC, term""".stripMargin)),

    // --- Johnson-Lindenstrauss sign random projection 64 -> 8 dims: the
    //     cheap-distance-preserving reduction run before clustering or
    //     coarse ANN. The ±1 matrix is deterministic (avalanched FNV) and
    //     embedded as literals in BOTH plans, so every output coordinate
    //     is a bit-identical index-ordered fold on the two engines. ---
    QueryDef(
      "p24_random_projection",
      (s, dir) => Embeddings.randomProjection(
          Tables.t(s, dir, "embeddings"), "vec_id", "embedding",
          outDims = 8, inDims = 64)
        .orderBy("vec_id"),
      Some {
        val signs = Embeddings.projectionSigns(8, 64)
        val outs = (0 until 8).map { j =>
          val terms = (0 until 64).map(i =>
            (if (signs(j)(i) > 0) " + " else " - ") + s"e[${i + 1}]").mkString
          s"round((0.0$terms) / sqrt(8.0), 6) AS r$j"
        }
        s"""SELECT vec_id, ${outs.mkString(",\n  ")}
           |FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           |      FROM embeddings)
           |ORDER BY vec_id""".stripMargin
      }),

    // --- contiguous global id assignment in key order WITHOUT the
    //     single-reducer window (operators.IdAssign): range sort + the
    //     zipWithIndex two-phase count/offset scheme. The oracle is the
    //     very formulation that does NOT scale — row_number over a
    //     global ORDER BY — correct at sf, single-partition at 100 TB
    //     (IdAssignSpec pins the plan difference). ---
    QueryDef(
      "p25_assign_ids",
      (s, dir) => IdAssign.contiguousIds(
          Tables.t(s, dir, "documents").select("doc_id", "lang"),
          col("doc_id"), "gid")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang,
          |  row_number() OVER (ORDER BY doc_id) - 1 AS gid
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- mixture sampling (data mixing): per-source quotas in the same
    //     deterministic FNV hash order as p21 — upweight src0, keep src4
    //     whole, drop the 15 unlisted sources. One TopKPerGroup pass at
    //     kmax prunes the corpus map-side; the exact quota cut runs on
    //     the pruned set. ---
    QueryDef(
      "p26_mixture_sample",
      (s, dir) => Sampling.mixture(
          Tables.t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 20, "src1" -> 15, "src2" -> 10, "src3" -> 5,
            "src4" -> 25))
        .select("doc_id", "source")
        .orderBy("source", "doc_id"),
      Some(
        """WITH h AS (SELECT doc_id, source,
          |    (list_reduce(list_prepend(2166136261::BIGINT,
          |       list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
          |         c -> unicode(c)::BIGINT)),
          |       (h, c) -> (xor(h, c) * 16777619) % 4294967296)) % 2147483648
          |      AS hv
          |  FROM documents),
          |r AS (SELECT doc_id, source,
          |        row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
          |          AS rn
          |      FROM h)
          |SELECT doc_id, source FROM r
          |WHERE rn <= CASE source
          |  WHEN 'src0' THEN 20 WHEN 'src1' THEN 15 WHEN 'src2' THEN 10
          |  WHEN 'src3' THEN 5 WHEN 'src4' THEN 25 ELSE 0 END
          |ORDER BY source, doc_id""".stripMargin)),

    // --- weighted sampling (Efraimidis-Spirakis A-ES): priority key
    //     ln(u)/w with deterministic u = (fnv1a32(id)+1)/2^31, w = doc
    //     length in chars — longer docs proportionally likelier. u and
    //     the division are IEEE-exact on both engines; the only libm
    //     call (ln) is rounded to 6dp before ranking on BOTH sides, so
    //     the selected set is engine-independent. ---
    QueryDef(
      "p27_weighted_sample",
      (s, dir) => Sampling.weighted(
          Tables.t(s, dir, "documents"), "doc_id",
          length(col("text")), k = 100)
        .orderBy("doc_id"),
      Some(
        """WITH h AS (SELECT doc_id,
          |    greatest(length(text), 1)::DOUBLE AS w,
          |    (list_reduce(list_prepend(2166136261::BIGINT,
          |       list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
          |         c -> unicode(c)::BIGINT)),
          |       (h, c) -> (xor(h, c) * 16777619) % 4294967296)) % 2147483648
          |      AS hv
          |  FROM documents),
          |k AS (SELECT doc_id, w,
          |        round(ln((hv + 1) / 2147483648.0) / w, 6) AS rk
          |      FROM h),
          |s AS (SELECT * FROM k ORDER BY rk DESC, doc_id LIMIT 100)
          |SELECT doc_id, w, rk FROM s ORDER BY doc_id""".stripMargin)),

    // --- near-dup-leakage-safe split: train/val/test assigned by the
    //     hash of the doc's DEDUP GROUP (p14's connected components over
    //     MinHash near-dup pairs), so paraphrase clusters never straddle
    //     splits — the standard eval-contamination guard. 80/10/10. ---
    QueryDef(
      "p28_leakage_split",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pairs = graft.operators.Dedup.minhashNearDupPairs(
          docs, "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
        Sampling.leakageSafeSplit(docs, "doc_id", pairs)
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
          |         FROM reach GROUP BY s),
          |g AS (SELECT d.doc_id,
          |        coalesce(c.group_id, d.doc_id) AS group_id
          |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          |b AS (SELECT doc_id, group_id,
          |    (list_reduce(list_prepend(2166136261::BIGINT,
          |       list_transform(string_split(CAST(group_id AS VARCHAR), ''),
          |         c -> unicode(c)::BIGINT)),
          |       (h, c) -> (xor(h, c) * 16777619) % 4294967296))
          |      % 2147483648 % 10 AS bk
          |  FROM g)
          |SELECT doc_id, group_id,
          |  CASE WHEN bk < 8 THEN 'train' WHEN bk = 8 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM b ORDER BY doc_id""".stripMargin)),

    // --- cross-corpus dedup (incremental-ingest shape): drop incoming
    //     docs whose 200-char-prefix fingerprint already exists in the
    //     ingested corpus. EXACT anti-join semantics, bloom-accelerated:
    //     a definite bitmap miss proves absence, so the bulk of the
    //     crawl never reaches a join exchange; only bloom-positives pay
    //     the exact anti-join (BloomPrune.antiKeep). The oracle computes
    //     the plain NOT EXISTS — bitmap acceleration must be invisible. ---
    QueryDef(
      "p29_cross_corpus_dedup",
      (s, dir) => {
        val keyed = Tables.t(s, dir, "documents")
          .select(col("doc_id"), graft.functions.Fns.rollingHash31(
            substring(col("text"), 1, 200)).as("fp"))
        graft.operators.BloomPrune.antiKeep(
            facts = keyed.filter(col("doc_id") % 3 =!= 0),
            keyCol = "fp",
            dimKeys = keyed.filter(col("doc_id") % 3 === 0).select("fp"),
            dimKeyCol = "fp", numBits = 1 << 14)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH f AS (SELECT doc_id,
           |    ${PipelineQueries.duckRollingHash("substr(text, 1, 200)")} AS fp
           |  FROM documents)
           |SELECT i.doc_id, i.fp FROM f i
           |WHERE i.doc_id % 3 <> 0
           |  AND NOT EXISTS (SELECT 1 FROM f g
           |                  WHERE g.doc_id % 3 = 0 AND g.fp = i.fp)
           |ORDER BY i.doc_id""".stripMargin)),

    // --- unigram-LM cross-entropy quality score (CCNet-family signal,
    //     corpus-as-LM): mean -ln p(token) per doc. Counts are a partial
    //     agg; the token join's stopword skew is the AQE skew-join case
    //     (1 row per token on the count side); corpus total rides a
    //     broadcast 1-row cross join. 6dp rounding on both engines
    //     absorbs summation-order drift. ---
    QueryDef(
      "p30_lm_score",
      (s, dir) => TextAnalysis.unigramLmScore(
          Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |            FROM documents),
          |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
          |tot AS (SELECT sum(c)::DOUBLE AS n FROM cnt)
          |SELECT doc_id, round(avg(-ln(c / n)), 6) AS lm_score
          |FROM tok JOIN cnt USING (t) CROSS JOIN tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- REAL PNG decode (javax.imageio — the codec ships in the JDK):
    //     deterministic synthetic grayscale PNGs, pixel(i) = (doc_id*31
    //     + i) % 256 at w=4+doc_id%13, h=4+doc_id%7, are ENCODED and
    //     then DECODED by the actual codec inside mapPartitions. PNG is
    //     lossless, so the raster statistics the real decoder reports
    //     are pure arithmetic the oracle recomputes in SQL — the whole
    //     encode→decode round trip is differentially verified. Per-row
    //     compute, zero shuffle; payload bytes never leave the task. ---
    QueryDef(
      "p31_png_decode",
      (s, dir) => {
        import s.implicits._
        val pngs = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            Multimodal.PngRow(id,
              Multimodal.synthPng(id, 4 + (id % 13).toInt, 4 + (id % 7).toInt))
          })
        Multimodal.decodePng(pngs).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            col("px_min"), col("px_max"),
            round(col("px_mean"), 6).as("px_mean"))
          .orderBy("doc_id")
      },
      Some(
        """WITH px AS (
          |  SELECT doc_id,
          |    unnest(range(0, (4 + doc_id % 13)*(4 + doc_id % 7))) AS i
          |  FROM documents)
          |SELECT doc_id,
          |  (4 + doc_id % 13) AS width,
          |  (4 + doc_id % 7) AS height,
          |  1::INTEGER AS channels,
          |  min((doc_id*31 + i) % 256) AS px_min,
          |  max((doc_id*31 + i) % 256) AS px_max,
          |  round(avg(((doc_id*31 + i) % 256)::DOUBLE), 6) AS px_mean
          |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      benchExt = true),

    // --- per-doc token Shannon entropy (vocabulary-diversity quality
    //     signal — low entropy = repetitive/templated text). SINGLE
    //     PASS: H = -sum (c/n) ln(c/n) needs n before the sum, which
    //     would mean a join (and a second corpus scan — Catalyst has no
    //     subplan reuse); the algebraic form H = ln(n) - (sum c ln c)/n
    //     computes from one (doc, token)-count aggregate followed by one
    //     per-doc aggregate — one scan, two stacked partial aggs, no
    //     join. Identical formula on both engines; 6dp rounding. ---
    QueryDef(
      "p32_token_entropy",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Fns.tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).cast("double").as("c"))
        .groupBy("doc_id")
        .agg(round(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"), 6)
            .as("entropy"),
          count(lit(1)).as("n_types"))
        .orderBy("doc_id"),
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |            FROM documents),
          |cnt AS (SELECT doc_id, t, count(*)::DOUBLE AS c
          |        FROM tok GROUP BY 1, 2)
          |SELECT doc_id,
          |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
          |  count(*) AS n_types
          |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- collocation extraction (corpus-level PMI of adjacent token
    //     pairs — the multi-word-expression / tokenizer-vocab-candidate
    //     primitive): pmi = ln(P(w1,w2) / (P(w1)P(w2))), bigrams with
    //     count >= 5, top 50 by rounded pmi (rounded BEFORE ranking so
    //     the cut is engine-invariant; ties break lexicographically).
    //     Scale shape: bigrams are zipped per row (slice+arrays_zip, no
    //     self-join, no extra shuffle); uni/bigram counts are partial
    //     aggs; the pmi join runs on vocabulary-sized frames; totals
    //     ride 1-row broadcasts. ---
    QueryDef(
      "p33_collocations",
      (s, dir) => graft.operators.TextAnalysis.collocationsPmi(
        Tables.t(s, dir, "documents"), "text", minCount = 5, k = 50),
      Some(
        """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
          |            FROM documents),
          |uni AS (SELECT unnest(tk) AS w FROM tok),
          |ucnt AS (SELECT w, count(*)::DOUBLE AS cw FROM uni GROUP BY w),
          |ntok AS (SELECT sum(cw) AS n_tok FROM ucnt),
          |big AS (SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
          |               unnest(list_slice(tk, 2, len(tk))) AS w2
          |        FROM tok),
          |bcnt AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM big
          |         GROUP BY w1, w2 HAVING count(*) >= 5),
          |nbig AS (SELECT sum(greatest(len(tk) - 1, 0))::DOUBLE AS n_big
          |         FROM tok)
          |SELECT w1, w2, c2::BIGINT AS n_pair,
          |  round(ln((c2 / n_big) /
          |    ((a.cw / n_tok) * (b.cw / n_tok))), 6) AS pmi
          |FROM bcnt
          |JOIN ucnt a ON a.w = w1
          |JOIN ucnt b ON b.w = w2
          |CROSS JOIN ntok CROSS JOIN nbig
          |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin)),

    // --- quantized ANN (FAISS SQ8 shape): top-5 per query by INTEGER
    //     dot product over symmetric-int8 codes — 4x less memory and
    //     bandwidth than float search, and integer arithmetic makes the
    //     ranking bit-deterministic, so unlike p10/p13 this approximate-
    //     FIDELITY path still has an EXACT oracle (DuckDB mirrors the
    //     quantizer and the integer dot). Broadcast queries, corpus
    //     streamed (p09's plan shape). ---
    QueryDef(
      "p34_ann_quantized",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        graft.operators.Similarity.quantizedTopK(
            e.filter(col("vec_id") % 50 === 0), e, k = 5)
          .orderBy("qid", "rank")
      },
      Some(
        """WITH v AS (SELECT vec_id,
          |             list_transform(embedding, x -> x::DOUBLE) AS e
          |           FROM embeddings),
          |m AS (SELECT vec_id, e,
          |        list_max(list_transform(e, x -> abs(x))) AS ma FROM v),
          |qz AS (SELECT vec_id,
          |         [CASE WHEN ma > 0 THEN floor(e[i] * 127.0 / ma + 0.5)
          |               ELSE 0.0 END FOR i IN range(1, len(e) + 1)] AS c
          |       FROM m),
          |q AS (SELECT vec_id AS qid, c AS qc FROM qz WHERE vec_id % 50 = 0),
          |n AS (SELECT vec_id AS nid, c AS nc FROM qz),
          |s AS (SELECT qid, nid,
          |        CAST(list_sum([qc[i] * nc[i]
          |          FOR i IN range(1, len(qc) + 1)]) AS BIGINT) AS qdot
          |      FROM q JOIN n ON qid <> nid),
          |r AS (SELECT *, CAST(row_number() OVER
          |        (PARTITION BY qid ORDER BY qdot DESC, nid) AS INT) AS rank
          |      FROM s)
          |SELECT qid, nid, qdot, rank FROM r WHERE rank <= 5
          |ORDER BY qid, rank""".stripMargin),
      benchExt = true),

    // --- hard-negative mining (contrastive training): top-5 neighbors
    //     per query INSIDE the cos [0.30, 0.55] band — informative
    //     negatives, not latent positives. Band tests the ROUNDED
    //     cosine (engine-invariant cut); p09's broadcast-queries plan
    //     with a pre-rank band filter. ---
    QueryDef(
      "p35_hard_negatives",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        graft.operators.Similarity.hardNegatives(
            e.filter(col("vec_id") % 50 === 0), e, k = 5,
            lo = 0.30, hi = 0.55)
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
          |b AS (SELECT * FROM s WHERE cos >= 0.30 AND cos <= 0.55),
          |r AS (SELECT *, CAST(row_number() OVER
          |        (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
          |      FROM b)
          |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5
          |ORDER BY qid, rank""".stripMargin)),

    // --- repeated-passage mining (the exact-substring dedup signal of
    //     "Deduplicating Training Data Makes Language Models Better"):
    //     8-token spans occurring in >= 3 distinct documents, with doc
    //     frequency and an exemplar doc. Spans come from the native
    //     ShingleRows GENERATOR — one row per distinct span per doc, no
    //     intermediate array — then a partial-agg count. (doc, span) is
    //     distinct by construction, so count(*) IS the doc frequency.
    //     Hot boilerplate spans are the usual AQE-skew case (p03's
    //     note applies). ---
    QueryDef(
      "p36_repeated_spans",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Fns.shingleRows(
            graft.functions.Fns.tokens(col("text")), 8).as("span"))
        .groupBy("span")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 3)
        .orderBy("span"),
      Some(
        s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
           |            FROM documents),
           |sp AS (SELECT DISTINCT doc_id, unnest(${duckGrams(8)}) AS span
           |       FROM tok WHERE len(tk) >= 8)
           |SELECT span, count(*) AS n_docs, min(doc_id) AS first_doc
           |FROM sp GROUP BY span HAVING count(*) >= 3
           |ORDER BY span""".stripMargin)),

    // --- corpus drift detection: symmetric smoothed KL divergence
    //     between the token distributions of two corpus slices (even /
    //     odd doc ids stand in for last-crawl / new-crawl). Laplace
    //     add-one smoothing over the UNION vocabulary keeps both
    //     directions finite; identical formula both engines; 6dp.
    //     The data-quality gate that catches a scraper change or
    //     boilerplate injection before tokens reach training. ---
    QueryDef(
      "p37_corpus_drift",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        graft.operators.Drift.tokenKl(
            ref = docs.filter(col("doc_id") % 2 === 0),
            cand = docs.filter(col("doc_id") % 2 === 1),
            textCol = "text")
          .orderBy("n_vocab")
      },
      Some(
        """WITH rt AS (SELECT unnest(string_split(text, ' ')) AS w
          |            FROM documents WHERE doc_id % 2 = 0),
          |ct AS (SELECT unnest(string_split(text, ' ')) AS w
          |       FROM documents WHERE doc_id % 2 = 1),
          |rc AS (SELECT w, count(*)::DOUBLE AS cr FROM rt GROUP BY w),
          |cc AS (SELECT w, count(*)::DOUBLE AS cc FROM ct GROUP BY w),
          |u AS (SELECT coalesce(rc.w, cc.w) AS w,
          |        coalesce(rc.cr, 0) AS cr, coalesce(cc.cc, 0) AS cc
          |      FROM rc FULL OUTER JOIN cc ON rc.w = cc.w),
          |tot AS (SELECT sum(cr) AS nr, sum(cc) AS nc,
          |          count(*)::DOUBLE AS v FROM u)
          |SELECT CAST(max(v) AS BIGINT) AS n_vocab,
          |  round(sum(((cr+1)/(nr+v)) *
          |    ln(((cr+1)/(nr+v)) / ((cc+1)/(nc+v)))), 6) AS kl_ref_cand,
          |  round(sum(((cc+1)/(nc+v)) *
          |    ln(((cc+1)/(nc+v)) / ((cr+1)/(nr+v)))), 6) AS kl_cand_ref
          |FROM u CROSS JOIN tot
          |ORDER BY n_vocab""".stripMargin)),

    // --- reference-LM quality score (CCNet's actual filter shape):
    //     every doc scored by cross-entropy under a unigram LM trained
    //     on a CURATED slice (en docs with doc_id % 4 = 0 stand in for
    //     the Wikipedia-like reference). Add-one smoothing over
    //     (ref vocab + UNK) keeps OOV finite; LEFT join preserves OOV
    //     tokens; totals ride a 1-row broadcast. Low = reference-like. ---
    QueryDef(
      "p38_ref_lm_score",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        TextAnalysis.refLmScore(
            docs,
            ref = docs.filter(col("lang") === "en" && col("doc_id") % 4 === 0),
            idCol = "doc_id", textCol = "text")
          .orderBy("doc_id")
      },
      Some(
        """WITH rc AS (
          |  SELECT t, count(*)::DOUBLE AS c FROM (
          |    SELECT unnest(string_split(text, ' ')) AS t
          |    FROM documents WHERE lang = 'en' AND doc_id % 4 = 0)
          |  GROUP BY t),
          |tot AS (SELECT sum(c) AS n, count(*)::DOUBLE AS v FROM rc),
          |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |        FROM documents)
          |SELECT doc_id,
          |  round(avg(-ln((coalesce(c, 0) + 1) / (n + v + 1))), 6)
          |    AS ref_lm_score
          |FROM tok LEFT JOIN rc USING (t) CROSS JOIN tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- REAL WAV decode (javax.sound.sampled — the codec ships in the
    //     JDK, exactly like javax.imageio did for p31): deterministic
    //     mono 16-bit PCM WAVs, sample(i) = (doc_id*31 + i) % 65536 −
    //     32768 at 8 kHz with n = 100 + doc_id % 50 samples, are ENCODED
    //     through the real RIFF writer and DECODED by the real parser
    //     inside mapPartitions. PCM is lossless, so sample rate, frame
    //     count, duration and amplitude stats are pure arithmetic the
    //     oracle recomputes in SQL. Per-row compute, zero shuffle. ---
    QueryDef(
      "p39_wav_decode",
      (s, dir) => {
        import s.implicits._
        val wavs = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            Multimodal.WavRow(id,
              Multimodal.synthWav(id, 8000, 100 + (id % 50).toInt))
          })
        Multimodal.decodeWav(wavs).toDF()
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("n_samples"), round(col("duration_s"), 6).as("duration_s"),
            col("pcm_min"), col("pcm_max"),
            round(col("pcm_mean"), 6).as("pcm_mean"))
          .orderBy("doc_id")
      },
      Some(
        """WITH smp AS (
          |  SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(8000 AS INTEGER) AS sample_rate,
          |  CAST(1 AS INTEGER) AS channels,
          |  CAST(100 + doc_id % 50 AS BIGINT) AS n_samples,
          |  round((100 + doc_id % 50) / 8000.0, 6) AS duration_s,
          |  CAST(min((doc_id*31 + i) % 65536 - 32768) AS INTEGER) AS pcm_min,
          |  CAST(max((doc_id*31 + i) % 65536 - 32768) AS INTEGER) AS pcm_max,
          |  round(avg(((doc_id*31 + i) % 65536 - 32768)::DOUBLE), 6) AS pcm_mean
          |FROM smp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- REAL multi-frame sampling (ImageIO's animated-GIF reader):
    //     each video-kind doc carries a multi-frame GIF (frame f's pixel
    //     i = (doc_id*31 + f*17 + i) % 256, 16×8 — the JDK writer
    //     corrupts tiny GIFs); frameSample decodes every 2nd stored
    //     frame to its actual raster through the palette resolver and
    //     emits one row per sampled frame (1-row-to-N generator via
    //     flatMap). Gray palettes resolve to 3 equal bands, so the mean
    //     equals the gray mean and the oracle is SQL arithmetic. ---
    QueryDef(
      "p40_frame_sample",
      (s, dir) => Multimodal.frameSample(
          Multimodal.mediaFromDocuments(Tables.t(s, dir, "documents")),
          stride = 2).toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          round(col("px_mean"), 6).as("px_mean"))
        .orderBy("doc_id", "frame_idx"),
      Some(
        """WITH vid AS (
          |  SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents
          |  WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, unnest(range(0, nf, 2)) AS f FROM vid),
          |px AS (SELECT doc_id, f, unnest(range(0, 128)) AS i FROM fr)
          |SELECT doc_id,
          |  CAST(f AS INTEGER) AS frame_idx,
          |  CAST(16 AS INTEGER) AS width,
          |  CAST(8 AS INTEGER) AS height,
          |  round(avg(((doc_id*31 + f*17 + i) % 256)::DOUBLE), 6) AS px_mean
          |FROM px GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin)),

    // --- keyframe selection: top-2 frames per video by mean |pixel
    //     delta| vs the predecessor (scene-cut/high-motion sampling).
    //     The synthetic frames advance every pixel by 17 mod 256, so
    //     per-pixel deltas are 17 or 239 depending on wraparound and the
    //     per-frame mix varies — a genuinely discriminative ranking,
    //     fully SQL-recomputable because the GIF codec is lossless.
    //     Rank on the 6dp-rounded diff, ties by frame index; gray
    //     palettes resolve to 3 equal bands so band-mean == gray mean. ---
    QueryDef(
      "p52_keyframes",
      (s, dir) => Multimodal.keyFrames(
          Multimodal.mediaFromDocuments(Tables.t(s, dir, "documents")), k = 2)
        .select(col("doc_id"), col("frame_idx"), col("diff_mean"))
        .orderBy("doc_id", "frame_idx"),
      Some(
        """WITH vid AS (
          |  SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents
          |  WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, unnest(range(1, nf)) AS f FROM vid),
          |px AS (SELECT doc_id, f, unnest(range(0, 128)) AS i FROM fr),
          |d AS (SELECT doc_id, f,
          |        round(avg(abs(
          |          ((doc_id*31 + f*17 + i) % 256)
          |          - ((doc_id*31 + (f-1)*17 + i) % 256))::DOUBLE), 6)
          |          AS diff_mean
          |      FROM px GROUP BY doc_id, f),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY diff_mean DESC, f) AS rk FROM d)
          |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, diff_mean
          |FROM r WHERE rk <= 2 ORDER BY doc_id, frame_idx""".stripMargin))
  )
}
