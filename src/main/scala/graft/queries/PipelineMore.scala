package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{QueryDef, Tables}
import graft.operators.{ConnectedComponents, Dedup, IncrementalDedup, Multimodal, PageRank, TextAnalysis}

/** Rounds 6-7 additions: corpus-statistics fit (Zipf), framed audio
  * features over real decoded WAV, order-sensitive bigram LM scoring,
  * asymmetric containment dedup, incremental dedup against a persisted
  * index. Same conventions as PipelineQueries (total-order output,
  * scalar columns, identical aliases both engines).
  */
object PipelineMore {

  // p47's WordPiece vocabulary, shared verbatim with the DuckDB oracle:
  // common English digraphs/trigraphs plus every lowercase letter and
  // digit (initial and "##"-continuation forms), so alnum lowercase
  // tokens always tokenize and anything else exercises the [UNK] path.
  private val wpSingles = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
  private[graft] val wpVocab: Seq[String] =
    Seq("the", "##the", "th", "##th", "ing", "##ing", "er", "##er", "an",
      "##an", "re", "##re", "on", "##on", "at", "##at", "en", "##en", "nd",
      "##nd", "ti", "##ti", "es", "##es", "or", "##or", "ed", "##ed", "is",
      "##is", "it", "##it", "al", "##al", "ar", "##ar", "st", "##st", "to",
      "##to", "nt", "##nt") ++ wpSingles ++ wpSingles.map("##" + _)
  private val wpVocabSql = wpVocab.map(v => s"'$v'").mkString("[", ", ", "]")

  val defs: Seq[QueryDef] = Seq(

    // --- Zipf's-law fit: OLS of ln(count) on ln(rank) over the top-500
    //     token ranks — slope ~ -1 is the natural-language signature, a
    //     corpus-health signal (templated/synthetic corpora bend it).
    //     The top-N is a distributed sort+limit (ranking happens AFTER
    //     the limit — never a full-vocabulary single-partition window);
    //     the fit is q64's closed form over exact sums, identical on
    //     both engines. ---
    QueryDef(
      "q73_zipf_fit",
      (s, dir) => TextAnalysis.zipfFit(
          Tables.t(s, dir, "documents"), "text", topN = 500)
        .orderBy("n_ranks"),
      Some(
        """WITH cnt AS (
          |  SELECT t, count(*)::DOUBLE AS c
          |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          |  GROUP BY t),
          |top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 500),
          |xy AS (SELECT ln(row_number() OVER (ORDER BY c DESC, t)) AS x,
          |         ln(c) AS y FROM top),
          |m AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
          |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
          |      FROM xy)
          |SELECT n::BIGINT AS n_ranks,
          |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
          |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
          |    AS zipf_intercept,
          |  round(CASE WHEN n*syy - sy*sy = 0 THEN 1.0
          |    ELSE pow(n*sxy - sx*sy, 2) /
          |      ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS zipf_r2
          |FROM m ORDER BY n_ranks""".stripMargin)),

    // --- framed audio features over REAL decoded WAV (the speech-
    //     pipeline front end): p39's synthetic PCM split into 40-sample
    //     frames, each reporting RMS energy + zero-crossing count. PCM
    //     is lossless and sample values are integers (sum of squares
    //     exact in a double at any order), so both features are pure
    //     SQL arithmetic for the oracle. 1-row-to-N generator shape. ---
    QueryDef(
      "p41_audio_frames",
      (s, dir) => {
        import s.implicits._
        val wavs = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            Multimodal.WavRow(id,
              Multimodal.synthWav(id, 8000, 100 + (id % 50).toInt))
          })
        Multimodal.frameAudio(wavs, frameLen = 40).toDF()
          .select(col("doc_id"), col("frame_idx"),
            round(col("rms"), 6).as("rms"), col("zcr"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id,
          |    unnest(range(0, ((100 + doc_id % 50) // 40) * 40)) AS i
          |  FROM documents),
          |v AS (SELECT doc_id, i, CAST(i // 40 AS INTEGER) AS f, i % 40 AS j,
          |        ((doc_id*31 + i) % 65536 - 32768)::DOUBLE AS v
          |      FROM s),
          |p AS (SELECT doc_id, f, j, v,
          |        lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
          |      FROM v)
          |SELECT doc_id, f AS frame_idx,
          |  round(sqrt(avg(v*v)), 6) AS rms,
          |  CAST(sum(CASE WHEN j < 39 AND ((v < 0) <> (nv < 0))
          |           THEN 1 ELSE 0 END) AS BIGINT) AS zcr
          |FROM p GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin)),

    // --- bigram-LM cross-entropy (order-sensitive quality signal): a
    //     shuffled bag of common words fools a unigram LM (p30); only
    //     real phrase structure scores well under p(w_i | w_{i-1}).
    //     Add-one smoothing over (history count + V); docs with < 2
    //     tokens have no bigrams and emit no row — identical on both
    //     engines. ---
    QueryDef(
      "p42_bigram_lm",
      (s, dir) => TextAnalysis.bigramLmScore(
          Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
          |           FROM documents),
          |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
          |       FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
          |             FROM t)),
          |bc AS (SELECT w1, w2, count(*)::DOUBLE AS cb
          |       FROM bg GROUP BY w1, w2),
          |u AS (SELECT w1, count(*)::DOUBLE AS cu
          |      FROM (SELECT unnest(tk) AS w1 FROM t) GROUP BY w1),
          |vc AS (SELECT count(*)::DOUBLE AS v FROM u)
          |SELECT doc_id,
          |  round(avg(-ln((cb + 1) / (cu + v))), 6) AS bigram_lm_score
          |FROM bg JOIN bc USING (w1, w2) JOIN u USING (w1) CROSS JOIN vc
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- asymmetric containment dedup: C(a->b) = |sh(a) n sh(b)| /
    //     |sh(a)| — catches a short doc quoted wholesale inside a long
    //     one, where Jaccard stays low because the union is dominated
    //     by the long doc. Inverted-index equi-join (p03's shape): only
    //     pairs sharing a shingle are scored. The oracle is the exact
    //     all-pairs mirror (quadratic — exclude from bulk sf0.1
    //     sweeps, certify individually like p03). ---
    QueryDef(
      "p43_containment",
      (s, dir) => Dedup.containmentPairs(
          Tables.t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 5, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents),
           |g AS (SELECT doc_id,
           |        list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
           |          || ' ' || tk[i+3] || ' ' || tk[i+4]
           |          FOR i IN range(1, len(tk) - 3)]) AS s
           |      FROM t WHERE len(tk) >= 5),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |            len(list_intersect(a.s, b.s))::DOUBLE / len(a.s)
           |              AS containment
           |          FROM g a JOIN g b ON a.doc_id <> b.doc_id)
           |SELECT id_a, id_b, round(containment, 6) AS containment
           |FROM pairs WHERE containment >= 0.8
           |ORDER BY id_a, id_b""".stripMargin)),

    // --- PageRank over the customer→supplier trade graph (who supplies
    //     the best-connected customers): 10 fixed rounds of the
    //     simplified model from the uniform vector — every value is a
    //     closed-form function of the edge set, so the oracle UNROLLS
    //     the same 10 iterations as chained CTEs. Supplier node ids are
    //     offset by 2,000,000 (custkey/suppkey spaces overlap). The
    //     per-round shape is one edges⋈ranks join + a partial-agg sum —
    //     ConnectedComponents' shuffle-per-round contract. ---
    QueryDef(
      "q74_pagerank",
      (s, dir) => {
        val edges = Tables.t(s, dir, "orders")
          .join(Tables.t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 2000000L).as("dst"))
          .distinct()
        PageRank.run(edges, iterations = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 9).as("rank"))
          .orderBy("node")
      },
      Some {
        // iteration K unrolled as CTE prK. DuckDB folds (1 - 0.85) in
        // DECIMAL to exactly 0.15 before the double division, while the
        // engine's Scala-side (1 - damping) is double arithmetic
        // (0.15000000000000002) — a 1-ulp seed discrepancy that the
        // round(..., 9) on both sides absorbs; the rounding, not literal
        // form, is what makes the comparison exact
        val iters = (1 to 10).map { k =>
          s"""pr$k AS (
             |  SELECT nd.node,
             |    (1 - 0.85) / nn.n + 0.85 * coalesce(f.fl, 0) AS r
             |  FROM nodes nd CROSS JOIN nn
             |  LEFT JOIN (SELECT e.dst AS node, sum(p.r / dg.deg) AS fl
             |             FROM edges e JOIN pr${k - 1} p ON e.src = p.node
             |             JOIN deg dg ON e.src = dg.src
             |             GROUP BY e.dst) f USING (node))""".stripMargin
        }.mkString(",\n")
        s"""WITH edges AS (
           |  SELECT DISTINCT o_custkey AS src, 2000000 + l_suppkey AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nodes AS (SELECT src AS node FROM edges
           |          UNION SELECT dst FROM edges),
           |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
           |pr0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
           |$iters
           |SELECT node, round(r, 9) AS rank FROM pr10
           |ORDER BY node""".stripMargin
      }),

    // --- composite quality gate (the C4/Gopher/FineWeb filter-chain
    //     decision): every rule per row, keep = all-pass, plus the
    //     FIRST failing rule's name for drop attribution. One scan, no
    //     shuffle — the gate fuses into whatever stage runs next. ---
    QueryDef(
      "p44_quality_gate",
      (s, dir) => TextAnalysis.qualityGate(
          Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(
        """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
          |           FROM documents),
          |m AS (SELECT doc_id,
          |        len(tk)::DOUBLE AS n,
          |        CASE WHEN len(tk) > 0 THEN
          |          1.0 - len(list_distinct(tk))::DOUBLE / len(tk)
          |        ELSE 0.0 END AS dup,
          |        list_sum(list_transform(tk, x -> length(x)))::DOUBLE
          |          / len(tk) AS ml
          |      FROM t)
          |SELECT doc_id,
          |  n::BIGINT AS n_tokens,
          |  round(dup, 6) AS dup_frac,
          |  round(ml, 6) AS mean_token_len,
          |  (CASE WHEN n IS NULL THEN 'empty'
          |        WHEN n < 5 THEN 'too_short'
          |        WHEN n > 5000 THEN 'too_long'
          |        WHEN dup > 0.3 THEN 'repetitive'
          |        WHEN ml < 2 OR ml > 12 THEN 'token_length' END) IS NULL
          |    AS keep,
          |  CASE WHEN n IS NULL THEN 'empty'
          |       WHEN n < 5 THEN 'too_short'
          |       WHEN n > 5000 THEN 'too_long'
          |       WHEN dup > 0.3 THEN 'repetitive'
          |       WHEN ml < 2 OR ml > 12 THEN 'token_length' END AS fail_reason
          |FROM m ORDER BY doc_id""".stripMargin)),

    // --- quarantine decode, ORACLE-CHECKED (q56's resilient-ingest
    //     shape on audio, upgraded from test-only to differential):
    //     every 7th doc carries deterministic junk bytes instead of a
    //     RIFF container; decodeWavSafe lands them as error rows while
    //     the real WAVs decode losslessly — one pass, no task failures.
    //     The oracle recomputes the clean side arithmetically and the
    //     quarantine side by the id rule. ---
    QueryDef(
      "p45_wav_quarantine",
      (s, dir) => {
        import s.implicits._
        val media = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            Multimodal.WavRow(id,
              if (id % 7 == 0) Array[Byte](74, 85, 78, 75) // not a RIFF container
              else Multimodal.synthWav(id, 8000, 60 + (id % 20).toInt))
          })
        Multimodal.decodeWavSafe(media).toDF()
          .select(col("doc_id"), col("decode_error").isNull.as("ok"),
            col("n_samples"), round(col("pcm_mean"), 6).as("pcm_mean"))
          .orderBy("doc_id")
      },
      Some(
        """WITH smp AS (
          |  SELECT doc_id, unnest(range(0, 60 + doc_id % 20)) AS i
          |  FROM documents WHERE doc_id % 7 <> 0),
          |good AS (
          |  SELECT doc_id, CAST(60 + doc_id % 20 AS BIGINT) AS n_samples,
          |    round(avg(((doc_id*31 + i) % 65536 - 32768)::DOUBLE), 6)
          |      AS pcm_mean
          |  FROM smp GROUP BY doc_id)
          |SELECT doc_id, TRUE AS ok, n_samples, pcm_mean FROM good
          |UNION ALL
          |SELECT doc_id, FALSE AS ok, CAST(-1 AS BIGINT) AS n_samples,
          |  -1.0 AS pcm_mean
          |FROM documents WHERE doc_id % 7 = 0
          |ORDER BY doc_id""".stripMargin)),

    // --- incremental near-dup against a PERSISTED MinHash band index:
    //     the corpus (doc_id % 5 != 0) is indexed once to parquet, then
    //     the batch (doc_id % 5 == 0) dedups against the index — no
    //     corpus text is re-read (IncrementalDedupSpec asserts the batch
    //     plan's scans). Same signature family as p02, so the result
    //     equals the full recompute restricted to pairs touching the
    //     batch — which is exactly what the exact all-pairs oracle
    //     computes (quadratic oracle: certify individually at sf0.1,
    //     like p02). The index build is an EAGER write job at
    //     construction time — building an index IS a job. ---
    QueryDef(
      "p46_incremental_neardup",
      (s, dir) => {
        val p = IncrementalDedup.Params(shingleSize = 3, numHashes = 128,
          bands = 32, threshold = 0.8)
        val docs = Tables.t(s, dir, "documents")
        // per-dataset index path: sf0.01 verify and sf0.1 bench runs must
        // not read each other's index
        val path = "/tmp/graft_p46_index/" +
          java.lang.Integer.toHexString(dir.hashCode)
        IncrementalDedup.buildIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", p, path)
        IncrementalDedup.nearDupsAgainstIndex(
            s, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", p, path)
          .orderBy("id_a", "id_b")
      },
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
          |FROM p WHERE j >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)
          |ORDER BY id_a, id_b""".stripMargin)),

    // --- WordPiece subword tokenization (the tokenizer-shape op a
    //     training pipeline runs last): greedy longest-match-first over
    //     a fixed vocab, "##" continuations, [UNK] on failure — a pure
    //     per-row generator with the vocab as a plan literal (no join,
    //     no shuffle; WordPieceSpec pins the exchange-free plan). The
    //     oracle replays the same greedy automaton as a DuckDB RECURSIVE
    //     CTE over the identical vocab literal: one recursive step per
    //     emitted piece, longest match picked by list_filter+list_reduce
    //     (q72 proved recursive CTEs portable). ---
    QueryDef(
      "p47_wordpiece",
      (s, dir) => TextAnalysis.wordpiece(
          Tables.t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", wpVocab, maxInputChars = 16)
        .orderBy("doc_id", "tok_idx", "piece_idx"),
      Some(
        s"""WITH RECURSIVE
           |t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |      FROM documents WHERE doc_id % 10 = 0),
           |tok AS (SELECT doc_id, i AS tok_idx, tk[i+1] AS token
           |        FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS i
           |              FROM t)),
           |step AS (
           |  SELECT doc_id, tok_idx, token, 0 AS pos, 0 AS pidx,
           |         CAST(NULL AS VARCHAR) AS piece, len(token) > 16 AS failed
           |  FROM tok WHERE len(token) > 0
           |  UNION ALL
           |  SELECT doc_id, tok_idx, token,
           |    pos + CASE WHEN best = '' THEN 1
           |               WHEN pos = 0 THEN len(best)
           |               ELSE len(best) - 2 END,
           |    pidx + 1,
           |    CASE WHEN best = '' THEN NULL ELSE best END,
           |    best = ''
           |  FROM (SELECT doc_id, tok_idx, token, pos, pidx,
           |          list_reduce(list_prepend('', list_filter($wpVocabSql,
           |            p -> CASE WHEN pos = 0
           |              THEN p NOT LIKE '##%'
           |                   AND substr(token, pos + 1, len(p)) = p
           |              ELSE p LIKE '##%'
           |                   AND substr(token, pos + 1, len(p) - 2)
           |                       = substr(p, 3) END)),
           |            (a, b) -> CASE WHEN len(b) > len(a) THEN b ELSE a END)
           |            AS best
           |        FROM step WHERE pos < len(token) AND NOT failed)),
           |fails AS (SELECT DISTINCT doc_id, tok_idx FROM step WHERE failed),
           |pieces AS (SELECT doc_id, tok_idx, pidx - 1 AS piece_idx, piece
           |           FROM step WHERE piece IS NOT NULL),
           |up AS (
           |  SELECT p.doc_id, p.tok_idx, p.piece_idx, p.piece
           |  FROM pieces p
           |  WHERE NOT EXISTS (SELECT 1 FROM fails f
           |                    WHERE f.doc_id = p.doc_id
           |                      AND f.tok_idx = p.tok_idx)
           |  UNION ALL
           |  SELECT doc_id, tok_idx, 0, '[UNK]' FROM fails)
           |SELECT doc_id, CAST(tok_idx AS INTEGER) AS tok_idx,
           |  CAST(piece_idx AS INTEGER) AS piece_idx, piece
           |FROM up ORDER BY doc_id, tok_idx, piece_idx""".stripMargin)),

    // --- canonical-doc selection (the KEEP POLICY after dedup): p14
    //     groups near-dup components, but real dedup keeps the BEST copy
    //     per group, not the min-id one — here quality = token count
    //     (keep-the-most-complete-copy), argmax via TopKPerGroup (k=1,
    //     no WindowExec), ties to min id. Oracle: p14's recursive-CTE
    //     components + a plain window argmax. ---
    QueryDef(
      "p48_canonical_docs",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
        ConnectedComponents.canonicalDocs(
            docs.withColumn("quality",
              size(graft.functions.Fns.tokens(col("text"))).cast("long")),
            "doc_id", pairs, "quality")
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
          |q AS (SELECT d.doc_id,
          |        coalesce(c.group_id, d.doc_id) AS group_id,
          |        len(string_split(d.text, ' '))::BIGINT AS quality
          |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY group_id
          |        ORDER BY quality DESC, doc_id) AS rk FROM q)
          |SELECT doc_id, group_id, quality, rk = 1 AS is_canonical
          |FROM r ORDER BY doc_id""".stripMargin)),

    // --- per-doc n-gram novelty in ingest (id) order: the fraction of a
    //     doc's distinct 3-grams whose first corpus occurrence is this
    //     doc — near-zero novelty late in the corpus flags boilerplate
    //     accretion no single near-dup pair catches. One gram-keyed
    //     min(id) shuffle + join-back; no doc-pair comparison anywhere. ---
    QueryDef(
      "p49_ngram_novelty",
      (s, dir) => TextAnalysis.ngramNovelty(
          Tables.t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
          |sh AS (SELECT doc_id,
          |         unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
          |                               FOR i IN range(1, len(tk) - 1)])) AS gram
          |       FROM t WHERE len(tk) >= 3),
          |f AS (SELECT gram, min(doc_id) AS first_id FROM sh GROUP BY gram)
          |SELECT s.doc_id,
          |  count(*)::BIGINT AS n_grams,
          |  sum(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END)::BIGINT
          |    AS n_novel,
          |  round(sum(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END)::DOUBLE
          |    / count(*), 6) AS novelty
          |FROM sh s JOIN f USING (gram)
          |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // --- temperature-weighted mixture sampling (GPT-3 / mBERT source
    //     reweighting): quota_i = floor(totalN * c_i^T / Z) at T = 0.5,
    //     DERIVED from the data (counts partial-agg, Z a 1-row
    //     broadcast, quota table broadcast) — nothing collects. Same
    //     deterministic FNV order + TopKPerGroup prune as p26; the 9dp
    //     round before floor keeps the ulp-sensitive pow/sum from
    //     flipping a quota on either engine. ---
    QueryDef(
      "p50_temperature_mixture",
      (s, dir) => graft.operators.Sampling.temperatureMixture(
          Tables.t(s, dir, "documents"), "source", "doc_id",
          temperature = 0.5, totalN = 100)
        .select("doc_id", "source", "quota")
        .orderBy("source", "doc_id"),
      Some(
        """WITH c AS (SELECT source, count(*)::DOUBLE AS c
          |           FROM documents GROUP BY source),
          |z AS (SELECT sum(pow(c, 0.5)) AS z FROM c),
          |q AS (SELECT source,
          |        greatest(1, floor(round(100.0 * pow(c, 0.5) / z, 9))::BIGINT)
          |          AS quota
          |      FROM c CROSS JOIN z),
          |h AS (SELECT doc_id, source,
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
          |SELECT r.doc_id, r.source, q.quota
          |FROM r JOIN q USING (source) WHERE rn <= q.quota
          |ORDER BY r.source, r.doc_id""".stripMargin)),

    // --- quantile (curriculum) binning: per-doc quartile of token count
    //     from EXACT percentile cutoffs (1-row broadcast, no sort/window
    //     over the corpus; approx_percentile is the stated 100 TB swap).
    //     Cutoffs rounded 6dp before comparison on both engines. ---
    QueryDef(
      "p51_curriculum_bins",
      (s, dir) => graft.operators.Sampling.quantileBins(
          Tables.t(s, dir, "documents"), "doc_id",
          size(graft.functions.Fns.tokens(col("text"))), nBins = 4)
        .orderBy("doc_id"),
      Some(
        """WITH s AS (SELECT doc_id,
          |             len(string_split(text, ' '))::DOUBLE AS score
          |           FROM documents),
          |c AS (SELECT list_transform(
          |        quantile_cont(score, [0.25, 0.5, 0.75]),
          |        x -> round(x, 6)) AS cuts
          |      FROM s)
          |SELECT doc_id, score,
          |  (1 + len(list_filter(cuts, x -> score > x)))::INT AS bin
          |FROM s CROSS JOIN c ORDER BY doc_id""".stripMargin)),

    // --- encoding-quality gate (the filter BEFORE any text op): C0
    //     control chars (minus \t\n\r), U+FFFD replacement chars, and
    //     the printable-ASCII fraction, all from regex counts over one
    //     scan. Both engines count by removed-length difference so the
    //     arithmetic mirrors exactly. ---
    QueryDef(
      "p53_encoding_gate",
      (s, dir) => TextAnalysis.encodingGate(
          Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  (length(text) - length(regexp_replace(text,
          |     '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')))::BIGINT AS n_ctrl,
          |  (length(text) - length(regexp_replace(text,
          |     '\x{FFFD}', '', 'g')))::BIGINT AS n_repl,
          |  round(CASE WHEN length(text) > 0 THEN
          |      length(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))::DOUBLE
          |        / length(text)
          |    ELSE 0.0 END, 6) AS ascii_ratio,
          |  (length(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]',
          |     '', 'g')) = length(text)
          |   AND length(regexp_replace(text, '\x{FFFD}', '', 'g'))
          |     = length(text)) AS keep
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- dedup telemetry: per-source doc counts, survivors of the p48
    //     keep policy, and the dup rate — the "what did dedup cost each
    //     source" report every pipeline run ships to its dashboard.
    //     Composition: near-dup groups -> canonical picks -> source
    //     rollup; the report side is one dimension-sized aggregate. ---
    QueryDef(
      "p54_dedup_report",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
        ConnectedComponents.canonicalDocs(
            docs.withColumn("quality",
              size(graft.functions.Fns.tokens(col("text"))).cast("long")),
            "doc_id", pairs, "quality")
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_kept"))
          .withColumn("dup_rate",
            round(lit(1.0) - col("n_kept").cast("double") / col("n_docs"), 6))
          .orderBy("source")
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
          |q AS (SELECT d.doc_id,
          |        coalesce(c.group_id, d.doc_id) AS group_id,
          |        len(string_split(d.text, ' '))::BIGINT AS quality,
          |        d.source
          |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY group_id
          |        ORDER BY quality DESC, doc_id) AS rk FROM q)
          |SELECT source, count(*) AS n_docs,
          |  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          |  round(1.0 - sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::DOUBLE
          |    / count(*), 6) AS dup_rate
          |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // --- Jelinek-Mercer interpolated bigram LM (the smoothing real
    //     CCNet-family filters run): λ·P_bg + (1−λ)·P_uni with MLE
    //     bigrams from the doc_id % 4 = 0 reference slice and p38's
    //     add-one unigram backoff. (1−λ) is written as a DOUBLE
    //     subtraction in the oracle so DuckDB's DECIMAL constant folding
    //     cannot produce a different seed than Scala's 1.0 - 0.7 (the
    //     q74 lesson, applied up front). ---
    QueryDef(
      "p55_interp_lm",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        TextAnalysis.interpolatedLmScore(
            docs, docs.filter(col("doc_id") % 4 === 0),
            "doc_id", "text", lambda = 0.7)
          .orderBy("doc_id")
      },
      Some(
        """WITH ref AS (SELECT doc_id, string_split(text, ' ') tk
          |             FROM documents WHERE doc_id % 4 = 0),
          |rt AS (SELECT doc_id, i AS pos, tk[i+1] AS w
          |       FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS i
          |             FROM ref)),
          |rb AS (SELECT doc_id, w, pos,
          |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          |       FROM rt),
          |bg AS (SELECT w AS w1, w2, count(*)::DOUBLE AS cb
          |       FROM rb WHERE w2 IS NOT NULL GROUP BY 1, 2),
          |uni AS (SELECT w AS w1, count(*)::DOUBLE AS cu FROM rt GROUP BY 1),
          |tot AS (SELECT sum(cu) AS n, count(*)::DOUBLE AS v FROM uni),
          |dall AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
          |dt AS (SELECT doc_id, i AS pos, tk[i+1] AS w
          |       FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS i
          |             FROM dall)),
          |db AS (SELECT doc_id, w AS w1, w2 FROM (
          |         SELECT doc_id, w, pos,
          |           lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          |         FROM dt) WHERE w2 IS NOT NULL),
          |j AS (SELECT db.doc_id,
          |        CASE WHEN uh.cu IS NOT NULL AND b.cb IS NOT NULL
          |             THEN b.cb / uh.cu ELSE 0.0 END AS pbg,
          |        (coalesce(uw.cu, 0.0) + 1) / (t.n + t.v + 1) AS puni
          |      FROM db
          |      LEFT JOIN bg b ON db.w1 = b.w1 AND db.w2 = b.w2
          |      LEFT JOIN uni uh ON db.w1 = uh.w1
          |      LEFT JOIN uni uw ON db.w2 = uw.w1
          |      CROSS JOIN tot t)
          |SELECT doc_id,
          |  round(avg(-ln(0.7::DOUBLE * pbg
          |    + (1.0::DOUBLE - 0.7::DOUBLE) * puni)), 6) AS interp_lm_score
          |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- variable-length repeated spans (Lee et al. longest-match
    //     ladder): doubling widths 8→16→32→64, spans in >= 3 docs at
    //     each width, pass k scanning only docs that survived pass k−1
    //     (exact by window monotonicity — see repeatedSpansLadder). The
    //     oracle UNIONs the same fixed widths: an empty Spark level
    //     implies all wider levels empty, so the early stop and the
    //     fixed enumeration agree row-for-row. Slice-based grams
    //     (array_to_string over tk[i:i+n-1]) keep DuckDB's expression
    //     depth O(1) in n — the nested-|| form binder-overflows at
    //     n=64. ---
    QueryDef(
      "p56_repeated_spans_ladder",
      (s, dir) => TextAnalysis.repeatedSpansLadder(
          Tables.t(s, dir, "documents"), "doc_id", "text",
          baseN = 8, minDf = 3, maxN = 64)
        .orderBy("span_len", "span"),
      Some {
        def level(n: Int): String =
          s"""SELECT CAST($n AS INT) AS span_len, span,
             |  count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM (SELECT DISTINCT doc_id,
             |        unnest(list_distinct([array_to_string(tk[i:i+${n - 1}],
             |          ' ') FOR i IN range(1, len(tk) - ${n - 2})])) AS span
             |      FROM tok WHERE len(tk) >= $n)
             |GROUP BY span HAVING count(*) >= 3""".stripMargin
        s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
           |             FROM documents)
           |${Seq(8, 16, 32, 64).map(level).mkString("", "\nUNION ALL\n", "")}
           |ORDER BY span_len, span""".stripMargin
      }),

    // --- end-to-end curation funnel (the composition a data team ships):
    //     quality gate → exact-dedup canonical keep → per-source report
    //     of documents and tokens surviving each stage. One narrow
    //     projection per doc (text dropped at the scan, never shuffled);
    //     the oracle chains p44's gate mirror and p01's min-id dedup
    //     into the same funnel arithmetic. ---
    QueryDef(
      "p57_curation_funnel",
      (s, dir) => graft.operators.CurationPipeline.funnelReport(
          Tables.t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source"),
      Some(
        """WITH base AS (
          |  SELECT doc_id, source, md5(text) AS content_md5,
          |    len(string_split(text, ' ')) AS n,
          |    CASE WHEN len(string_split(text, ' ')) > 0 THEN
          |      1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
          |        / len(string_split(text, ' '))
          |    ELSE 0.0 END AS dup,
          |    list_sum(list_transform(string_split(text, ' '),
          |      x -> length(x)))::DOUBLE
          |      / len(string_split(text, ' ')) AS ml
          |  FROM documents),
          |g AS (SELECT *,
          |        (CASE WHEN n IS NULL THEN 'empty'
          |              WHEN n < 5 THEN 'too_short'
          |              WHEN n > 5000 THEN 'too_long'
          |              WHEN dup > 0.3 THEN 'repetitive'
          |              WHEN ml < 2 OR ml > 12 THEN 'token_length' END)
          |          IS NULL AS keep
          |      FROM base),
          |c AS (SELECT content_md5, min(doc_id) AS id
          |      FROM g WHERE keep GROUP BY content_md5),
          |canon AS (SELECT g.* FROM g JOIN c ON g.doc_id = c.id),
          |s1 AS (SELECT source, count(*) AS n_in,
          |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_quality
          |       FROM g GROUP BY source),
          |s2 AS (SELECT source, count(*) AS n_canonical,
          |         CAST(sum(n) AS BIGINT) AS tokens_kept
          |       FROM canon GROUP BY source)
          |SELECT s1.source AS source, n_in, n_quality,
          |  coalesce(n_canonical, 0) AS n_canonical,
          |  coalesce(tokens_kept, 0) AS tokens_kept
          |FROM s1 LEFT JOIN s2 ON s1.source = s2.source
          |ORDER BY s1.source""".stripMargin)),

    // --- persisted IVF ANN index, EXHAUSTIVELY probed (the similarity
    //     twin of p46): k-means build over the %7!=0 slice, the %7==0
    //     slice APPENDED against the stored centroids (no refit), then
    //     nprobe = nlist probes every cell — which provably equals
    //     brute-force top-k over the whole corpus, so the same exact
    //     oracle as p09 applies. Partition pruning at nprobe < nlist and
    //     append-assignment fidelity are AnnIndexSpec's job. ---
    QueryDef(
      "p58_ann_index_exhaustive",
      (s, dir) => {
        val p = graft.operators.AnnIndex.Params(nlist = 16, dims = 64)
        val e = Tables.t(s, dir, "embeddings")
        val path = "/tmp/graft_p58_index/" +
          java.lang.Integer.toHexString(dir.hashCode)
        graft.operators.AnnIndex.buildIndex(
          e.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding", p, path)
        graft.operators.AnnIndex.appendBatch(
          e.filter(col("vec_id") % 7 === 0), "vec_id", "embedding", p, path,
          java.util.UUID.randomUUID.toString)
        graft.operators.AnnIndex.topKAgainstIndex(
            s, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
            k = 5, nprobe = 16, p, path)
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
          |ORDER BY qid, rank""".stripMargin)),

    // --- curate-and-write composition (p57's funnel × q78's sink ×
    //     q80's skipping, end-to-end under one driver hash): the
    //     canonical curated corpus is WRITTEN through the
    //     manifest-committed connector range-clustered on doc id, then
    //     a selective id-window read — file-skipped via the manifest
    //     zone maps — rolls tokens up per source. The oracle rebuilds
    //     the same funnel and window directly. ---
    QueryDef(
      "p59_curate_to_sink",
      (s, dir) => {
        val path = "/tmp/graft_p59_sink/" +
          java.lang.Integer.toHexString(dir.hashCode)
        graft.operators.CurationPipeline.curatedDocs(
            Tables.t(s, dir, "documents"), "doc_id", "text", "source")
          .repartitionByRange(4, col("id"))
          .write.format("graft.sources.ManifestTable")
          .option("path", path).mode("overwrite").save()
        s.read.format("graft.sources.ManifestTable")
          .option("path", path).load()
          .filter(col("id") >= 100 && col("id") < 300)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .orderBy("source")
      },
      Some(
        """WITH base AS (
          |  SELECT doc_id, source, md5(text) AS content_md5,
          |    len(string_split(text, ' ')) AS n,
          |    CASE WHEN len(string_split(text, ' ')) > 0 THEN
          |      1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
          |        / len(string_split(text, ' '))
          |    ELSE 0.0 END AS dup,
          |    list_sum(list_transform(string_split(text, ' '),
          |      x -> length(x)))::DOUBLE
          |      / len(string_split(text, ' ')) AS ml
          |  FROM documents),
          |g AS (SELECT *,
          |        (CASE WHEN n IS NULL THEN 'empty'
          |              WHEN n < 5 THEN 'too_short'
          |              WHEN n > 5000 THEN 'too_long'
          |              WHEN dup > 0.3 THEN 'repetitive'
          |              WHEN ml < 2 OR ml > 12 THEN 'token_length' END)
          |          IS NULL AS keep
          |      FROM base),
          |c AS (SELECT content_md5, min(doc_id) AS id
          |      FROM g WHERE keep GROUP BY content_md5),
          |canon AS (SELECT g.* FROM g JOIN c ON g.doc_id = c.id)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(n) AS BIGINT) AS n_tokens
          |FROM canon WHERE doc_id >= 100 AND doc_id < 300
          |GROUP BY source ORDER BY source""".stripMargin))
  )
}
