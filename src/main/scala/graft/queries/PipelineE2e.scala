package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{QueryDef, Tables}
import graft.operators.{BloomPrune, ConnectedComponents, Decontaminate,
  Dedup, IdAssign, Sampling, TextAnalysis}

/** The COMPOSED end-to-end curation pipeline as one oracle-checked
  * query (p92), the engine's one copy of that chain: cross-corpus
  * dedup → exact dedup → MinHash near-dup components keep-rep →
  * benchmark decontamination → quality/repetition gate → mixture
  * quotas → contiguous ids → leakage-safe split → per-(split, lang)
  * accounting — a pure DataFrame, mirrored stage-for-stage in one
  * DuckDB CTE chain assembled from the individual stage oracles
  * (p29/p01/p14/p17/p07/p18/p26/p28). Every stage was already
  * oracle-checked in isolation; this query pins that their
  * COMPOSITION is too. The recursive-CTE closure makes the oracle an
  * sf0.01-regime check (p14's documented regime); the engine side is
  * the same banded/bucketed/component machinery that scales.
  */
object PipelineE2e {

  // DuckDB mirror of graft.functions.Fns.fnv1a32 over a VARCHAR cast
  private def duckFnv(expr: String): String =
    s"""(list_reduce(list_prepend(2166136261::BIGINT,
       |       list_transform(string_split(CAST($expr AS VARCHAR), ''),
       |         c -> unicode(c)::BIGINT)),
       |       (h, c) -> (xor(h, c) * 16777619) % 4294967296)) % 2147483648"""
      .stripMargin

  private def duckGrams(n: Int): String = {
    val terms = (0 until n).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"list_distinct([$terms FOR i IN range(1, len(tk) - ${n - 2})])"
  }

  /** The chain's stage frames, LAZY so a prefix costs only its prefix
    * (componentLabels and contiguousIds run eagerly when touched):
    * the QueryDef runs `account`; Bench's per-stage e2e attribution
    * times each prefix on a FRESH Chain so the eager stages re-run
    * inside the timed window.
    */
  final class Chain(s: org.apache.spark.sql.SparkSession, dir: String) {
    private val allDocs = Tables.t(s, dir, "documents")
    // 0. cross-corpus dedup at ingest (stand-in ingested corpus:
    //    doc_id % 7 = 0), bloom-accelerated exact anti-join
    //
    // ROUND-18 (optimization): the two widest fan-out frames — docs
    // (consumed by exactGroups, the keep-join and the decontam eval
    // side) and exactDeduped (pairs, groups' doc side, the keep-rep
    // join, and decontamination's two train reads) — are cut with an
    // eager localCheckpoint, the same lineage truncation
    // componentLabels uses on its pair frame (guide §5: materialize an
    // intermediate that multiple branches recompute). Before: one
    // account.count() re-ran the scan+bloom prefix ~8x and the md5
    // groupBy ~3x (the r17 scan-budget pin recorded 30 documents
    // scans); after: every stage derives from the nearest checkpoint —
    // 4 documents scans, final-frame exchanges 17 -> 5, TimeQ min-of-5
    // 7.47 -> 5.7-5.8 s / median 8.21 -> 6.6 s at sf0.1. A third
    // checkpoint on nearDeduped was A/B'd and REJECTED (median rose to
    // ~7.1-7.6 s: the keep-rep join from two checkpointed inputs is
    // cheaper than materializing its output). At corpus scale this is
    // the stage materialization a real curation pipeline does between
    // stages anyway (SCALE.md's checkpoint note on
    // minhashNearDupPairs).
    private val fingerprinted = allDocs.withColumn("fp",
      graft.functions.Fns.rollingHash31(substring(col("text"), 1, 200)))
    lazy val docs: org.apache.spark.sql.DataFrame = BloomPrune.antiKeep(
        facts = fingerprinted.filter(col("doc_id") % 7 =!= 0),
        keyCol = "fp",
        dimKeys = fingerprinted.filter(col("doc_id") % 7 === 0)
          .select("fp"),
        dimKeyCol = "fp", numBits = 1 << 14)
      .drop("fp")
      .transform(graft.operators.Materialize.cut)
    // 1. exact dedup: keep min doc_id per identical text
    lazy val exactDeduped: org.apache.spark.sql.DataFrame = docs.join(
        Dedup.exactGroups(docs, "doc_id", "text")
          .select(col("keep_id").as("doc_id")), "doc_id")
      .transform(graft.operators.Materialize.cut)
    // 2. near-dup components over verified MinHash pairs; keep reps
    lazy val nearPairs: org.apache.spark.sql.DataFrame =
      Dedup.minhashNearDupPairs(exactDeduped, "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
    lazy val groups: org.apache.spark.sql.DataFrame =
      ConnectedComponents.dedupGroups(exactDeduped, "doc_id", nearPairs)
    lazy val nearDeduped: org.apache.spark.sql.DataFrame =
      exactDeduped.join(
          groups.filter(col("is_rep")).select("doc_id"), "doc_id")
    // 3. benchmark decontamination (eval = doc_id % 20 = 0 of the
    //    post-ingest corpus, 4-gram overlap)
    // round-19 A/B REJECTED: localCheckpoint of the filtered train side
    // (to share the keep-rep join between the gram branch and the anti
    // join) — TimeQ pairs 5.216/5.021 with vs 5.013 without; the added
    // materialization job costs what the shared derivation saves, the
    // same verdict as round-18's nearDeduped checkpoint. The decontam
    // win this round is inside Decontaminate.overlapCounts instead (the
    // probe collects the bounded gram set, so the eval subtree runs
    // once and the broadcast builds from a local relation).
    lazy val decontaminated: org.apache.spark.sql.DataFrame =
      Decontaminate.clean(
        nearDeduped.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 4)
    // 4. analysis + quality/repetition gate — appended as a pure
    //    projection (joining analyze() back on doc_id would
    //    recompute the decontamination prefix twice)
    lazy val kept: org.apache.spark.sql.DataFrame = decontaminated
      .select(col("*") +:
        (TextAnalysis.analysisColumns(col("text")) ++
          TextAnalysis.repetitionColumns(col("text"))): _*)
      .filter(col("quality_score") > 3.0 &&
        col("n_tokens") >= 10 && col("dup_3gram_frac") < 0.5)
    // 5. mixture quotas (even sources upweighted) + contiguous ids
    lazy val withIds: org.apache.spark.sql.DataFrame = {
      val quotas = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) 25 else 10)).toMap
      IdAssign.contiguousIds(
        Sampling.mixture(kept, "source", "doc_id", quotas),
        col("doc_id"), "gid")
    }
    // 6. leakage-safe split (hash of the doc's dedup group) —
    //    derived from the ALREADY-COMPUTED components: calling
    //    leakageSafeSplit(withIds, nearPairs) would re-run the
    //    whole MinHash + label-propagation job a second time
    //    (each componentLabels call cuts and labels its own pair
    //    frame);
    //    group_id is identical either way (same edge set, same
    //    coalesce-to-own-id rule)
    lazy val withSplit: org.apache.spark.sql.DataFrame = withIds
      .join(groups.select("doc_id", "group_id"), "doc_id")
      .withColumn("split", Sampling.splitForGroup(col("group_id")))
    // 7. accounting: the corpus card a release ships
    lazy val account: org.apache.spark.sql.DataFrame = withSplit
      .groupBy("split", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("total_tokens"),
        round(avg("quality_score"), 3).as("avg_quality"),
        min("gid").as("min_gid"),
        max("gid").as("max_gid"))
      .orderBy("split", "lang")
  }

  /** Cumulative stage prefixes as count-thunks, each over a FRESH
    * Chain (the eager stages — components' label propagation, the id
    * assignment's offset pass — must re-run inside the timed window).
    * Bench reports these inside the `e2e_pipeline` artifact object so
    * a headline drift is attributable to its stage without a re-run.
    */
  def stageThunks(s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, () => Long)] = Seq(
    "s0_crosscorpus" -> (() => new Chain(s, dir).docs.count()),
    "s1_exact" -> (() => new Chain(s, dir).exactDeduped.count()),
    "s2_pairs" -> (() => new Chain(s, dir).nearPairs.count()),
    "s3_components" -> (() => new Chain(s, dir).groups.count()),
    "s4_decontam" -> (() => new Chain(s, dir).decontaminated.count()),
    "s5_quality" -> (() => new Chain(s, dir).kept.count()),
    "s6_mix_ids" -> (() => new Chain(s, dir).withIds.count()),
    "s7_full" -> (() => new Chain(s, dir).account.count()))

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "p92_pipeline_e2e",
      (s, dir) => new Chain(s, dir).account,
      Some(
        s"""WITH RECURSIVE
           |fpd AS (SELECT *, ${PipelineQueries.duckRollingHash("substr(text, 1, 200)")} AS fp
           |        FROM documents),
           |docs AS (SELECT * FROM fpd i
           |         WHERE i.doc_id % 7 <> 0
           |           AND NOT EXISTS (SELECT 1 FROM fpd g
           |                           WHERE g.doc_id % 7 = 0
           |                             AND g.fp = i.fp)),
           |ex AS (SELECT * FROM docs
           |       WHERE doc_id IN (SELECT min(doc_id) FROM docs
           |                        GROUP BY text)),
           |t AS (SELECT doc_id, string_split(text, ' ') tk FROM ex),
           |shg AS (SELECT doc_id,
           |          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
           |                         FOR i IN range(1, len(tk) - 1)]) s
           |        FROM t WHERE len(tk) >= 3),
           |prs AS (SELECT a.doc_id id_a, b.doc_id id_b,
           |         len(list_intersect(a.s, b.s))::DOUBLE
           |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) j
           |       FROM shg a JOIN shg b ON a.doc_id < b.doc_id),
           |e0 AS (SELECT id_a, id_b FROM prs WHERE j >= 0.8),
           |edges AS (SELECT id_a AS s, id_b AS d FROM e0
           |          UNION SELECT id_b, id_a FROM e0),
           |reach AS (
           |  SELECT s, d FROM edges
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
           |),
           |comp AS (SELECT s AS doc_id, least(s, min(d)) AS group_id
           |         FROM reach GROUP BY s),
           |grp AS (SELECT e.doc_id,
           |          coalesce(c.group_id, e.doc_id) AS group_id
           |        FROM ex e LEFT JOIN comp c ON e.doc_id = c.doc_id),
           |nd AS (SELECT ex.* FROM ex JOIN grp ON ex.doc_id = grp.doc_id
           |       WHERE grp.doc_id = grp.group_id),
           |tg AS (SELECT doc_id, unnest(s4) gram
           |       FROM (SELECT doc_id, ${duckGrams(4)} s4
           |             FROM (SELECT doc_id, string_split(text, ' ') tk
           |                   FROM nd WHERE doc_id % 20 <> 0)
           |             WHERE len(tk) >= 4)),
           |eg AS (SELECT DISTINCT unnest(s4) gram
           |       FROM (SELECT ${duckGrams(4)} s4
           |             FROM (SELECT string_split(text, ' ') tk
           |                   FROM docs WHERE doc_id % 20 = 0)
           |             WHERE len(tk) >= 4)),
           |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram)),
           |dc AS (SELECT * FROM nd
           |       WHERE doc_id % 20 <> 0
           |         AND doc_id NOT IN (SELECT doc_id FROM contam)),
           |an AS (SELECT *,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |         round(ln(len(string_split(text, ' ')) + 1)
           |           - 2.0 * (length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
           |                    / CAST(length(text) AS DOUBLE))
           |           - (len(list_filter(string_split(text, ' '),
           |                x -> x IN ('the','a','of','and','in','to')))
           |              / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6)
           |           AS quality_score
           |       FROM dc),
           |rep AS (SELECT doc_id,
           |          CASE WHEN len(tk) >= 3 THEN
           |            round(1.0 - len(${duckGrams(3)})::DOUBLE / (len(tk) - 2), 6)
           |          ELSE 0.0 END AS dup_3gram_frac
           |        FROM (SELECT doc_id, string_split(text, ' ') tk FROM dc)),
           |kept AS (SELECT an.* FROM an JOIN rep USING (doc_id)
           |         WHERE an.quality_score > 3.0 AND an.n_tokens >= 10
           |           AND rep.dup_3gram_frac < 0.5),
           |hv AS (SELECT *, ${duckFnv("doc_id")} AS h FROM kept),
           |rn AS (SELECT *, row_number() OVER (PARTITION BY source
           |         ORDER BY h, doc_id) AS rnk FROM hv),
           |mixed AS (SELECT * FROM rn
           |          WHERE rnk <= CASE
           |            WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 25
           |            ELSE 10 END),
           |ids AS (SELECT *, row_number() OVER (ORDER BY doc_id) - 1 AS gid
           |        FROM mixed),
           |spl AS (SELECT ids.*,
           |          CASE WHEN (${duckFnv("g2.group_id")}) % 10 < 8 THEN 'train'
           |               WHEN (${duckFnv("g2.group_id")}) % 10 = 8 THEN 'val'
           |               ELSE 'test' END AS split
           |        FROM ids JOIN grp g2 ON ids.doc_id = g2.doc_id)
           |SELECT split, lang, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |  round(avg(quality_score), 3) AS avg_quality,
           |  CAST(min(gid) AS BIGINT) AS min_gid,
           |  CAST(max(gid) AS BIGINT) AS max_gid
           |FROM spl GROUP BY split, lang ORDER BY split, lang""".stripMargin)))
}
