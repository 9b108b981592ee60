package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.internal.StaticSQLConf
import graft.functions.{ArrayCosine, Fnv1a32, RollingHash31, ShingleArray}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions. [[graft.Session.builder]]
  * activates it through spark.sql.extensions=graft.GraftExtensions
  * (`withExtensions(new GraftExtensions)` on a builder works too), after
  * which `SELECT rolling_hash31(text), array_cosine(a, b) ...` parse
  * natively.
  *
  * It also raises Spark's codegen cache
  * (`spark.sql.codegen.cache.maxEntries`) from 100 to
  * [[GraftExtensions.CodegenCacheEntries]] compiled classes. The p92
  * curation chain generates about 150 distinct classes, and a round of
  * the word-count and relational queries about 170. At 100 the LRU
  * evicted every class before its reuse, so each warm run recompiled
  * its code with Janino: a warm chain took 6.2 s instead of 4.2 s on a
  * 4-core VM. Spark reads the size once per JVM, at the first codegen,
  * so the default only takes effect when the first session in the JVM
  * is built with this extension. A value set by the user (builder
  * `.config`, `--conf`, `-Dspark.sql.codegen.cache.maxEntries=N`) wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def fn(name: String, usage: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name), info(name, usage), builder)

  override def apply(e: SparkSessionExtensions): Unit = {
    // runs before the session's state copies the SparkContext conf
    Bridge.activeConf.foreach(GraftExtensions.withEngineDefaults)
    // catalog-persisted view resolution (graft.sources.GraftViews):
    // `SELECT * FROM g.db.v` expands the stored SQL — Spark 4.1 has no
    // built-in v2 view resolution to collide with
    e.injectResolutionRule(session =>
      graft.sources.GraftViewResolution(session))
    // whole-operator planner extension (see graft.plans.TopKPerGroup);
    // sessions built without extensions get the same strategy lazily via
    // experimental.extraStrategies in TopKPerGroup.topK
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // optimizer extension (third Catalyst surface): declarative
    // row_number-filter top-k -> TopKPerGroupNode; inert unless
    // spark.graft.rewriteRankLimit=true
    e.injectOptimizerRule(_ => graft.plans.RankLimitRewrite)
    e.injectFunction(fn("rolling_hash31",
      "rolling_hash31(str) - code-point polynomial hash mod 2^31",
      exprs => RollingHash31(exprs.head)))
    e.injectFunction(fn("fnv1a32",
      "fnv1a32(str) - FNV-1a 32-bit over UTF-8 bytes, masked to 31 bits",
      exprs => Fnv1a32(exprs.head)))
    e.injectFunction(fn("shingle_array",
      "shingle_array(tokens, n) - distinct contiguous n-token shingles",
      exprs => ShingleArray(exprs.head,
        graft.functions.Fns.intLiteral(exprs(1)))))
    e.injectFunction(fn("array_cosine",
      "array_cosine(a, b) - cosine similarity of two numeric arrays",
      exprs => ArrayCosine(exprs.head, exprs(1))))
    e.injectFunction(fn("minhash_sigs",
      "minhash_sigs(shingles, k) - all k MinHash values in one pass",
      exprs => graft.functions.MinHashSigs(exprs.head,
        graft.functions.Fns.intLiteral(exprs(1)))))
    e.injectFunction(fn("sign_projections",
      "sign_projections(emb, planes, tables, dims) - all sign-LSH buckets",
      exprs => graft.functions.SignProjections(exprs.head,
        graft.functions.Fns.intLiteral(exprs(1)),
        graft.functions.Fns.intLiteral(exprs(2)),
        graft.functions.Fns.intLiteral(exprs(3)))))
    e.injectFunction(fn("zorder_key",
      "zorder_key(x, y) - Morton interleave of the low 16 bits of x and y",
      exprs => graft.functions.ZOrderKey(exprs.head, exprs(1))))
    e.injectFunction(fn("bloom_might_contain",
      "bloom_might_contain(bloom, key, k) - probe an array<bigint> bloom bitmap",
      exprs => graft.functions.BloomMightContain(exprs.head, exprs(1),
        graft.functions.Fns.intLiteral(exprs(2)))))
    e.injectFunction(fn("normalize_nfc",
      "normalize_nfc(str) - Unicode NFC canonical composition",
      exprs => graft.functions.NormalizeNFC(exprs.head)))
    e.injectFunction(fn("array_int_dot",
      "array_int_dot(a, b) - integer dot product of two int arrays as LONG",
      exprs => graft.functions.ArrayIntDot(exprs.head, exprs(1))))
    // generator (UDTF surface): SELECT shingle_rows(tokens, 3) yields
    // one row per distinct shingle, no intermediate array value
    e.injectFunction(fn("shingle_rows",
      "shingle_rows(tokens, n) - one row per distinct contiguous n-token shingle",
      exprs => graft.functions.ShingleRows(exprs.head,
        graft.functions.Fns.intLiteral(exprs(1)))))
  }
}

object GraftExtensions {
  /** Codegen cache size: the measured working sets (about 150 classes
    * per curation chain, 170 per word-count and relational round) with
    * headroom for a JVM that runs several workloads.
    */
  val CodegenCacheEntries = 1000

  /** Sets the engine's defaults on `conf`; values already set are kept. */
  def withEngineDefaults(conf: SparkConf): SparkConf =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      CodegenCacheEntries.toString)
}
