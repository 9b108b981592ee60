package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine: hash fingerprints, vector
  * math over `array<float>` embeddings, tokenization/shingling. Everything
  * here composes built-in (codegen'd) functions or the native expressions
  * in HashExprs — no Scala UDFs in any hot path.
  */
object Fns {

  /** Evaluate a literal argument to Int, covering integral, floating and
    * DecimalType literals (Spark's Decimal does not extend j.l.Number).
    */
  private[graft] def intLiteral(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toInt
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"expected a numeric literal, got: $other")
    }

  import org.apache.spark.sql.graftshim.Bridge.{toCol, toExpr}

  def rollingHash31(c: Column): Column = toCol(RollingHash31(toExpr(c)))
  def fnv1a32(c: Column): Column = toCol(Fnv1a32(toExpr(c)))

  /** Morton key over the low 16 bits of two dimensions (see ZOrderKey). */
  def zorderKey(x: Column, y: Column): Column =
    toCol(ZOrderKey(toExpr(x.cast("long")), toExpr(y.cast("long"))))

  /** Unicode NFC canonical composition (see NormalizeNFC). */
  def normalizeNfc(c: Column): Column = toCol(NormalizeNFC(toExpr(c)))

  // --- vector math (all double-precision, index-ordered folds so the
  //     DuckDB oracle computes bit-identical sums) ---

  /** Dot product of two array<float/double> columns in double precision. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Native one-pass cosine (see ArrayCosine). */
  def cosineSimilarity(a: Column, b: Column): Column =
    toCol(ArrayCosine(toExpr(a), toExpr(b)))

  /** Native integer dot product of two int arrays (see ArrayIntDot). */
  def arrayIntDot(a: Column, b: Column): Column =
    toCol(ArrayIntDot(toExpr(a), toExpr(b)))

  /** Native one-pass squared euclidean distance of two array<double>
    * columns (see SqDist) — bit-identical replacement for the
    * zip_with/aggregate lambda fold.
    */
  def sqDist(a: Column, b: Column): Column =
    toCol(SqDist(toExpr(a), toExpr(b)))

  /** All k squared distances of an array<double> column against a
    * plan-time centroid matrix, optionally 6dp-rounded per element
    * (see SqDistToAll).
    */
  def sqDistToAll(v: Column, cents: Seq[Array[Double]],
      round6: Boolean): Column =
    toCol(SqDistToAll(toExpr(v), cents.map(_.toSeq), round6))

  /** All k MinHash values of a shingle array (see MinHashSigs). */
  def minhashSigs(sh: Column, k: Int): Column =
    toCol(MinHashSigs(toExpr(sh), k))

  /** All `tables` sign-LSH buckets of an embedding (see SignProjections). */
  def signProjections(emb: Column, planes: Int, tables: Int, dims: Int): Column =
    toCol(SignProjections(toExpr(emb), planes, tables, dims))

  /** HOF-composed cosine — independent cross-check in tests. */
  def cosineSimilarityHof(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  // --- text ---

  /** Whitespace tokens (documents.text is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Mean token length at 6dp in pure string arithmetic — for a
    * single-space split, sum(token lengths) = length − #spaces and
    * #tokens = #spaces + 1 (split("") = [""], so the identities hold on
    * empty text): exactly the integers split+aggregate would produce,
    * with no token-array materialization. ONE definition shared by the
    * p86/p91 scorers and their debug tools — the equivalence argument
    * lives here, not in three copies.
    */
  def meanTokenLen6dp(text: Column): Column = {
    val spaces = length(text) - length(translate(text, " ", ""))
    round((length(text) - spaces).cast("double") / (spaces + lit(1)), 6)
  }

  /** Distinct n-gram shingles of a token array: contiguous n-token
    * windows joined by spaces. Empty array when fewer than n tokens.
    * Native single-pass expression (see ShingleArray).
    */
  def shingles(toks: Column, n: Int): Column =
    toCol(ShingleArray(toExpr(toks), n))

  /** Generator form of [[shingles]] — one row per distinct shingle, no
    * intermediate array (see ShingleRows). Same rows, same order as
    * `explode(shingles(toks, n))`.
    */
  def shingleRows(toks: Column, n: Int): Column =
    toCol(ShingleRows(toExpr(toks), n))

  /** WordPiece subword pieces as generator rows (tok_idx, piece_idx,
    * piece) — greedy longest-match over a plan-literal vocab (see
    * WordPieceRows). Not SQL-registered: the vocab is a Scala Seq, not a
    * literal an expression parser can carry.
    */
  def wordpieceRows(toks: Column, vocab: Seq[String],
      maxInputChars: Int): Column =
    toCol(WordPieceRows(toExpr(toks), vocab, maxInputChars))

  /** [[wordpieceRows]] with the vocab shipped as a Spark broadcast — one
    * copy per executor instead of one per task closure; the transport for
    * realistic (30k-piece) vocabularies. Validates the vocab driver-side
    * before broadcasting (the executor-side expression cannot).
    */
  def wordpieceRowsBroadcast(spark: org.apache.spark.sql.SparkSession,
      toks: Column, vocab: Seq[String], maxInputChars: Int): Column = {
    WordPieceCore.requireValid(vocab, maxInputChars)
    toCol(WordPieceRowsBc(toExpr(toks),
      spark.sparkContext.broadcast(vocab.toArray), maxInputChars))
  }

  /** BPE-encoded subword pieces as generator rows (tok_idx, piece_idx,
    * piece) — the learned merge table applied sequentially in rank
    * order (see BpeEncodeRows). Merge table as a plan literal; use the
    * broadcast form for realistic table sizes.
    */
  def bpeEncodeRows(toks: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeEncodeRows(toExpr(toks), merges))

  /** [[bpeEncodeRows]] with the merge table shipped as a Spark
    * broadcast — one copy per executor; validated driver-side.
    */
  def bpeEncodeRowsBroadcast(spark: org.apache.spark.sql.SparkSession,
      toks: Column, merges: Seq[(String, String)]): Column = {
    BpeEncodeCore.requireValid(merges)
    toCol(BpeEncodeRowsBc(toExpr(toks),
      spark.sparkContext.broadcast(merges.toArray)))
  }

  /** The document's BPE pieces as ONE array<string> (the generator's
    * row stream, flattened per row) — the transport for aggregate
    * consumers: size()/array_distinct() compute per-document piece
    * numbers with NO piece rows and NO shuffle (see BpeEncodeArray).
    */
  def bpeEncodeArray(toks: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeEncodeArray(toExpr(toks), merges))

  /** [[bpeEncodeArray]] with the merge table shipped as a Spark
    * broadcast — one copy per executor; validated driver-side.
    */
  def bpeEncodeArrayBroadcast(spark: org.apache.spark.sql.SparkSession,
      toks: Column, merges: Seq[(String, String)]): Column = {
    BpeEncodeCore.requireValid(merges)
    toCol(BpeEncodeArrayBc(toExpr(toks),
      spark.sparkContext.broadcast(merges.toArray)))
  }

  /** HOF-composed formulation of [[shingles]] — kept as the independent
    * cross-check in tests (interpreted lambdas; ~10× slower).
    */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
}
