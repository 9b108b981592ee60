package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over a near-duplicate pair graph — the step that
  * turns dedup PAIRS into dedup GROUPS (one representative document kept
  * per group, everything else dropped), which is what a training-data
  * pipeline actually executes: near-dup relations are not transitive, so
  * without the closure a chain a~b~c dedups to two "groups" {a,b},{b,c}
  * that both survive a pairwise keep-one rule.
  *
  * Every component is labelled with its minimum node id. Labels live only
  * on nodes that appear in a pair (the near-dup subgraph — at 100 TB that
  * is orders of magnitude smaller than the corpus); singletons join back
  * in [[dedupGroups]] with group_id = own id.
  *
  * [[componentLabels]] cuts the pair frame once with
  * [[Materialize.cutCounted]]: pair generation (LSH + verify) runs exactly
  * once, and the cut's own job counts the edges. The count picks the path,
  * the way AQE turns a join into a broadcast join:
  *
  *  - Driver path, when the graph fits `spark.sql.autoBroadcastJoinThreshold`:
  *    the edge rows plus the label relation (at most 2 rows per edge), at
  *    Spark's 24-byte estimate per (long, long) row, i.e. 72 bytes per
  *    edge. The pairs are collected, union-find (union by min root, path
  *    compression) labels every node on the driver, and the labels return
  *    as a local relation, so the join in [[dedupGroups]] is a broadcast.
  *    No distributed rounds. The threshold bounds driver memory: the
  *    collected rows and the union-find map cost a few times their
  *    estimate, about 50 MB at the 10 MB default (~145k edges).
  *  - Round path, for larger graphs or a threshold of -1: min-label
  *    propagation with pointer jumping. Each round every node takes the
  *    min label among itself and its neighbors (one edges-to-labels
  *    shuffle join + groupBy min), then label-of-label compression halves
  *    the remaining chain length, giving O(log diameter) rounds. The edge
  *    frame and each round's label frame are cut, so lineage stays one
  *    round deep.
  *
  * Both paths reach the same fixpoint. `maxIter` bounds only the rounds;
  * the driver path always converges.
  */
object ConnectedComponents {

  /** Spark's size estimate for one (long, long) row: an 8-byte null
    * bitset plus two 8-byte fields.
    */
  private val RowBytes = 24L

  /** Component label (min node id in component) for every node that
    * appears in `pairs` (columns id_a, id_b). Output: (id, label).
    */
  def componentLabels(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val (cut, n) = Materialize.cutCounted(pairs.select(
      col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")))
    val threshold = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // n edge rows plus at most 2n label rows
    if (3 * n * RowBytes <= threshold) driverLabels(cut)
    else roundLabels(cut, maxIter)
  }

  /** Union-find over the collected pairs; every root is its set's minimum
    * id. A null endpoint is not a node.
    */
  private def driverLabels(cut: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var v = x
      while (v != root) { val next = parent(v); parent(v) = root; v = next }
      root
    }
    cut.collect().foreach { r =>
      val roots = (0 to 1).filterNot(r.isNullAt).map(i => find(r.getLong(i)))
      if (roots.size == 2 && roots(0) != roots(1)) parent(roots.max) = roots.min
    }
    val labels = parent.keys.toSeq.map(id => Row(id, find(id)))
    cut.sparkSession.createDataFrame(labels.asJava,
      StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
  }

  /** Distributed min-label propagation with pointer jumping. */
  private def roundLabels(cut: DataFrame, maxIter: Int): DataFrame = {
    val edges = cut.select(col("a").as("s"), col("b").as("d"))
      .union(cut.select(col("b").as("s"), col("a").as("d")))
      // pre-partitioned on the per-round join key (localCheckpoint keeps
      // the physical partitioning), so each round's neighbor-min join
      // shuffles only the label frame
      .repartition(col("d"))
      .transform(Materialize.cut(_))
    // the label init is round 0's neighbor-min applied to identity labels:
    // one exchange, like a distinct(), and a clique converges on its first
    // check
    var labels = edges.groupBy(col("s"))
      .agg(least(col("s"), min(col("d"))).as("label"))
      .select(col("s").as("id"), col("label"))
      .transform(Materialize.cut(_))
    // `improving` counts only rounds that changed a label; the final
    // confirming round (no changes) is always allowed on top of maxIter,
    // so a graph that stabilizes exactly on its maxIter-th improving
    // round is certified rather than spuriously rejected
    var improving = 0
    var converged = false
    while (improving <= maxIter && !converged) {
      // neighbor min: for each node s, the smallest label among N(s). A
      // fused single-join round (self-loop edges) measured slower, since
      // near-dup graphs converge in 1-2 rounds; the three-join round stays.
      val nm = edges
        .join(labels.select(col("id").as("d"), col("label").as("dl")), "d")
        .groupBy(col("s").as("id")).agg(min("dl").as("nmin"))
      val prop = labels.join(nm, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("mid"))
      // pointer jump: follow the new label one hop (label(label(v)))
      val next = prop
        .join(labels.select(col("id").as("mid"), col("label").as("midl")), "mid")
        .select(col("id"), col("old"), least(col("mid"), col("midl")).as("label"))
        .transform(Materialize.cut(_))
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      if (!converged) improving += 1
    }
    require(converged,
      s"connected components did not converge within $maxIter improving " +
        "rounds — raise maxIter (improving rounds needed ~ log2 of the " +
        "longest near-dup chain; the confirming round is not counted)")
    labels
  }

  /** Dedup-group assignment for EVERY document: group_id = min doc id of
    * its near-dup component (own id for singletons), is_rep marks the one
    * row per group a keep-one dedup retains.
    */
  def dedupGroups(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val labels = componentLabels(pairs, maxIter)
      .select(col("id").as(idCol), col("label"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol).as("doc_id"),
        coalesce(col("label"), col(idCol)).as("group_id"))
      .withColumn("is_rep", col("doc_id") === col("group_id"))
  }

  /** Canonical-document selection — the KEEP POLICY a pipeline runs after
    * grouping: [[dedupGroups]] marks min-id representatives, but real
    * dedup keeps the BEST copy of each group, not the lowest-numbered one
    * (near-dup copies differ — truncation, boilerplate injection — and
    * dropping the complete copy for an id accident throws data away).
    * Picks argmax(`qualityCol`) per group, ties to min id, via the
    * TopKPerGroup physical operator (k=1 streamed partials — no
    * WindowExec sort-and-buffer; the group frame is near-dup-subgraph
    * sized plus singletons, and the topK partial bounds per-task state
    * at one row per group per partition).
    *
    * Output: one row per document — (doc_id, group_id, quality,
    * is_canonical); a keep-one dedup retains the is_canonical rows.
    */
  def canonicalDocs(docs: DataFrame, idCol: String, pairs: DataFrame,
      qualityCol: String, maxIter: Int = 20): DataFrame = {
    val scored = docs.select(col(idCol).cast("long").as("doc_id"),
      col(qualityCol).as("quality"))
    val grouped = dedupGroups(docs, idCol, pairs, maxIter)
      .join(scored, Seq("doc_id"))
    val canon = graft.plans.TopKPerGroup.topK(grouped, Seq("group_id"),
        Seq(col("quality").desc, col("doc_id").asc), 1)
      .select(col("group_id"), col("doc_id").as("canon_id"))
    grouped.join(canon, Seq("group_id"))
      .select(col("doc_id"), col("group_id"), col("quality"),
        (col("doc_id") === col("canon_id")).as("is_canonical"))
  }
}
