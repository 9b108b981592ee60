package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Tables

/** The storage-layout queries (q86–q91), factored into BUILD → READ
  * pairs: each `qNN(spark, dir)` builds (or rebuilds) the table at its
  * fixed /tmp sink and returns the READ as a thunk.
  *
  * Two consumers share these so they cannot drift apart:
  *   - the QueryDefs in [[PipelineLatest]] run build + read every time
  *     (the correctness contract: one self-contained oracle-checked
  *     query per operator);
  *   - [[graft.Bench]] builds ONCE per process and times the read
  *     min-of-3, reporting `{build_s, read_s}` per query — the r10/r11
  *     bench totals mixed table-rebuild time into every timed run,
  *     which buried the pruned-read signal (the repo's actual 100 TB
  *     argument: at scale you write once and read many; read latency
  *     is the number that must stay flat round-over-round).
  */
object StorageLayout {

  private val Fmt = "graft.sources.ManifestTable"

  private def sink(tag: String, dir: String): String =
    s"/tmp/graft_${tag}_sink/" + java.lang.Integer.toHexString(dir.hashCode)

  /** q86: overwrite a per-segment rollup (version N), append poison rows
    * (N+1), read `versionAsOf` N — a pinned snapshot must see exactly
    * the pre-append table.
    */
  def q86TimeTravel(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q86", dir)
    val rollup = Tables.t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum("c_custkey").as("sum_key"),
        min("c_acctbal").as("min_bal"))
    rollup.repartition(2).write.format(Fmt)
      .option("path", path).mode("overwrite").save()
    val v = graft.sources.ManifestTable.readManifest(path).get.version
    // poison append: same schema, values that would change every column
    s.range(1).select(lit("POISON").as("c_mktsegment"),
        lit(-1L).as("n_cust"), lit(-1L).as("sum_key"),
        lit(-1e9).as("min_bal"))
      .write.format(Fmt).option("path", path).mode("append").save()
    () => s.read.format(Fmt).option("path", path)
      .option("versionAsOf", v).load()
      .orderBy("c_mktsegment")
  }

  /** q87: month-partitioned fact + selectively-filtered dim → Spark
    * injects a runtime partition-pruning subquery into the fact scan.
    */
  /** q87's fact-table sink for `dir` — shared with DbgQ87 so the
    * decomposition tool can never drift onto a stale path.
    */
  def q87FactPath(dir: String): String = "/tmp/graft_q87_fact/" +
    java.lang.Integer.toHexString(dir.hashCode)

  /** q87's dim leg (the DPP driver) — also the tool-shared piece. */
  def q87Dim(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .filter(month(col("o_orderdate")) === 1)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()

  /** q87's static-fact floor: the pruned month partitions aggregated
    * with the months as plan literals — what a clairvoyant reader
    * would pay, with zero DPP machinery. Shared by Bench's `q87_legs`
    * artifact field and the DbgQ87 tool so the two can never measure
    * different expressions.
    */
  def q87FactStatic(s: SparkSession, dir: String,
      months: Seq[String]): DataFrame =
    s.read.parquet(q87FactPath(dir))
      .filter(col("ship_month").isin(months: _*))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("ship_month")

  def q87Dpp(s: SparkSession, dir: String): () => DataFrame = {
    val path = q87FactPath(dir)
    Tables.t(s, dir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      // round-18: project the fact down to the columns the query reads
      // (guide §2.3, project before the exchange) — the build was
      // shuffling and writing all 16 lineitem columns for a read whose
      // ReadSchema is (ship_month, l_quantity). At sf0.1 the build wall
      // is dominated by the 83 partition-dir commits so the local win
      // is small (A/B ~parity on min), but the shuffled+written bytes
      // drop ~8x — the term that matters at fact-table scale. Layout,
      // DPP behavior and results are unchanged (DppSpec pins the
      // pruning, the oracle the values).
      .select(col("ship_month"), col("l_quantity"))
      // one file per month partition (ClusteredWrite's file-sizing
      // discipline): without this, tasks × months tiny files dominate
      // both the write and every subsequent listing
      .repartition(col("ship_month"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(path)
    () => {
      val fact = s.read.parquet(path)
      val dim = q87Dim(s, dir)
      fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("ship_month")
    }
  }

  /** The q88/q94 update set: whole-row updates for every 10th key plus
    * three inserts beyond the key range.
    */
  private def mergeUpdates(s: SparkSession,
      cust: DataFrame): DataFrame = {
    import s.implicits._
    cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        concat(lit("upd-"), col("c_name")).as("c_name"),
        col("c_nationkey"),
        (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
        col("c_mktsegment"))
      .unionByName((0 until 3).map(i =>
          (1000000000L + i, s"new-$i", i, 0.0, "MACHINERY"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("int").as("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment")))
  }

  /** q88: key-clustered customer + copy-on-write MERGE (sparse updates +
    * inserts); the build INCLUDES the merge — the read is the
    * manifest-committed post-merge scan.
    */
  def q88CowMerge(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q88", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    graft.sources.CowOps.merge(s, path, mergeUpdates(s, cust), "c_custkey")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q89: same layout + copy-on-write DELETE of every 7th key; read =
    * post-delete scan, which must equal the plain anti-join.
    */
  def q89CowDelete(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q89", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    graft.sources.CowOps.delete(s, path,
      cust.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
      "c_custkey")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q90: hash-scattered layout (zone maps prune nothing by
    * construction) + per-file key blooms; the read is an IN point
    * lookup that may open only bloom-positive files.
    */
  def q90BloomSkip(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q90", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    Tables.t(s, dir, "customer")
      .repartition(8, col("c_custkey"))
      .write.format(Fmt)
      .option("path", path).option("bloomColumns", "c_custkey")
      .mode("append").save()
    () => s.read.format(Fmt).option("path", path).load()
      .filter(col("c_custkey").isin(1L, 7L, 500L, 1203L))
      .orderBy("c_custkey")
  }

  /** q91: one table carrying every skipping structure (range clustering
    * → zone maps on the key, blooms on the string + customer columns);
    * the read combines a range predicate with a bloom-only equality.
    */
  def q91LayoutCapstone(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q91", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.format(Fmt).option("path", path)
      .option("bloomColumns", "o_orderpriority,o_custkey")
      .mode("append").save()
    // scale-relative predicate literals (key spaces grow with sf):
    // range = [max/100, max/10), customer = owner of the first
    // in-range order — collected once, pushed as literals (the
    // plan-literal move), mirrored as scalar subqueries in SQL
    val orders = Tables.t(s, dir, "orders")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val (kLo, kHi) = (mx / 100, mx / 10)
    val cust = orders.filter(col("o_orderkey") >= kLo)
      .orderBy("o_orderkey").limit(1)
      .select("o_custkey").head().getLong(0)
    () => s.read.format(Fmt).option("path", path).load()
      .filter(col("o_orderkey") >= kLo && col("o_orderkey") < kHi &&
        col("o_custkey") === cust)
      .orderBy("o_orderkey")
  }

  /** q92: same key-clustered layout and delete set as q89, but
    * MERGE-ON-READ — the delete writes position deletion-vector
    * sidecars and rewrites ZERO data files (CowSpec pins
    * filesRewritten == 0); the read path skips the marked rows and must
    * equal the plain anti-join. Read cost carries the binary-search
    * merge until compaction materializes it away — the deliberate MOR
    * trade.
    */
  def q92MorDelete(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q92", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    graft.sources.CowOps.deleteMor(s, path,
      cust.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
      "c_custkey")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q93: schema evolution across manifest versions — v1 lands a
    * two-column slice (even keys), v2 appends an evolved three-column
    * slice (odd keys, + c_acctbal); the LIVE read projects the union
    * schema with nulls for the pre-evolution rows. Each version's
    * snapshot keeps its OWN schema for time travel
    * (ManifestTableSpec pins both directions).
    */
  def q93SchemaEvolution(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q93", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"))
      .write.format(Fmt).option("path", path).mode("append").save()
    cust.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .write.format(Fmt).option("path", path).mode("append").save()
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q94: change data feed across a COW-merge hop — the manifest-diff
    * CDF ([[graft.sources.ManifestTable.changeFeed]]): updated rows
    * surface as delete+insert pairs, fresh inserts as inserts, unchanged
    * rows (even inside rewritten files) cancel in the symmetric
    * difference. The read is the feed itself.
    */
  def q94ChangeFeed(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q94", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    val v0 = graft.sources.ManifestTable.readManifest(path).get.version
    graft.sources.CowOps.merge(s, path, mergeUpdates(s, cust), "c_custkey")
    val v1 = graft.sources.ManifestTable.readManifest(path).get.version
    () => graft.sources.ManifestTable.changeFeed(s, path, v0, v1)
      .orderBy("_change_type", "c_custkey")
  }

  /** q96: q88's upsert as MERGE-ON-READ — old versions of updated keys
    * are deletion-vectored, update rows land as new files, zero
    * existing data files rewritten; the read must equal q88's (and the
    * plain SQL merge, via the shared oracle).
    */
  def q96MorMerge(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q96", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    graft.sources.CowOps.mergeMor(s, path, mergeUpdates(s, cust), "c_custkey")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q95: the streaming read certified against a BATCH oracle — the
    * customer table lands in three appends (three manifest versions), a
    * micro-batch stream tails it through the exactly-once streaming
    * write into a second table, and the destination must equal the
    * plain table: stream-vs-batch equivalence, hash-checked by DuckDB.
    */
  def q95StreamTail(s: SparkSession, dir: String): () => DataFrame = {
    val src = sink("q95src", dir)
    val dst = sink("q95dst", dir)
    val cp = sink("q95cp", dir)
    graft.sources.FsMeta.deleteRecursive(src)
    graft.sources.FsMeta.deleteRecursive(dst)
    graft.sources.FsMeta.deleteRecursive(cp)
    val cust = Tables.t(s, dir, "customer")
    // three appends = three manifest versions to tail
    Seq(0, 1, 2).foreach { r =>
      cust.filter(pmod(col("c_custkey"), lit(3)) === r)
        .write.format(Fmt).option("path", src).mode("append").save()
    }
    val q = s.readStream.format(Fmt).option("path", src).load()
      .writeStream.format(Fmt).option("path", dst)
      .option("checkpointLocation", cp)
      .start()
    try q.processAllAvailable() finally q.stop()
    () => s.read.format(Fmt).option("path", dst).load()
      .orderBy("c_custkey")
  }

  /** q97: the lakehouse loop closed — a materialized per-segment
    * aggregate maintained through a COW-merge hop using ONLY the change
    * feed (never rescanning the base table), in exact integer algebra
    * (acctbal as cents), so the maintained view is BIT-EQUAL to the
    * recompute the oracle performs. The view's base state comes from
    * time travel at the pre-merge version — the feed and the snapshot
    * are the same manifest machinery.
    *
    * The REFRESH runs at build time and lands in a stored table (the
    * true materialized-view shape: refresh writes once, readers scan) —
    * before round 16 the read closure re-executed the whole
    * time-travel + feed + exceptAll/union refresh plan on every read,
    * the storage group's most stage-heavy read and its one creeping
    * number (0.52 → 0.73 s across driver artifacts). Steady state is
    * now a plain pruned scan of the group-cardinality-sized view.
    */
  def q97IncrementalView(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q97", dir)
    val mv = sink("q97mv", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    graft.sources.FsMeta.deleteRecursive(mv)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    val v0 = graft.sources.ManifestTable.readManifest(path).get.version
    graft.sources.CowOps.merge(s, path, mergeUpdates(s, cust), "c_custkey")
    val v1 = graft.sources.ManifestTable.readManifest(path).get.version
    def cents = round(col("c_acctbal") * 100).cast("long")
    val agg0 = s.read.format(Fmt).option("path", path)
      .option("versionAsOf", v0).load()
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum(cents).as("sum_cents"))
    val feed = graft.sources.ManifestTable.changeFeed(s, path, v0, v1)
      .withColumn("cents", cents)
    graft.operators.IncrementalAgg.applyFeedDelta(agg0, feed,
        "c_mktsegment", "cents", "n_cust", "sum_cents")
      .coalesce(1)
      .write.format(Fmt).option("path", mv).mode("append").save()
    () => s.read.format(Fmt).option("path", mv).load()
      .orderBy("c_mktsegment")
  }

  /** q98: STORAGE-PARTITIONED JOIN — customer and supplier both land
    * partitioned on their nation key (`partitionColumn` write: declared
    * clustered distribution, single-valued files, `#part:` keys), so
    * the join AND the grouped aggregate ride the reported
    * KeyGroupedPartitioning with zero shuffle exchanges
    * (PartitionedTableSpec pins the exchange-free plan; at this SF the
    * planner may broadcast the smaller side instead — also shuffle-free,
    * and exactly the adaptivity wanted). The oracle recomputes the join
    * from the plain tables.
    */
  def q98PartitionedJoin(s: SparkSession, dir: String): () => DataFrame = {
    val pa = sink("q98a", dir)
    val pb = sink("q98b", dir)
    graft.sources.FsMeta.deleteRecursive(pa)
    graft.sources.FsMeta.deleteRecursive(pb)
    Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nk"))
      .write.format(Fmt).option("path", pa)
      .option("partitionColumn", "nk").mode("append").save()
    Tables.t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nk"))
      .write.format(Fmt).option("path", pb)
      .option("partitionColumn", "nk").mode("append").save()
    () => s.read.format(Fmt).option("path", pa).load()
      .join(s.read.format(Fmt).option("path", pb).load(), "nk")
      .groupBy("nk")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c_custkey") + col("s_suppkey")).as("key_sum"))
      .orderBy("nk")
  }

  /** q99: WRITE-AUDIT-PUBLISH — inserts are staged on a zero-copy
    * BRANCH (second pointer/snapshot namespace over the same data
    * directory), audited there while main readers still see the base
    * table (both facts asserted in-build: a failed audit fails the
    * query), then atomically published via fastForward — which would
    * REFUSE had any foreign main commit landed since the fork
    * (BranchSpec pins the conflict path). The read is main after
    * publish; the oracle is the plain union.
    */
  def q99WapPublish(s: SparkSession, dir: String): () => DataFrame = {
    import s.implicits._
    val path = sink("q99", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartition(4)
      .write.format(Fmt).option("path", path).mode("append").save()
    val base = s.read.format(Fmt).option("path", path).load().count()
    graft.sources.ManifestTable.createBranch(path, "audit")
    (0 until 3).map(i => (1000000000L + i, s"new-$i", i, 0.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .write.format(Fmt).option("path", path)
      .option("branch", "audit").mode("append").save()
    // the AUDIT: staged rows visible on the branch, invisible on main
    require(s.read.format(Fmt).option("path", path)
      .option("branch", "audit").load().count() == base + 3,
      "branch must see the staged rows")
    require(s.read.format(Fmt).option("path", path).load().count() == base,
      "main must not see unpublished rows")
    graft.sources.ManifestTable.fastForward(path, "audit")
    graft.sources.ManifestTable.dropBranch(path, "audit")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q100: WAP capstone — q88's COW MERGE staged on a BRANCH, audited
    * row-level via branchDiff (in-build requires: the diff's
    * insert/delete counts match the merge's update/insert set and main
    * still reads the base table), then atomically published. The read
    * shares q88's oracle VERBATIM: a merge through write-audit-publish
    * must be indistinguishable from a direct merge.
    */
  def q100WapMerge(s: SparkSession, dir: String): () => DataFrame = {
    val path = sink("q100", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    val cust = Tables.t(s, dir, "customer")
    cust.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.format(Fmt).option("path", path).mode("append").save()
    val nBase = cust.count()
    graft.sources.ManifestTable.createBranch(path, "audit")
    graft.sources.CowOps.merge(s, path, mergeUpdates(s, cust), "c_custkey",
      branch = "audit")
    // the AUDIT: updates surface as delete+insert pairs, fresh inserts
    // as inserts; main is untouched until publish
    val byType = graft.sources.ManifestTable.branchDiff(s, path, "audit")
      .groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = nBase / 10 // every 10th key updates; 3 inserts beyond
    require(byType.getOrElse("insert", 0L) == nUpd + 3 &&
      byType.getOrElse("delete", 0L) == nUpd,
      s"audit diff mismatch: $byType (expected ${nUpd + 3} inserts, " +
        s"$nUpd deletes)")
    require(s.read.format(Fmt).option("path", path).load()
      .count() == nBase, "main must still read the base table pre-publish")
    graft.sources.ManifestTable.fastForward(path, "audit")
    graft.sources.ManifestTable.dropBranch(path, "audit")
    () => s.read.format(Fmt).option("path", path).load()
      .orderBy("c_custkey")
  }

  /** q101: the SQL catalog end-to-end — CREATE TABLE ... PARTITIONED BY,
    * INSERT INTO (auto-partitioned write path), a METADATA-ONLY
    * DELETE WHERE on the partition column (in-build requires pin zero
    * rewrites + dropped files + the pre-delete VERSION AS OF count),
    * and the read is plain SQL against the catalog table. The oracle
    * is the anti-filtered base table: the whole DDL/DML loop must be
    * invisible in the rows.
    */
  def q101CatalogSql(s: SparkSession, dir: String): () => DataFrame = {
    import s.implicits._
    val wh = sink("q101", dir)
    graft.sources.FsMeta.deleteRecursive(wh)
    val cat = "gq101_" + java.lang.Integer.toHexString(dir.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"""CREATE TABLE $cat.cust (
             |  c_custkey BIGINT, c_name STRING, c_nationkey INT,
             |  c_acctbal DOUBLE, c_mktsegment STRING)
             |PARTITIONED BY (c_mktsegment)""".stripMargin)
    Tables.t(s, dir, "customer").createOrReplaceTempView("q101_src")
    s.sql(s"""INSERT INTO $cat.cust
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             |  c_mktsegment FROM q101_src""".stripMargin)
    val base = s.sql(s"SELECT count(*) FROM $cat.cust").as[Long].head()
    val v = graft.sources.ManifestTable.readManifest(s"$wh/cust")
      .get.version
    s.sql(s"DELETE FROM $cat.cust WHERE c_mktsegment = 'BUILDING'")
    val st = graft.sources.GTabDelete.lastStats
    require(st.filesRewritten == 0 && st.filesDropped > 0,
      s"partition-column DELETE must be metadata-only, got $st")
    require(s.sql(s"SELECT count(*) FROM $cat.cust VERSION AS OF $v")
      .as[Long].head() == base,
      "time travel must still see the pre-delete table")
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** Shared catalog bootstrap for the SQL-DML queries: a per-(tag, dir)
    * GraftCatalog over a /tmp warehouse with the customer table loaded
    * through INSERT INTO. Returns (catalog name, table dir).
    */
  private def catalogWithCustomer(s: SparkSession, dir: String,
      tag: String): (String, String) = {
    val wh = sink(tag, dir)
    graft.sources.FsMeta.deleteRecursive(wh)
    val cat = s"g${tag}_" + java.lang.Integer.toHexString(dir.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"""CREATE TABLE $cat.cust (
             |  c_custkey BIGINT, c_name STRING, c_nationkey INT,
             |  c_acctbal DOUBLE, c_mktsegment STRING)""".stripMargin)
    Tables.t(s, dir, "customer")
      .createOrReplaceTempView(s"${tag}_src")
    s.sql(s"""INSERT INTO $cat.cust
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             |  c_mktsegment FROM ${tag}_src""".stripMargin)
    (cat, s"$wh/cust")
  }

  /** q102: SQL `MERGE INTO` — q88's upsert driven entirely through the
    * catalog's SupportsRowLevelOperations surface (group-based COW
    * rewrite: Spark's runtime group filtering + the connector's zone
    * maps localize the rewrite, the replace commit swaps exactly the
    * scanned files). Shares q88's oracle VERBATIM: a merge through SQL
    * must be indistinguishable from the Scala CowOps merge.
    */
  def q102SqlMerge(s: SparkSession, dir: String): () => DataFrame = {
    val (cat, tdir) = catalogWithCustomer(s, dir, "q102")
    mergeUpdates(s, Tables.t(s, dir, "customer"))
      .createOrReplaceTempView("q102_upd")
    val v0 = graft.sources.ManifestTable.readManifest(tdir).get.version
    s.sql(s"""MERGE INTO $cat.cust t USING q102_upd u
             |ON t.c_custkey = u.c_custkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the merge is a versioned replace commit: time travel still reads
    // the pre-merge table (in-build pin, same as q101's)
    require(s.sql(s"SELECT count(*) FROM $cat.cust VERSION AS OF $v0")
        .head().getLong(0) ==
      s.sql(s"SELECT count(*) FROM $cat.cust").head().getLong(0) - 3,
      "pre-merge snapshot must exclude exactly the 3 inserts")
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** q103: SQL `UPDATE` — expression assignments over a predicate,
    * through the same group-based COW rewrite. The oracle recomputes
    * the update as a CASE projection over the base table.
    */
  def q103SqlUpdate(s: SparkSession, dir: String): () => DataFrame = {
    val (cat, _) = catalogWithCustomer(s, dir, "q103")
    s.sql(s"""UPDATE $cat.cust
             |SET c_acctbal = c_acctbal + 100.0,
             |    c_name = concat('upd-', c_name)
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** q104: atomic CTAS — `CREATE TABLE ... PARTITIONED BY ... AS
    * SELECT` through the StagingTableCatalog path (the table appears
    * only at the atomic publish; a failed select leaves nothing —
    * CtasSpec pins the failure side). The read is a partition-pruned
    * scan of the created table; the oracle recomputes from the base
    * table, so the staged write must be value-invisible.
    */
  def q104Ctas(s: SparkSession, dir: String): () => DataFrame = {
    val wh = sink("q104", dir)
    graft.sources.FsMeta.deleteRecursive(wh)
    val cat = "gq104_" + java.lang.Integer.toHexString(dir.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    Tables.t(s, dir, "customer").createOrReplaceTempView("q104_src")
    s.sql(s"""CREATE TABLE $cat.cust PARTITIONED BY (c_mktsegment)
             |AS SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             |  c_mktsegment FROM q104_src""".stripMargin)
    // the staged write rode the declared partitioned layout
    val m = graft.sources.ManifestTable.readManifest(s"$wh/cust").get
    require(graft.sources.ManifestTable.partitionColumnsOf(m) ==
      Seq("c_mktsegment"), "CTAS must land partitioned")
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |WHERE c_mktsegment = 'BUILDING'
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** q105: TIMESTAMP AS OF time travel — q86's pinned-snapshot contract
    * driven by WALL CLOCK instead of version number: the rollup lands,
    * a timestamp is captured, poison rows append after it, and the read
    * pins `.option("timestampAsOf", t)` (epoch ms → latest version
    * committed at or before t). Shares q86's oracle shape: the pinned
    * read must see exactly the pre-poison table.
    */
  def q105TimestampTravel(s: SparkSession, dir: String)
      : () => DataFrame = {
    val path = sink("q105", dir)
    graft.sources.FsMeta.deleteRecursive(path)
    Tables.t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum("c_custkey").as("sum_key"),
        min("c_acctbal").as("min_bal"))
      .repartition(2).write.format(Fmt)
      .option("path", path).mode("overwrite").save()
    Thread.sleep(5)
    val t = System.currentTimeMillis()
    Thread.sleep(5)
    s.range(1).select(lit("POISON").as("c_mktsegment"),
        lit(-1L).as("n_cust"), lit(-1L).as("sum_key"),
        lit(-1e9).as("min_bal"))
      .write.format(Fmt).option("path", path).mode("append").save()
    () => s.read.format(Fmt).option("path", path)
      .option("timestampAsOf", t).load()
      .orderBy("c_mktsegment")
  }

  /** q106: q91's layout capstone through ONE SQL statement — `CREATE
    * TABLE ... TBLPROPERTIES('bloomColumns'=...) AS SELECT` with a
    * REPARTITION_BY_RANGE hint + SORT BY supplying the range clustering,
    * so the whole skipping stack (zone maps from the clustered layout,
    * blooms from the declared property) is reachable without a line of
    * Scala. The read re-runs q91's combined range + bloom-equality
    * predicate against the SQL-created table; the oracle is q91's
    * verbatim.
    */
  def q106CtasCapstone(s: SparkSession, dir: String): () => DataFrame = {
    val wh = sink("q106", dir)
    graft.sources.FsMeta.deleteRecursive(wh)
    val cat = "gq106_" + java.lang.Integer.toHexString(dir.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    Tables.t(s, dir, "orders").createOrReplaceTempView("q106_src")
    s.sql(s"""CREATE TABLE $cat.ord
             |TBLPROPERTIES('bloomColumns'='o_orderpriority,o_custkey')
             |AS SELECT * FROM (
             |  SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */
             |    o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |    o_orderpriority
             |  FROM q106_src) SORT BY o_orderkey""".stripMargin)
    val orders = Tables.t(s, dir, "orders")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val (kLo, kHi) = (mx / 100, mx / 10)
    val cust = orders.filter(col("o_orderkey") >= kLo)
      .orderBy("o_orderkey").limit(1)
      .select("o_custkey").head().getLong(0)
    () => s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
                   |  o_totalprice, o_orderpriority FROM $cat.ord
                   |WHERE o_orderkey >= $kLo AND o_orderkey < $kHi
                   |  AND o_custkey = $cust
                   |ORDER BY o_orderkey""".stripMargin)
  }

  /** Shared build for the MOR SQL-DML queries: a catalog table with the
    * merge-on-read TBLPROPERTIES and a range-clustered customer INSERT.
    */
  private def morCatalogWithCustomer(s: SparkSession, dir: String,
      tag: String): (String, String) = {
    val wh = sink(tag, dir)
    graft.sources.FsMeta.deleteRecursive(wh)
    val cat = s"g${tag}_" + java.lang.Integer.toHexString(dir.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"""CREATE TABLE $cat.cust (
             |  c_custkey BIGINT, c_name STRING, c_nationkey INT,
             |  c_acctbal DOUBLE, c_mktsegment STRING)
             |TBLPROPERTIES('write.delete.mode'='merge-on-read',
             |  'write.update.mode'='merge-on-read',
             |  'write.merge.mode'='merge-on-read')""".stripMargin)
    Tables.t(s, dir, "customer")
      .repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .createOrReplaceTempView(s"${tag}_src")
    s.sql(s"""INSERT INTO $cat.cust
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             |  c_mktsegment FROM ${tag}_src""".stripMargin)
    (cat, s"$wh/cust")
  }

  /** q107: SQL MERGE-ON-READ DELETE — q92's delete driven through
    * `DELETE FROM ... WHERE c_custkey % 7 = 0` with
    * `write.delete.mode=merge-on-read`: the SupportsDelta plan writes
    * POSITION deletion vectors (`#dvp` sidecars of line ordinals) and
    * rewrites ZERO data files (the in-build require pins the untouched
    * name set). Shares q92/q89's oracle: MOR from SQL must be
    * value-identical to the rewrite.
    */
  def q107SqlMorDelete(s: SparkSession, dir: String): () => DataFrame = {
    val (cat, tdir) = morCatalogWithCustomer(s, dir, "q107")
    val before = graft.sources.ManifestTable.readManifest(tdir).get
      .files.map(_.name).toSet
    s.sql(s"DELETE FROM $cat.cust WHERE c_custkey % 7 = 0")
    val after = graft.sources.ManifestTable.readManifest(tdir).get
    require(after.files.map(_.name).toSet == before,
      "MOR DELETE must rewrite zero data files")
    require(after.files.exists(_.stats.dv.isDefined),
      "MOR DELETE must attach position deletion vectors")
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** q108: SQL MERGE-ON-READ MERGE — q88/q102's upsert through
    * `write.merge.mode=merge-on-read`: matched rows split into a
    * position delete + a fresh insert (representUpdateAsDeleteAndInsert),
    * not-matched rows insert, and every pre-merge data file survives
    * byte-identical (in-build require). Shares q88's oracle VERBATIM —
    * three strategies (Scala COW, SQL COW, SQL MOR), one answer.
    */
  def q108SqlMorMerge(s: SparkSession, dir: String): () => DataFrame = {
    val (cat, tdir) = morCatalogWithCustomer(s, dir, "q108")
    val before = graft.sources.ManifestTable.readManifest(tdir).get
      .files.map(_.name).toSet
    mergeUpdates(s, Tables.t(s, dir, "customer"))
      .createOrReplaceTempView("q108_upd")
    s.sql(s"""MERGE INTO $cat.cust t USING q108_upd u
             |ON t.c_custkey = u.c_custkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = graft.sources.ManifestTable.readManifest(tdir).get
    require(before.subsetOf(after.files.map(_.name).toSet),
      "MOR MERGE must leave every pre-merge data file in place")
    () => s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   |  c_mktsegment FROM $cat.cust
                   |ORDER BY c_custkey""".stripMargin)
  }

  /** q109: a CATALOG-PERSISTED VIEW read end-to-end — the customer
    * table lands through the catalog, `CALL system.create_view` stores
    * a per-segment rollup as SQL text, and the read is
    * `SELECT * FROM <catalog>.<view>` (expanded by the
    * GraftViewResolution extension rule). The oracle recomputes the
    * rollup from the base table: the view layer must be value-invisible.
    */
  def q109View(s: SparkSession, dir: String): () => DataFrame = {
    val (cat, _) = catalogWithCustomer(s, dir, "q109")
    s.sql(s"""CALL $cat.system.create_view('seg_rollup',
             |  'SELECT c_mktsegment, count(*) AS n_cust,
             |     CAST(sum(c_custkey) AS BIGINT) AS sum_key,
             |     min(c_acctbal) AS min_bal
             |   FROM $cat.cust GROUP BY c_mktsegment')""".stripMargin)
    () => s.sql(s"SELECT * FROM $cat.seg_rollup ORDER BY c_mktsegment")
  }

  /** Bench's storage group: name → build-once/read-thunk factory. */
  val benchPairs: Seq[(String, (SparkSession, String) => () => DataFrame)] =
    Seq(
      "q86_time_travel" -> (q86TimeTravel _),
      "q87_dynamic_partition_pruning" -> (q87Dpp _),
      "q88_cow_merge" -> (q88CowMerge _),
      "q89_cow_delete" -> (q89CowDelete _),
      "q90_bloom_skip" -> (q90BloomSkip _),
      "q91_layout_capstone" -> (q91LayoutCapstone _),
      "q92_mor_delete" -> (q92MorDelete _),
      "q93_schema_evolution" -> (q93SchemaEvolution _),
      "q94_change_feed" -> (q94ChangeFeed _),
      "q95_stream_tail" -> (q95StreamTail _),
      "q96_mor_merge" -> (q96MorMerge _),
      "q97_incremental_view" -> (q97IncrementalView _),
      "q98_partitioned_join" -> (q98PartitionedJoin _),
      "q99_wap_publish" -> (q99WapPublish _),
      "q100_wap_merge" -> (q100WapMerge _),
      "q101_catalog_sql" -> (q101CatalogSql _),
      "q102_sql_merge" -> (q102SqlMerge _),
      "q103_sql_update" -> (q103SqlUpdate _),
      "q104_ctas" -> (q104Ctas _),
      "q105_timestamp_travel" -> (q105TimestampTravel _),
      "q106_ctas_capstone" -> (q106CtasCapstone _),
      "q107_sql_mor_delete" -> (q107SqlMorDelete _),
      "q108_sql_mor_merge" -> (q108SqlMorMerge _),
      "q109_view" -> (q109View _))
}
