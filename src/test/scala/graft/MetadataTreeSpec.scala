package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** The manifest METADATA TREE (round 15): once a table outgrows the
  * inline root (InlineMax entries) its file entries live in immutable
  * `meta/shard-*.gsh` files and the root lists shard REFS with
  * aggregate stats. The contracts pinned here are the 100 TB ones:
  *
  *   - commit cost ∝ touched: an append writes one root + batched
  *     shards (amortized), never rewrites an untouched shard; a
  *     replace rewrites only the shards holding removed entries;
  *   - planning cost ∝ kept: a pruned scan DECODES only shards whose
  *     aggregate stats survive the same conservative keep predicate
  *     files prune with (shardDecodes counter == kept shards);
  *   - reads, time travel, change feed, and vacuum behave identically
  *     to the inline format — the tree is invisible in the rows.
  */
class MetadataTreeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private val schema2: StructType =
    StructType.fromDDL("id BIGINT, v BIGINT")

  /** `n` synthetic entries with DISJOINT id zone maps: entry i covers
    * [i*10, i*10+9]. Planning is pure metadata — no data file needed.
    */
  private def fakeEntries(from: Int, until: Int): Seq[ManifestTable.FileEntry] =
    (from until until).map { i =>
      ManifestTable.FileEntry(s"f-$i.gtab", 10, 0, Seq("id", "v"),
        graft.sources.FileStats(zones = Map("id" ->
          graft.sources.Zone((i * 10L).toString, (i * 10L + 9).toString))))
    }

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_tree_$tag").toString

  test("a 10^4-file table spills into shards; the root stays narrow, " +
      "appends never rewrite an existing shard, commit bytes stay " +
      "O(touched)") {
    val dir = freshDir("spill")
    // 40 commits x 256 entries = 10240 files — the brief's scale class
    (0 until 40).foreach { b =>
      ManifestTable.commitVersion(dir, schema2,
        fakeEntries(b * 256, (b + 1) * 256), keepPrevious = true)
    }
    val m = ManifestTable.readManifest(dir).get
    assert(m.nFiles == 10240)
    assert(m.shards.nonEmpty, "10240 entries must have spilled")
    assert(m.inline.size <= ManifestTable.InlineMax,
      s"root carries ${m.inline.size} inline entries")
    // root WIDTH is O(files / ShardTarget), not O(files)
    assert(m.shards.size + m.inline.size <= 10240 / 8,
      s"${m.shards.size} shards + ${m.inline.size} inline")
    // COMMIT BYTES ∝ touched: the root (what every commit rewrites) is
    // a small multiple of the shard count, far below one line per file
    val rootBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(ManifestTable.manifestPath(dir)))
    val inlineEquiv = ManifestTable.readManifest(dir).get.files
      .take(64).map(_.name.length + 40).sum / 64 * 10240L
    assert(rootBytes < inlineEquiv / 4,
      s"sharded root is $rootBytes bytes vs ~$inlineEquiv inline-format")
    // an append touches NO existing shard (names carry over verbatim)
    val shardNames = m.shards.map(_.name).toSet
    ManifestTable.commitVersion(dir, schema2,
      fakeEntries(10240, 10244), keepPrevious = true)
    val m2 = ManifestTable.readManifest(dir).get
    assert(shardNames.subsetOf(m2.shards.map(_.name).toSet),
      "append must not rewrite an existing shard")
    assert(m2.nFiles == 10244)
    // full census still exact through the lazy decode
    assert(m2.files.map(_.name).distinct.size == 10244)
  }

  test("scale ladder: a 10^5-entry tree plans a selective scan with " +
      "ONE decode inside a wall-clock envelope; the 10^4 -> 10^5 " +
      "gradient is root-width, not file-count") {
    // the measured rung behind the 10^6 claim: plan cost = root parse
    // (O(shards) lines) + prune (O(shards) keep calls) + decode
    // (O(kept) shards). Files grow 10x here; decodes stay at 1.
    def build(tag: String, files: Int): String = {
      val dir = freshDir(tag)
      (0 until files / 1000).foreach { b =>
        ManifestTable.commitVersion(dir, schema2,
          fakeEntries(b * 1000, (b + 1) * 1000), keepPrevious = true)
      }
      dir
    }
    import org.apache.spark.sql.sources.{Filter, LessThan}
    def plan(dir: String): (Double, Long, Int) = {
      // min-of-5 full plans: parse the root fresh each time (no warm
      // manifest object), prune, decode survivors
      val runs = (1 to 5).map { _ =>
        val before = ManifestTable.shardDecodes.get()
        val t0 = System.nanoTime()
        val m = ManifestTable.readManifest(dir).get
        val kept = ManifestTable.planFiles(m,
          f => graft.sources.GTabSkip.keep(f,
            Seq(LessThan("id", 50L): Filter), m.schema))
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, ManifestTable.shardDecodes.get() - before, kept.size)
      }
      val best = runs.minBy(_._1)
      assert(runs.forall(r => r._2 == best._2 && r._3 == best._3))
      best
    }
    val small = build("l4", 10000)
    val big = build("l5", 100000)
    val mBig = ManifestTable.readManifest(big).get
    assert(mBig.nFiles == 100000)
    assert(mBig.shards.size >= 300,
      s"expected ~400 shards at 10^5 entries, got ${mBig.shards.size}")
    val (tSmall, dSmall, kSmall) = plan(small)
    val (tBig, dBig, kBig) = plan(big)
    // selectivity contract at both rungs: one shard decoded, 5 entries
    assert(dSmall == 1 && dBig == 1,
      s"selective plan must decode exactly 1 shard (got $dSmall/$dBig)")
    assert(kSmall == 5 && kBig == 5)
    // absolute envelope: a 10^5-file selective plan is milliseconds —
    // the bound is deliberately loose for shared-box noise, and still
    // 1000x under any full-decode implementation's cost class
    assert(tBig < 1.0, s"10^5-entry selective plan took $tBig s")
    // gradient: 10x the files must cost ~10x the ROOT WIDTH at worst
    // (parse + prune are O(shards)); 40x + epsilon absorbs timer noise
    // while still refuting any O(files) plan path
    assert(tBig <= tSmall * 40 + 0.05,
      s"gradient 10^4 -> 10^5: $tSmall s -> $tBig s")
  }

  test("scale ladder: the 10^6 rung — a selective plan is still ONE " +
      "decode, inside a wall-clock envelope; the gradient stays on " +
      "root width") {
    // the rung SCALE.md used to extrapolate, now measured: 10^6 entries
    // (the 100 TB table class at ~100 MB/file) in one tree. Built with
    // large commit batches so the build cost is shard writes + root
    // rewrites, not 10^6 root parses.
    def build(tag: String, files: Int, perCommit: Int): String = {
      val dir = freshDir(tag)
      (0 until files / perCommit).foreach { b =>
        ManifestTable.commitVersion(dir, schema2,
          fakeEntries(b * perCommit, (b + 1) * perCommit),
          keepPrevious = true)
      }
      dir
    }
    import org.apache.spark.sql.sources.{Filter, LessThan}
    def plan(dir: String): (Double, Long, Int) = {
      val runs = (1 to 5).map { _ =>
        val before = ManifestTable.shardDecodes.get()
        val t0 = System.nanoTime()
        val m = ManifestTable.readManifest(dir).get
        val kept = ManifestTable.planFiles(m,
          f => graft.sources.GTabSkip.keep(f,
            Seq(LessThan("id", 50L): Filter), m.schema))
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, ManifestTable.shardDecodes.get() - before, kept.size)
      }
      val best = runs.minBy(_._1)
      assert(runs.forall(r => r._2 == best._2 && r._3 == best._3))
      best
    }
    // same-session 10^5 reference rung for the gradient comparison
    val big = build("l5ref", 100000, 1000)
    val huge = build("l6", 1000000, 20000)
    val mHuge = ManifestTable.readManifest(huge).get
    // file count answered from root metadata alone — no census decode
    assert(mHuge.nFiles == 1000000)
    assert(mHuge.shards.size >= 3000,
      s"expected ~4000 shards at 10^6 entries, got ${mHuge.shards.size}")
    val (tBig, dBig, kBig) = plan(big)
    val (tHuge, dHuge, kHuge) = plan(huge)
    // selectivity contract at the top rung: one shard decoded, 5 entries
    assert(dBig == 1 && dHuge == 1,
      s"selective plan must decode exactly 1 shard (got $dBig/$dHuge)")
    assert(kBig == 5 && kHuge == 5)
    // absolute envelope: a 10^6-file selective plan stays well under a
    // second — the bound is loose for shared-box noise and still orders
    // of magnitude below any O(files) decode path
    assert(tHuge < 2.0, s"10^6-entry selective plan took $tHuge s")
    // gradient: 10x the files may cost at most ~10x the ROOT WIDTH
    // (parse + prune are O(shards)); 40x + epsilon absorbs timer noise
    // while still refuting any O(files) plan path
    assert(tHuge <= tBig * 40 + 0.1,
      s"gradient 10^5 -> 10^6: $tBig s -> $tHuge s")
  }

  test("planning decodes only the shards the pruning keeps") {
    val dir = freshDir("prune")
    (0 until 8).foreach { b =>
      ManifestTable.commitVersion(dir, schema2,
        fakeEntries(b * 256, (b + 1) * 256), keepPrevious = true)
    }
    val m = ManifestTable.readManifest(dir).get
    val nShards = m.shards.size
    assert(nShards >= 8)
    // a range predicate overlapping ONE shard's id range
    import org.apache.spark.sql.sources.{LessThan, Filter}
    val keep = (f: ManifestTable.FileEntry) =>
      graft.sources.GTabSkip.keep(f,
        Seq(LessThan("id", 50L): Filter), m.schema)
    val before = ManifestTable.shardDecodes.get()
    val kept = ManifestTable.planFiles(m, keep)
    val decoded = ManifestTable.shardDecodes.get() - before
    assert(kept.map(_.name).toSet ==
      (0 until 5).map(i => s"f-$i.gtab").toSet)
    assert(decoded == 1,
      s"scan pruned to 1 shard's range but decoded $decoded of $nShards")
    // the unpruned census decodes everything — the counter moves
    val b2 = ManifestTable.shardDecodes.get()
    assert(ManifestTable.planFiles(m, _ => true).size == 2048)
    assert(ManifestTable.shardDecodes.get() - b2 == nShards)
  }

  test("commitReplace rewrites only the shards holding removed entries") {
    val dir = freshDir("replace")
    (0 until 8).foreach { b =>
      ManifestTable.commitVersion(dir, schema2,
        fakeEntries(b * 256, (b + 1) * 256), keepPrevious = true)
    }
    val m = ManifestTable.readManifest(dir).get
    val before = m.shards.map(_.name).toSet
    // replace two entries that landed in the SAME (first) commit batch
    val v = ManifestTable.commitReplace(dir, m.version,
      Set("f-3.gtab", "f-7.gtab"), fakeEntries(9000, 9001))
    val m2 = ManifestTable.readManifest(dir).get
    assert(m2.version == v)
    assert(m2.nFiles == 2048 - 2 + 1)
    val after = m2.shards.map(_.name).toSet
    val rewritten = before.diff(after)
    assert(rewritten.size == 1,
      s"a 2-entry replace in one batch must rewrite exactly 1 shard, " +
        s"rewrote ${rewritten.size}")
    assert(!m2.files.exists(f => f.name == "f-3.gtab" ||
      f.name == "f-7.gtab"))
    assert(m2.files.exists(_.name == "f-9000.gtab"))
    // removing an unknown name is still a typed error, not a silent drop
    val e = intercept[IllegalArgumentException] {
      ManifestTable.commitReplace(dir, m2.version, Set("nope.gtab"), Nil)
    }
    assert(e.getMessage.contains("absent"))
  }

  test("a sharded table reads, time-travels, and change-feeds exactly " +
      "like an inline one") {
    val dir = freshDir("rows")
    // real data: 300 tiny single-row files via 300-way repartition
    val df = spark.range(300).select(col("id"),
      (col("id") * 2).as("v"))
    df.repartition(300).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val m1 = ManifestTable.readManifest(dir).get
    assert(m1.nFiles == 300)
    assert(m1.shards.nonEmpty, "300 files must shard")
    val got = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until 300L).map(i => (i, i * 2)))
    // append a second slice; time travel pins the first
    spark.range(300, 320).select(col("id"), (col("id") * 2).as("v"))
      .repartition(2).write.format(Fmt).option("path", dir)
      .mode("append").save()
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", m1.version).load().count() == 300)
    assert(spark.read.format(Fmt).option("path", dir).load()
      .count() == 320)
    // the change feed across the hop decodes only CHANGED shards: the
    // 20 appended rows surface, the 300-file base never decodes
    val m2 = ManifestTable.readManifest(dir).get
    val before = ManifestTable.shardDecodes.get()
    val feed = ManifestTable.changeFeed(spark, dir, m1.version, m2.version)
      .collect()
    val decodedMeta = ManifestTable.shardDecodes.get() - before
    assert(feed.length == 20 &&
      feed.forall(_.getAs[String]("_change_type") == "insert"))
    // the appended rows live inline on both sides; shared shards elide
    // entirely — a stray name-bloom false positive may cost one decode,
    // but never the full census
    assert(decodedMeta <= 1,
      s"feed over a 300-file base decoded $decodedMeta shards")
  }

  test("vacuum reclaims expired-version shards, keeps referenced ones") {
    val dir = freshDir("vac")
    (0 until 3).foreach { b =>
      ManifestTable.commitVersion(dir, schema2,
        fakeEntries(b * 256, (b + 1) * 256), keepPrevious = true)
    }
    // overwrite: all previous shards become history-only
    ManifestTable.commitVersion(dir, schema2, fakeEntries(0, 130),
      keepPrevious = false)
    val cur = ManifestTable.readManifest(dir).get
    assert(cur.nFiles == 130 && cur.shards.nonEmpty)
    val live = cur.shards.map(_.name).toSet
    val allBefore = graft.sources.FsMeta.listFiles(s"$dir/meta").toSet
    assert(live.subsetOf(allBefore) && allBefore.size > live.size)
    // retention: keep only the latest version, grace 0 -> history shards go
    ManifestTable.vacuum(dir, graceMs = 0L, keepLast = 1)
    val allAfter = graft.sources.FsMeta.listFiles(s"$dir/meta").toSet
    assert(allAfter == live,
      s"expected exactly the live shards to survive: " +
        s"${allAfter.size} vs ${live.size}")
    // the table still reads its full census
    assert(ManifestTable.readManifest(dir).get.files.size == 130)
  }

  test("shard-level pruning composes blooms and partition values") {
    val dir = freshDir("agg")
    val schema3 = StructType.fromDDL("id BIGINT, g STRING")
    // bloom words exactly as the writer sets them (same double hashing)
    def bloomOf(key: Long): String = {
      val words = new Array[Long](64) // 4096 bits
      graft.functions.BloomUtil.set(words, key,
        graft.sources.GTabBloom.NumHashes)
      graft.sources.GTabBloom.encode(words)
    }
    // hash-scattered table: NO zone maps (bloom is the only skip), each
    // entry holds one key; g = "0" for the first batch, "1" the second
    def batch(from: Int, until: Int, g: String) = (from until until).map {
      i => ManifestTable.FileEntry(s"h-$i.gtab", 1, 0, Seq("id", "g"),
        graft.sources.FileStats(blooms = Map("id" -> graft.sources.Sketch(
          graft.sources.GTabBloom.NumHashes, bloomOf(i.toLong))),
          parts = Map("g" -> g)))
    }
    ManifestTable.commitVersion(dir, schema3, batch(0, 150, "0"),
      keepPrevious = true)
    ManifestTable.commitVersion(dir, schema3, batch(150, 300, "1"),
      keepPrevious = true)
    val m = ManifestTable.readManifest(dir).get
    assert(m.shards.size == 2 && m.inline.isEmpty)
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    // bloom point lookup: key 7 lives in the first shard only — the
    // OR-union shard bloom prunes the second without a decode
    val before = ManifestTable.shardDecodes.get()
    val kept = ManifestTable.planFiles(m,
      f => graft.sources.GTabSkip.keep(f,
        Seq(EqualTo("id", 7L): Filter), m.schema))
    val decoded = ManifestTable.shardDecodes.get() - before
    assert(kept.exists(_.name == "h-7.gtab"))
    assert(decoded == 1,
      s"shard blooms must prune decodes: $decoded of ${m.shards.size}")
    // partition-value pruning: each shard is single-valued on g, so the
    // equality decodes exactly one shard and keeps exactly its members
    val b2 = ManifestTable.shardDecodes.get()
    val keptG = ManifestTable.planFiles(m,
      f => graft.sources.GTabSkip.keep(f,
        Seq(EqualTo("g", "1"): Filter), m.schema))
    val decodedG = ManifestTable.shardDecodes.get() - b2
    assert(keptG.size == 150 &&
      keptG.forall(_.stats.parts.get("g").contains("1")))
    assert(decodedG == 1,
      s"partition-valued shards must prune decodes: " +
        s"$decodedG of ${m.shards.size}")
  }

  test("a clustered-key CowOps delete on a sharded table decodes " +
      "O(relevant shards) across all three phases") {
    val dir = freshDir("cow")
    // 600 single-row clustered files -> 3 shards of disjoint key ranges
    spark.range(600).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(600, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val m = ManifestTable.readManifest(dir).get
    assert(m.nFiles == 600 && m.shards.size >= 3)
    val before = ManifestTable.shardDecodes.get()
    // keys confined to one shard's range: affected-set derivation,
    // the files-option read, and the replace commit must each stay on
    // the relevant shard (± a name-bloom false positive)
    val r = graft.sources.CowOps.delete(spark, dir,
      spark.range(10, 20).toDF("id"), "id")
    val decoded = ManifestTable.shardDecodes.get() - before
    assert(r.filesRewritten == 10)
    // budget: one relevant-shard decode per phase, with the files-option
    // scan builder constructed more than once under planning/AQE and a
    // possible name-bloom false positive — but always strictly below
    // the full-census cost (every shard per phase)
    assert(decoded <= 7 && decoded < 3 * m.shards.size,
      s"3-phase delete on a ${m.shards.size}-shard table decoded " +
        s"$decoded shards")
    assert(spark.read.format(Fmt).option("path", dir).load()
      .count() == 590)
  }

  test("a micro-batch stream tails a sharded table and decodes only " +
      "changed shards per hop") {
    val src = freshDir("stream_src")
    val dst = freshDir("stream_dst")
    val cp = freshDir("stream_cp")
    // base commit large enough to shard, then two small appends
    spark.range(300).select(col("id"), (col("id") * 2).as("v"))
      .repartition(300).write.format(Fmt).option("path", src)
      .mode("append").save()
    assert(ManifestTable.readManifest(src).get.shards.nonEmpty)
    spark.range(300, 310).select(col("id"), (col("id") * 2).as("v"))
      .repartition(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val before = ManifestTable.shardDecodes.get()
    val q = spark.readStream.format(Fmt).option("path", src).load()
      .writeStream.format(Fmt).option("path", dst)
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    // the stream read the whole table exactly once: the initial offset
    // covers version 1, so the first batch is the full census (decodes
    // its shards once) plus the inline append — never a per-hop rescan
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 310)
    val afterFirst = ManifestTable.shardDecodes.get()
    // a further inline append hops WITHOUT decoding the base shards
    spark.range(310, 315).select(col("id"), (col("id") * 2).as("v"))
      .repartition(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val q2 = spark.readStream.format(Fmt).option("path", src).load()
      .writeStream.format(Fmt).option("path", dst)
      .option("checkpointLocation", cp).start()
    try q2.processAllAvailable() finally q2.stop()
    // measure the HOP itself before any verification read touches the
    // (also-sharded) destination
    val hopDecodes = ManifestTable.shardDecodes.get() - afterFirst
    assert(hopDecodes <= 1,
      s"an inline-append hop over a sharded base decoded $hopDecodes " +
        "shards (shared shards must elide)")
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 315)
    assert(before >= 0)
  }

  test("a metadata-only SQL-path DELETE on a sharded table decodes " +
      "only the matching partition's shards") {
    val dir = freshDir("mdel")
    val schema3 = StructType.fromDDL("id BIGINT, g STRING")
    def batch(from: Int, until: Int, g: String) = (from until until).map {
      i => ManifestTable.FileEntry(s"d-$i.gtab", 1, 0, Seq("id", "g"),
        graft.sources.FileStats(parts = Map("g" -> g)))
    }
    ManifestTable.commitVersion(dir, schema3, batch(0, 150, "0"),
      keepPrevious = true)
    ManifestTable.commitVersion(dir, schema3, batch(150, 300, "1"),
      keepPrevious = true)
    val m = ManifestTable.readManifest(dir).get
    assert(m.shards.size == 2)
    val before = ManifestTable.shardDecodes.get()
    graft.sources.GTabDelete.run(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("g", "0")))
    val decoded = ManifestTable.shardDecodes.get() - before
    val st = graft.sources.GTabDelete.lastStats
    assert(st.filesDropped == 150 && st.filesRewritten == 0,
      st.toString)
    // classification decoded shard 0; the replace commit re-decodes it
    // to drop the entries; shard 1 (g=1, provably untouched) never opens
    assert(decoded <= 2,
      s"partition DELETE decoded $decoded of ${m.shards.size} shards")
    val m2 = ManifestTable.readManifest(dir).get
    assert(m2.nFiles == 150 &&
      m2.files.forall(_.stats.parts.get("g").contains("1")))
  }

  test("DML write-builder derivations answer from shard census keys " +
      "with zero decodes") {
    val dir = freshDir("census")
    val schema3 = StructType.fromDDL("id BIGINT, g STRING")
    def bloomOf(key: Long): String = {
      val words = new Array[Long](64)
      graft.functions.BloomUtil.set(words, key,
        graft.sources.GTabBloom.NumHashes)
      graft.sources.GTabBloom.encode(words)
    }
    def batch(from: Int, until: Int, g: String) = (from until until).map {
      i => ManifestTable.FileEntry(s"c-$i.gtab", 1, 0, Seq("id", "g"),
        graft.sources.FileStats(parts = Map("g" -> g),
          blooms = Map("id" -> graft.sources.Sketch(
            graft.sources.GTabBloom.NumHashes, bloomOf(i.toLong))),
          ndvs = Map("id" -> graft.sources.Sketch(64, bloomOf(i.toLong)))))
    }
    ManifestTable.commitVersion(dir, schema3, batch(0, 150, "0"),
      keepPrevious = true)
    ManifestTable.commitVersion(dir, schema3, batch(150, 300, "1"),
      keepPrevious = true)
    val m = ManifestTable.readManifest(dir).get
    assert(m.shards.size == 2 && m.inline.isEmpty)
    val before = ManifestTable.shardDecodes.get()
    // the three questions every SQL DML write build asks
    assert(ManifestTable.partitionColumnsOf(m) == Seq("g"))
    assert(graft.sources.CowOps.censusColumns(m) == (Seq("id"), Seq("id")))
    assert(ManifestTable.shardDecodes.get() == before,
      "table-level config derivations must not decode a shard")
    // a mixed-spec table degrades the partition report, still decode-free
    ManifestTable.commitVersion(dir, schema3,
      Seq(ManifestTable.FileEntry("plain.gtab", 1, 0, Seq("id", "g"))),
      keepPrevious = true)
    val m2 = ManifestTable.readManifest(dir).get
    assert(ManifestTable.partitionColumnsOf(m2).isEmpty)
    assert(ManifestTable.shardDecodes.get() == before)
  }
}
