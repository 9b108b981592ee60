package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StructType}

/** SQL `DELETE FROM t WHERE <cond>` over the manifest table, executed
  * METADATA-FIRST — the three-way file classification every lakehouse
  * delete lives on:
  *
  *   1. DROP: files whose partition value PROVES every row matches the
  *      condition — removed from the manifest, zero bytes read or
  *      written. On a date-partitioned table, `DELETE WHERE day < X`
  *      (the 100 TB retention sweep) is this path in its entirety.
  *   2. SKIP: files whose zone maps / blooms / partition values prove NO
  *      row matches — carried over by reference, never opened.
  *   3. REWRITE: only the boundary files are read (through any deletion
  *      vectors) and re-staged without the matching rows — the COW
  *      machinery's staging path, layout and blooms preserved.
  *
  * All-match proofs use ONLY `#part:` values: a partitioned file is
  * single-valued INCLUDING nulls (null rows land in the Null-keyed
  * file), so the proof is sound under SQL three-valued logic. Zone maps
  * are deliberately NOT used for all-match — they skip nulls, so
  * `lo == hi == v` cannot prove a null-free file, and a null row must
  * SURVIVE `DELETE WHERE c = v`. None-match proofs reuse
  * [[GTabSkip.keep]] (conservative by construction).
  */
private[graft] object GTabDelete {

  /** Can this filter be evaluated row-level for the rewrite leg? */
  def translatable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, _) => schema.fieldNames.contains(c)
    case EqualNullSafe(c, _) => schema.fieldNames.contains(c)
    case GreaterThan(c, _) => schema.fieldNames.contains(c)
    case GreaterThanOrEqual(c, _) => schema.fieldNames.contains(c)
    case LessThan(c, _) => schema.fieldNames.contains(c)
    case LessThanOrEqual(c, _) => schema.fieldNames.contains(c)
    case In(c, _) => schema.fieldNames.contains(c)
    case IsNull(c) => schema.fieldNames.contains(c)
    case IsNotNull(c) => schema.fieldNames.contains(c)
    case StringStartsWith(c, _) => schema.fieldNames.contains(c)
    case And(l, r) => translatable(l, schema) && translatable(r, schema)
    case Or(l, r) => translatable(l, schema) && translatable(r, schema)
    case Not(x) => translatable(x, schema)
    // TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue)
    case AlwaysTrue() => true
    case AlwaysFalse() => true
    case _ => false
  }

  private def toColumn(f: Filter): Column = f match {
    case EqualTo(c, v) => col(c) === lit(v)
    case EqualNullSafe(c, v) => col(c) <=> lit(v)
    case GreaterThan(c, v) => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v) => col(c) < lit(v)
    case LessThanOrEqual(c, v) => col(c) <= lit(v)
    case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
    case IsNull(c) => col(c).isNull
    case IsNotNull(c) => col(c).isNotNull
    case StringStartsWith(c, v) => col(c).startsWith(v)
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(x) => not(toColumn(x))
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** Does the file's single partition value prove EVERY row matches? */
  private def allMatch(e: ManifestTable.FileEntry, f: Filter,
      schema: StructType): Boolean = {
    def pv(c: String): Option[(String, DataType)] = e.stats.parts.get(c)
      .zip(schema.fields.find(_.name == c).map(_.dataType))
    def notNullVal(c: String): Option[(String, DataType)] =
      pv(c).filter(_._1 != ManifestTable.Null)
    def num(enc: String, dt: DataType): Option[Long] = dt match {
      case IntegerType | LongType => enc.toLongOption
      case _ => None
    }
    def litLong(v: Any): Option[Long] = v match {
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    def cmp(c: String, v: Any)(p: (Long, Long) => Boolean): Boolean =
      notNullVal(c).exists { case (enc, dt) =>
        (num(enc, dt), litLong(v)) match {
          case (Some(a), Some(b)) => p(a, b)
          case _ => false
        }
      }
    f match {
      case EqualTo(c, v) => v != null && notNullVal(c).exists {
        case (enc, dt) =>
          ManifestTable.encodePartLiteral(v, dt).contains(enc)
      }
      case EqualNullSafe(c, v) => pv(c).exists { case (enc, dt) =>
        if (v == null) enc == ManifestTable.Null
        else enc != ManifestTable.Null &&
          ManifestTable.encodePartLiteral(v, dt).contains(enc)
      }
      case In(c, vs) => notNullVal(c).exists { case (enc, dt) =>
        vs.exists(v => v != null &&
          ManifestTable.encodePartLiteral(v, dt).contains(enc))
      }
      case IsNull(c) => pv(c).exists(_._1 == ManifestTable.Null)
      case IsNotNull(c) => notNullVal(c).isDefined
      case GreaterThan(c, v) => cmp(c, v)(_ > _)
      case GreaterThanOrEqual(c, v) => cmp(c, v)(_ >= _)
      case LessThan(c, v) => cmp(c, v)(_ < _)
      case LessThanOrEqual(c, v) => cmp(c, v)(_ <= _)
      case And(l, r) => allMatch(e, l, schema) && allMatch(e, r, schema)
      case Or(l, r) => allMatch(e, l, schema) || allMatch(e, r, schema)
      // TRUNCATE: every row matches, every file drops by metadata
      case AlwaysTrue() => true
      // Not would need a null-aware none-match proof; rewrite instead
      case _ => false
    }
  }

  final case class DeleteStats(filesDropped: Int, filesUntouched: Int,
      filesRewritten: Int)
  /** Last run's classification — a test seam (SQL DELETE returns no
    * result set to assert metadata behavior on).
    */
  @volatile private[graft] var lastStats: DeleteStats = DeleteStats(0, 0, 0)

  def run(spark: SparkSession, dir: String, filters: Array[Filter]): Unit =
    CowOps.withCommitRetry(dir) { m =>
      filters.foreach(f => require(translatable(f, m.schema),
        s"untranslatable DELETE filter: $f"))
      // PRUNE-THEN-CLASSIFY on sharded tables: a shard whose aggregate
      // stats PROVE no row matches never decodes (its members are all
      // untouched by definition); only surviving shards' entries take
      // the per-file three-way classification
      val possible = ManifestTable.planFiles(m,
        GTabSkip.keep(_, filters.toSeq, m.schema))
      val (gone, candidates) = possible.partition(e =>
        filters.forall(allMatch(e, _, m.schema)))
      lastStats = DeleteStats(gone.size,
        m.nFiles - possible.size, candidates.size)
      // a provable no-op publishes nothing
      if (gone.nonEmpty || candidates.nonEmpty) {
        val added = if (candidates.isEmpty) Nil else {
          val cond = filters.map(toColumn).reduce(_ && _)
          val rows = spark.read.format("graft.sources.ManifestTable")
            .option("path", dir)
            .option("files", candidates.map(_.name).mkString(","))
            .load()
            // SURVIVORS: rows where the condition is FALSE or NULL
            // (three-valued logic — DELETE removes only definite matches)
            .where(coalesce(cond, lit(false)) === false)
          CowOps.stageAndAdopt(spark, dir, rows, m)
        }
        CowOps.commitOrCleanup(dir, m.version,
          (gone ++ candidates).map(_.name).toSet, added, "", "delete")
      }
    }
}
