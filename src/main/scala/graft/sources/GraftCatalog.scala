package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
  StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL catalog over manifest tables — the DDL/DML surface that makes the
  * connector a first-class `spark.sql` citizen:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.g.warehouse", "/data/wh")
  *   spark.sql("CREATE TABLE g.db.t (id BIGINT, s STRING) PARTITIONED BY (s)")
  *   spark.sql("INSERT INTO g.db.t SELECT ...")
  *   spark.sql("DELETE FROM g.db.t WHERE s = 'x'")     // metadata-only
  *   spark.sql("SELECT * FROM g.db.t VERSION AS OF 3") // time travel
  *   spark.sql("SELECT * FROM g.db.t VERSION AS OF 'audit'") // branch read
  *   spark.sql("ALTER TABLE g.db.t ADD COLUMN v DOUBLE") // schema evolution
  * }}}
  *
  * Layout: one directory per table under `warehouse/<ns...>/<name>`; the
  * table IS its manifest (no metastore — Iceberg's HadoopCatalog shape).
  * A `PARTITIONED BY (col)` identity transform persists in a tiny
  * `_TBLMETA` file and every INSERT through the catalog auto-applies the
  * `partitionColumn` write path (clustered distribution, single-valued
  * files, storage-partitioned-join report). `VERSION AS OF` accepts a
  * version number or a BRANCH name — the write-audit-publish audit read,
  * in SQL. DELETE WHERE goes through [[GTabDelete]]: whole files whose
  * partition value / zone maps PROVE all-match are dropped by metadata,
  * provably-unaffected files are never opened, only the boundary files
  * rewrite.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  // SQL-callable maintenance (CALL g.system.compact(...) etc.)
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")
  private def dirOf(ns: Seq[String]): String =
    (warehouse +: ns).mkString("/")
  private def isTable(dir: String): Boolean =
    FsMeta.exists(ManifestTable.manifestPath(dir))
  /** An in-flight (or crashed) CTAS/RTAS staging directory — carries a
    * manifest but must never list as a table or namespace.
    */
  private def isStageDir(name: String): Boolean = name.contains(".stage-")

  /** `.stage-` is reserved for CTAS/RTAS staging directories (which the
    * listings hide): a user table or namespace carrying the infix would
    * exist (loadTable resolves it) yet never list — reject it at every
    * creation/rename entry point instead.
    */
  private def checkIdent(ident: Identifier): Unit =
    checkNames(ident.namespace().toSeq :+ ident.name())
  private def checkNames(names: Seq[String]): Unit = names.foreach { n =>
    require(!isStageDir(n),
      s"'$n' contains '.stage-', reserved for CTAS staging directories")
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace.toSeq)
    if (!FsMeta.isDirectory(d)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq).toArray)
    FsMeta.listSubdirs(d).filter(n => !isStageDir(n) && isTable(s"$d/$n"))
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val m = ManifestTable.readManifest(dir).getOrElse(
      throw new NoSuchTableException(ident))
    new GTable(dir, m.schema, declaredPart = declaredPartOf(dir, m.schema),
      declaredProps = TblMeta.properties(dir))
  }

  /** The declared partition spec resolved DEFENSIVELY against the live
    * schema: a crash between a partition-column RENAME's schema commit
    * and its `_TBLMETA` rewrite leaves the spec naming a column the
    * schema no longer has — every INSERT would then fail at resolution
    * until manual repair. Unresolvable names degrade the spec to its
    * resolvable subset (possibly unpartitioned — the layout report's
    * own degradation rule: correctness never depended on the spec).
    */
  private def declaredPartOf(dir: String,
      schema: StructType = null): Seq[String] = {
    val declared = TblMeta.partitionCols(dir)
    if (declared.isEmpty) declared
    else {
      val s = Option(schema).orElse(
        ManifestTable.readManifest(dir).map(_.schema))
      s.fold(declared)(sc => declared.filter(sc.fieldNames.contains))
    }
  }

  /** SQL time travel by TIME: `TIMESTAMP AS OF <t>` resolves to the
    * latest version committed at or before t (Spark hands MICROseconds)
    * and pins that snapshot — same machinery as VERSION AS OF from
    * there on.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = ManifestTable.versionAt(dir, timestamp / 1000L)
    new GTable(dir, ManifestTable.readManifestAsOf(dir, v).schema,
      travelVersion = Some(v))
  }

  /** SQL time travel: `VERSION AS OF <n>` pins a snapshot; a non-numeric
    * version is read as a BRANCH name — the WAP audit read in SQL.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    version.toLongOption match {
      case Some(v) =>
        new GTable(dir, ManifestTable.readManifestAsOf(dir, v).schema,
          travelVersion = Some(v))
      case None =>
        val bh = ManifestTable.readManifest(dir, version).getOrElse(
          throw new NoSuchTableException(ident))
        new GTable(dir, bh.schema, travelBranch = Some(version))
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    checkIdent(ident)
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    require(!viewExists(ident),
      s"a view named ${ident.name()} already exists")
    ManifestTable.checkSupported(schema)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        val c = t.references()(0).fieldNames.mkString(".")
        require(schema.fieldNames.contains(c),
          s"PARTITIONED BY names absent column '$c'")
        // reject unsupported partition TYPES here, not at first INSERT:
        // the write builder re-checks, but failing there would leave a
        // created-yet-unwritable table behind (a DOUBLE partition column
        // is rejected for the -0.0 == 0.0 codec-identity trap)
        schema(c).dataType match {
          case BooleanType | IntegerType | LongType | StringType =>
          case other => throw new IllegalArgumentException(
            s"PARTITIONED BY column '$c' is ${other.sql} — partition " +
              "columns support boolean, int, bigint, string")
        }
        c
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY identity columns, " +
          s"got $other")
    }
    val props = GTabProps.validated(schema, properties)
    FsMeta.mkdirs(dir)
    ManifestTable.commitVersion(dir, schema, Nil, keepPrevious = false,
      op = "create")
    if (partCols.nonEmpty || props.nonEmpty)
      TblMeta.write(dir, partCols, props)
    new GTable(dir, schema, declaredPart = partCols,
      declaredProps = props)
  }

  /** Schema evolution in SQL — all metadata-only, one atomic manifest
    * publish each, each version's snapshot keeping its OWN schema:
    *
    *   - ADD COLUMN: existing files read null for it (by-name
    *     resolution); re-adding a name a live file still carries is
    *     rejected until a compaction purges the stale encoding.
    *   - RENAME COLUMN: the schema field AND every file entry's column
    *     list / stats keys rename together, so zone maps, blooms,
    *     partition values and deletion vectors keep pruning under the
    *     new name. The declared partition spec follows the rename.
    *   - DROP COLUMN: removed from the schema only; data lines keep the
    *     field (the reader never requests it). Partition columns must
    *     be re-specced before they can be dropped.
    *   - ALTER COLUMN TYPE: int → bigint widening only — the codec's
    *     integer strings, zone maps, partition values, and bloom keys
    *     are all identical across the two types, so the commit is pure
    *     metadata; anything else would re-encode data files.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // SET/UNSET TBLPROPERTIES are sidecar-only (no manifest version):
    // split them out so a property change never pays a schema commit
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (schemaChanges.isEmpty && propChanges.nonEmpty) {
      val schema = ManifestTable.readManifest(dir).get.schema
      applyPropChanges(dir, schema, propChanges)
      return new GTable(dir, schema,
        declaredPart = declaredPartOf(dir, schema),
        declaredProps = TblMeta.properties(dir))
    }
    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1, s"nested $what is not supported")
      fieldNames(0)
    }
    // the whole change-fold runs INSIDE commitSchema's CAS loop, against
    // whatever manifest is current on each attempt — a fold precomputed
    // against a stale read would publish a schema that silently reverts
    // any commit that landed in between (the round-14 advisory). The
    // vars capture the WINNING attempt's outcome.
    var newPartSpec: Option[Seq[String]] = None
    var finalSchema: StructType = null
    ManifestTable.commitSchema(dir, m => {
      val liveCols = m.files.flatMap(_.cols).toSet
      var files: Seq[ManifestTable.FileEntry] =>
        Seq[ManifestTable.FileEntry] = identity
      newPartSpec = None
      val newSchema = schemaChanges.foldLeft(m.schema) {
        case (s, add: TableChange.AddColumn) =>
          val name = single(add.fieldNames(), "ADD COLUMN")
          require(!s.fieldNames.contains(name),
            s"column '$name' already exists")
          require(!liveCols.contains(name),
            s"column '$name' was dropped but live files still carry it — " +
              "compact the table first or use a new name")
          val next = s.add(name, add.dataType(), nullable = true)
          ManifestTable.checkSupported(next)
          next
        case (s, rn: TableChange.RenameColumn) =>
          val from = single(rn.fieldNames(), "RENAME COLUMN")
          val to = rn.newName()
          require(s.fieldNames.contains(from), s"no column '$from'")
          require(!s.fieldNames.contains(to),
            s"column '$to' already exists")
          require(!liveCols.contains(to),
            s"column '$to' was dropped but live files still carry it — " +
              "compact the table first or use a new name")
          // column lists and per-column stats follow: skipping stays exact
          val prevFiles = files
          files = fs => prevFiles(fs).map(f => f.copy(
            cols = f.cols.map(c => if (c == from) to else c),
            stats = f.stats.renamed(from, to)))
          val pcols = newPartSpec.getOrElse(TblMeta.partitionCols(dir))
          if (pcols.contains(from))
            newPartSpec = Some(pcols.map(c => if (c == from) to else c))
          val next = StructType(s.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          ManifestTable.checkSupported(next)
          next
        case (s, del: TableChange.DeleteColumn) =>
          val name = single(del.fieldNames(), "DROP COLUMN")
          require(s.fieldNames.contains(name), s"no column '$name'")
          require(s.fields.length > 1, "cannot drop the last column")
          require(!TblMeta.partitionCols(dir).contains(name),
            s"'$name' is a partition column — change the partition spec " +
              "before dropping it")
          StructType(s.fields.filterNot(_.name == name))
        case (s, up: TableChange.UpdateColumnType) =>
          val name = single(up.fieldNames(), "ALTER COLUMN TYPE")
          val f = s.fields.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(s"no column '$name'"))
          require(f.dataType == IntegerType &&
              up.newDataType() == LongType,
            s"only int -> bigint widening is supported, got " +
              s"${f.dataType.sql} -> ${up.newDataType().sql}")
          StructType(s.fields.map(x =>
            if (x.name == name) x.copy(dataType = LongType) else x))
        case (_, other) => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change: $other (supported: ADD / " +
            "RENAME / DROP COLUMN, ALTER COLUMN TYPE int -> bigint)")
      }
      finalSchema = newSchema
      (newSchema, files)
    })
    // the declared partition spec follows a partition-column rename —
    // written only AFTER the schema commit wins its CAS
    newPartSpec.foreach(TblMeta.write(dir, _))
    if (propChanges.nonEmpty)
      applyPropChanges(dir, finalSchema, propChanges)
    new GTable(dir, finalSchema, declaredPart = declaredPartOf(dir),
      declaredProps = TblMeta.properties(dir))
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: merge into the `_TBLMETA`
    * sidecar, validated against the live schema. A newly-set skipping
    * structure applies from the NEXT write — existing files adopt it at
    * their next compaction / COW rewrite (the documented lag).
    */
  private def applyPropChanges(dir: String, schema: StructType,
      propChanges: Seq[TableChange]): Unit = {
    val merged = propChanges.foldLeft(TblMeta.properties(dir)) {
      case (m, sp: TableChange.SetProperty) =>
        m + (sp.property() -> sp.value())
      case (m, rp: TableChange.RemoveProperty) => m - rp.property()
      case (m, _) => m
    }
    TblMeta.write(dir, TblMeta.partitionCols(dir),
      GTabProps.validated(schema, merged.asJava))
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  // `CREATE TABLE ... AS SELECT` through a non-staging catalog is
  // create-then-insert: a failed insert leaves an empty table behind.
  // Here the whole table stages under a sibling directory the catalog
  // never lists (`<name>.stage-<uuid>` has no namespace entry until
  // commit); commitStagedChanges publishes it — a directory rename for
  // CREATE (create-once, so two racing CTAS resolve to one winner), a
  // file adoption + overwrite manifest publish for REPLACE (readers of
  // the old table switch atomically at the pointer swap, and time
  // travel keeps the pre-replace versions). Abort (or a crash — the
  // stage dir is invisible garbage) leaves NO table behind.

  private def validatedPartCols(schema: StructType,
      partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        val c = t.references()(0).fieldNames.mkString(".")
        require(schema.fieldNames.contains(c),
          s"PARTITIONED BY names absent column '$c'")
        schema(c).dataType match {
          case BooleanType | IntegerType | LongType | StringType =>
          case other => throw new IllegalArgumentException(
            s"PARTITIONED BY column '$c' is ${other.sql} — partition " +
              "columns support boolean, int, bigint, string")
        }
        c
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY identity columns, " +
          s"got $other")
    }

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], replace: Boolean, orCreate: Boolean,
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    checkIdent(ident)
    val dir = dirOf(ident)
    if (!replace && isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !isTable(dir))
      throw new NoSuchTableException(ident)
    require(!viewExists(ident),
      s"a view named ${ident.name()} already exists")
    ManifestTable.checkSupported(schema)
    val partCols = validatedPartCols(schema, partitions)
    val props = GTabProps.validated(schema, properties)
    FsMeta.mkdirs(dirOf(ident.namespace().toSeq))
    val stageDir = dir + ".stage-" + java.util.UUID.randomUUID
    FsMeta.mkdirs(stageDir)
    ManifestTable.commitVersion(stageDir, schema, Nil, keepPrevious = false,
      op = "create")
    if (partCols.nonEmpty || props.nonEmpty)
      TblMeta.write(stageDir, partCols, props)
    new GStagedTable(stageDir, dir, schema, partCols, props, replace, ident)
  }

  // graft columns carry no defaults/generation — name/type/nullability
  // is the whole contract (checkSupported rejects exotic types anyway)
  private def toStructType(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : StructType =
    StructType(columns.map(c => org.apache.spark.sql.types
      .StructField(c.name(), c.dataType(), c.nullable())))

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, toStructType(columns), partitions,
      replace = false, orCreate = false, properties = properties)

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, toStructType(columns), partitions,
      replace = true, orCreate = false, properties = properties)

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, toStructType(columns), partitions,
      replace = true, orCreate = true, properties = properties)

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) false
    else { FsMeta.deleteRecursive(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    checkIdent(newIdent)
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // This catalog IS the directory layout, so a table rename is a
    // directory rename. Fine where rename is O(1) metadata (HDFS/
    // local); on an object store it silently degrades to copying the
    // whole table — in no-rename commit mode refuse loudly instead
    // (the operator can CTAS under the new name or point a view at it)
    if (FsMeta.noRenameCommits) throw new UnsupportedOperationException(
      s"ALTER TABLE RENAME under spark.graft.commit.norename=true would " +
        s"copy every data file of ${oldIdent} (object-store rename is " +
        "copy+delete) — CTAS to the new name or create a view instead")
    FsMeta.mkdirs(dirOf(newIdent.namespace().toSeq))
    if (!FsMeta.renameIfAbsent(dirOf(oldIdent), dirOf(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
  }

  // ---- catalog-persisted views (see [[GraftViews]]) ----
  // Spark 4.1 wires NO SQL statement to ViewCatalog yet; DDL arrives
  // through `CALL g.system.create_view/drop_view` and reads resolve
  // through the GraftViewResolution extension rule — both land on this
  // implementation's storage, so the surfaces can never drift.

  private def viewParts(ident: Identifier): Seq[String] =
    ident.namespace().toSeq :+ ident.name()

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(warehouse, viewParts(ident))

  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(warehouse, namespace)
      .map(n => Identifier.of(namespace.toArray, n)).toArray

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val sql = GraftViews.read(warehouse, viewParts(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String =
        (catalogName +: viewParts(ident)).mkString(".")
      override def query(): String = sql
      override def currentCatalog(): String = catalogName
      override def currentNamespace(): Array[String] = ident.namespace()
      // the text re-analyzes at read time; the schema is whatever the
      // query produces TODAY (a view tracks its base tables' evolution)
      override def schema(): StructType = org.apache.spark.sql
        .SparkSession.active.sql(sql).schema
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] =
        new util.HashMap[String, String]()
    }
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    checkIdent(ident)
    if (viewExists(ident))
      throw new IllegalArgumentException(
        s"view ${viewParts(ident).mkString(".")} already exists")
    require(!tableExists(ident),
      s"a table named ${ident.name()} already exists")
    GraftViews.write(warehouse, viewParts(ident), info.sql())
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "graft views carry no mutable properties — drop and re-create")

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(warehouse, viewParts(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    checkIdent(to)
    val sql = GraftViews.read(warehouse, viewParts(from)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(from))
    require(!viewExists(to) && !tableExists(to),
      s"${to.name()} already exists")
    GraftViews.write(warehouse, viewParts(to), sql)
    GraftViews.drop(warehouse, viewParts(from))
  }

  // ---- namespaces (plain directories without a manifest) ----

  override def listNamespaces(): Array[Array[String]] =
    FsMeta.listSubdirs(warehouse)
      .filterNot(n => isStageDir(n) || isTable(s"$warehouse/$n"))
      .map(n => Array(n)).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val d = dirOf(namespace.toSeq)
    if (!FsMeta.isDirectory(d)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq).toArray)
    FsMeta.listSubdirs(d).filterNot(n => isStageDir(n) || isTable(s"$d/$n"))
      .map(n => namespace :+ n).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || FsMeta.isDirectory(dirOf(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq).toArray)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    checkNames(namespace.toSeq)
    FsMeta.mkdirs(dirOf(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = dirOf(namespace.toSeq)
    if (!FsMeta.isDirectory(d)) false
    else {
      require(cascade || FsMeta.listSubdirs(d).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      FsMeta.deleteRecursive(d); true
    }
  }
}

/** A staged CTAS/RTAS table: a full GTable living in an unlisted
  * staging directory — the AS-SELECT insert runs through the connector's
  * normal write path against it. Commit publishes atomically:
  *
  *   - CREATE: one create-once directory rename (two racing CTAS on the
  *     same name resolve to exactly one winner, the loser's stage is
  *     cleaned and a typed TableAlreadyExists surfaces);
  *   - REPLACE: staged data files ADOPT into the live directory under
  *     their collision-free names, then one overwrite manifest publish
  *     swaps the table contents — in-flight readers keep their version,
  *     time travel keeps the pre-replace history (rollback-able), and
  *     the old files await expire+vacuum like any overwrite.
  *
  * Abort deletes the staging directory; a crash before commit leaves
  * only the unlisted stage dir (never a half-created table).
  */
private[sources] class GStagedTable(stageDir: String, dir: String,
    schema0: StructType, partCols: Seq[String],
    props: Map[String, String], replace: Boolean, ident: Identifier)
    extends GTable(stageDir, schema0, declaredPart = partCols,
      declaredProps = props)
    with org.apache.spark.sql.connector.catalog.StagedTable {

  /** No-rename commit mode: the AS-SELECT insert writes its data files
    * straight into the LIVE table's data directory (write-once names,
    * invisible until a manifest lists them) via the `dataDir` write
    * option; the staged manifest still publishes under the stage dir
    * and only NAMES carry over at commit.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val m = new util.HashMap[String, String](info.options())
    // provenance: the staged AS-SELECT payload reads as "ctas" in
    // history, not as a bare "append" of staging mechanics
    m.put("commitOp", "ctas")
    if (FsMeta.noRenameCommits) m.put("dataDir", dir)
    super.newWriteBuilder(
      new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
        override def queryId(): String = info.queryId()
        override def schema(): StructType = info.schema()
        override def rowIdSchema() = info.rowIdSchema()
        override def metadataSchema() = info.metadataSchema()
      })
  }

  override def commitStagedChanges(): Unit = {
    if (FsMeta.noRenameCommits) {
      val staged = ManifestTable.readManifest(stageDir).getOrElse(
        throw new IllegalStateException(
          s"staged table at $stageDir lost its manifest"))
      try {
        if (replace)
          ManifestTable.commitVersion(dir, staged.schema, staged.files,
            keepPrevious = false, op = "replace")
        else ManifestTable.commitCreate(dir, staged.schema, staged.files,
          // no-rename CTAS collapses to ONE commit — label it as the
          // CTAS it is, matching the default mode's v2 label
          op = "ctas")
      } catch {
        case _: ManifestTable.ConcurrentCommitException if !replace =>
          // create-once CAS lost: clean this attempt's files where
          // they were born and surface the typed collision
          staged.files.foreach(f =>
            FsMeta.deleteRecursive(s"$dir/data/${f.name}"))
          FsMeta.deleteRecursive(stageDir)
          throw new TableAlreadyExistsException(ident)
      }
      if (partCols.nonEmpty || props.nonEmpty)
        TblMeta.write(dir, partCols, props)
      else if (FsMeta.exists(s"$dir/_TBLMETA"))
        TblMeta.write(dir, Nil, Map.empty[String, String])
      FsMeta.deleteRecursive(stageDir)
      return
    }
    if (!replace) {
      if (!FsMeta.renameIfAbsent(stageDir, dir)) {
        FsMeta.deleteRecursive(stageDir)
        throw new TableAlreadyExistsException(ident)
      }
    } else {
      val staged = ManifestTable.readManifest(stageDir).getOrElse(
        throw new IllegalStateException(
          s"staged table at $stageDir lost its manifest"))
      // ensure the destination data dir exists BEFORE the moves: local
      // Hadoop rename silently degrades to a copy when the dest parent
      // is missing — adoption must stay O(1) renames
      FsMeta.mkdirs(s"$dir/data")
      staged.files.foreach { f =>
        if (!FsMeta.renameIfAbsent(s"$stageDir/data/${f.name}",
            s"$dir/data/${f.name}"))
          throw new IllegalStateException(
            s"staged file ${f.name} collides with an existing data file")
      }
      ManifestTable.commitVersion(dir, staged.schema, staged.files,
        keepPrevious = false, op = "replace")
      if (partCols.nonEmpty || props.nonEmpty)
        TblMeta.write(dir, partCols, props)
      else if (FsMeta.exists(s"$dir/_TBLMETA"))
        TblMeta.write(dir, Nil, Map.empty[String, String])
      FsMeta.deleteRecursive(stageDir)
    }
  }

  override def abortStagedChanges(): Unit = {
    // no-rename mode wrote data files into the LIVE dir; they are
    // unreferenced (the live manifest never listed them) — delete them
    // rather than leaving them to vacuum
    if (FsMeta.noRenameCommits)
      ManifestTable.readManifest(stageDir).foreach(_.files.foreach(f =>
        FsMeta.deleteRecursive(s"$dir/data/${f.name}")))
    FsMeta.deleteRecursive(stageDir)
  }
}

/** The table-property vocabulary the catalog persists and the write
  * path honors — the SQL front door to the connector's skipping
  * structures and row-level operation modes:
  *
  * {{{
  *   CREATE TABLE g.db.t (...) TBLPROPERTIES(
  *     'bloomColumns'='k,s',        -- per-file blooms on every write
  *     'ndvColumns'='k',            -- per-file KMV sketches (CBO NDV)
  *     'write.delete.mode'='merge-on-read')  -- DML strategy
  *   ALTER TABLE g.db.t SET TBLPROPERTIES('bloomColumns'='k')
  * }}}
  *
  * Declared properties apply to every INSERT / CTAS / row-level rewrite
  * through the catalog (an explicit write option still overrides); a
  * property adopted by ALTER takes effect from the NEXT write — already
  * -committed files gain the structures only when a compaction or COW
  * rewrite touches them (the documented adoption lag).
  */
private[sources] object GTabProps {
  val BloomColumns = "bloomColumns"
  val NdvColumns = "ndvColumns"
  val DeleteMode = "write.delete.mode"
  val UpdateMode = "write.update.mode"
  val MergeMode = "write.merge.mode"
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"
  private val Modes = Set(CopyOnWrite, MergeOnRead)
  // Spark-managed keys that arrive on createTable but are catalog
  // bookkeeping, not graft table configuration — never persisted
  private val SparkManaged =
    Set("owner", "provider", "comment", "location", "external")

  /** Validate and normalize an incoming property map against `schema`;
    * returns what `_TBLMETA` should persist. Unknown keys pass through
    * (they may configure a future writer), recognized keys are
    * validated HERE so a bad property fails the DDL, not the first
    * INSERT.
    */
  def validated(schema: StructType,
      properties: util.Map[String, String]): Map[String, String] = {
    val p = properties.asScala.toMap
      .filterNot(kv => SparkManaged.contains(kv._1.toLowerCase))
    def checkCols(key: String): Unit = p.get(key).foreach {
      _.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"$key names absent column '$c'"))
        require(GTabBloom.supported(f.dataType),
          s"$key: '$c' is ${f.dataType.sql} — int/long/string only")
      }
    }
    checkCols(BloomColumns); checkCols(NdvColumns)
    Seq(DeleteMode, UpdateMode, MergeMode).foreach(k =>
      p.get(k).foreach(v => require(Modes.contains(v),
        s"$k must be '$CopyOnWrite' or '$MergeOnRead', got '$v'")))
    p
  }
}

/** Catalog-declared table metadata that must survive every commit: a
  * tiny `_TBLMETA` sidecar (`part=<cols>` plus one `prop=<k>\t<v>` line
  * per table property), written at CREATE TABLE and rewritten by ALTER
  * TABLE SET/UNSET TBLPROPERTIES. Kept OUTSIDE the manifest so no
  * commit path needs to carry it and the manifest format stays
  * untouched; the SCAN still derives partitioning from the files
  * themselves (ground truth) — the declared spec and properties drive
  * the WRITE side (auto-partitioning, bloom/NDV skipping structures,
  * row-level operation mode).
  */
private[sources] object TblMeta {
  private def path(dir: String) = s"$dir/_TBLMETA"

  /** Rewrite the sidecar. `props = null` (the default) PRESERVES the
    * existing properties — spec-only callers (partition-spec evolution,
    * a rename's spec carry) must not silently strip a table's declared
    * skipping structures.
    */
  def write(dir: String, partCols: Seq[String],
      props: Map[String, String] = null): Unit = {
    val p = Option(props).getOrElse(properties(dir))
    val lines =
      s"part=${partCols.map(ManifestTable.escape).mkString(",")}" +:
        p.toSeq.sortBy(_._1).map { case (k, v) =>
          s"prop=${ManifestTable.escape(k)}\t${ManifestTable.escape(v)}"
        }
    FsMeta.writeString(path(dir), lines.mkString("", "\n", "\n"))
  }

  def partitionCols(dir: String): Seq[String] =
    if (!FsMeta.exists(path(dir))) Nil
    else FsMeta.readString(path(dir)).linesIterator
      .collectFirst { case l if l.startsWith("part=") =>
        l.stripPrefix("part=").split(",").filter(_.nonEmpty)
          .map(ManifestTable.unescape).toSeq }
      .getOrElse(Nil)

  def properties(dir: String): Map[String, String] =
    if (!FsMeta.exists(path(dir))) Map.empty
    else FsMeta.readString(path(dir)).linesIterator.collect {
      case l if l.startsWith("prop=") =>
        l.stripPrefix("prop=").split("\t", 2) match {
          case Array(k, v) =>
            ManifestTable.unescape(k) -> ManifestTable.unescape(v)
          case Array(k) => ManifestTable.unescape(k) -> ""
        }
    }.toMap
}
