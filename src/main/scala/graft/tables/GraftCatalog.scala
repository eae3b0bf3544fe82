package graft.tables

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not => fnot}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL face of [[GraftTable]]: a DataSource V2 `TableCatalog` plugin, so
  * the transactional table layer is a first-class SQL citizen —
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.tables.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse
  *
  *   CREATE TABLE graft.ns.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')
  *   INSERT INTO graft.ns.t SELECT ...
  *   INSERT OVERWRITE graft.ns.t SELECT ...
  *   SELECT * FROM graft.ns.t VERSION AS OF 3        -- time travel
  *   DELETE FROM graft.ns.t WHERE k % 2 = 0          -- file-pruned rewrite
  *   TRUNCATE / DROP / SHOW TABLES / DESCRIBE
  * }}}
  *
  * Design: the catalog maps `graft.<ns...>.<table>` to `<root>/<ns...>/
  * <table>` and delegates every operation to the existing log-backed table
  * ops — reads go through `snapshot(version)` (the vectorized parquet scan
  * over the log's active file set), writes through `append`/`overwrite`
  * (immutable files + one atomic commit), deletes through `deleteWhere`
  * (touched-file rewrite). The read and write faces use Spark's PUBLIC
  * V1-fallback connector APIs ([[V1Scan]] / [[V1Write]] — the same bridge
  * the built-in JDBC v2 connector uses), so the full Spark type system is
  * supported with zero bespoke row decoding: column pruning and every
  * convertible predicate are pushed through the inner DataFrame where they
  * reach the parquet scan as `PushedFilters`, and residual predicates stay
  * with Spark. Nothing here is row-level driver work: the catalog does
  * O(log) metadata on the driver and plans distributed jobs for data.
  *
  * Time-travel loads (`VERSION AS OF v`) return a READ-ONLY table — a write
  * to the past must fail loud, not fork history.
  */
private[tables] object GraftCatalog {
  /** V2 columns → StructType, PRESERVING generated-column expressions and
    * identity specs as field metadata under Spark's own keys. Spark's
    * default bridge (`CatalogV2Util.v2ColumnsToStructType` — Scala-private
    * but bytecode-public, invoked reflectively so its DEFAULT-value
    * encoding stays exactly the analyzer's) drops both on the floor.
    */
  def structWithColumnMetadata(
      columns: Array[org.apache.spark.sql.connector.catalog.Column]): StructType = {
    val base = {
      val cls = Class.forName(
        "org.apache.spark.sql.connector.catalog.CatalogV2Util$")
      cls.getMethod("v2ColumnsToStructType",
          classOf[Array[org.apache.spark.sql.connector.catalog.Column]])
        .invoke(cls.getField("MODULE$").get(null), columns)
        .asInstanceOf[StructType]
    }
    StructType(base.fields.zip(columns).map { case (f, c) =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      Option(c.generationExpression()).filter(_.nonEmpty).foreach(e =>
        mb.putString(GraftTable.GenerationExpressionKey, e))
      Option(c.identityColumnSpec()).foreach { s =>
        mb.putLong(GraftTable.IdentityStartKey, s.getStart)
        mb.putLong(GraftTable.IdentityStepKey, s.getStep)
        mb.putBoolean(GraftTable.IdentityAllowExplicitKey, s.isAllowExplicitInsert)
      }
      f.copy(metadata = mb.build())
    })
  }
}

final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var root: Path = _

  // ALTER TABLE … SET TBLPROPERTIES face of the bloom filter index:
  //   'graft.bloom.columns' = 'c1,c2' | 'c1:200000,c2'   (UNSET clears)
  //   'graft.bloom.ndv'     = '100000'                    (statement default)
  private val BloomColsProp = "graft.bloom.columns"
  private val BloomNdvProp = "graft.bloom.ndv"
  //   'graft.sort.by' = 'c1,c2'  — write-time task-local sort order
  //   (UNSET clears); see GraftTable.setSortOrder
  private val SortByProp = "graft.sort.by"

  // one GraftTable handle per location: commit parses memoize per instance
  // (immutable files), so repeated SQL statements replay only NEW commits
  // instead of re-reading the whole log each time. Invalidation just drops
  // the handle; DROP/RENAME do it eagerly.
  private val handles = scala.collection.concurrent.TrieMap.empty[String, GraftTable]
  private def handle(p: Path): GraftTable =
    handles.getOrElseUpdate(p.toString, GraftTable.at(spark, p.toString))

  private def spark: SparkSession = SparkSession.active
  private def fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root=<warehouse dir>")
    root = new Path(r)
  }

  override def name(): String = catalogName

  /** CHECK constraints are first-class: `ALTER TABLE … ADD CONSTRAINT c
    * CHECK (…)` / `DROP CONSTRAINT` route to the log-backed metadata
    * commits, and every write validates per row inside the write job.
    * Column DEFAULTs ride the schema's field METADATA (Spark's analyzer
    * resolves them into inserts; the schema JSON the log versions carries
    * field metadata verbatim, so defaults time-travel with their schema).
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // GENERATED ALWAYS AS (expr): Spark validates the expression at DDL
      // time and ships it as field metadata under its own key; the table
      // layer computes null slots and validates supplied values per row
      // inside every write job (GraftTable.writeData)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // GENERATED ALWAYS/BY DEFAULT AS IDENTITY: values assigned inside
      // the write from the log-carried high-water mark (GraftTable)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  override def invalidateTable(ident: Identifier): Unit =
    handles.remove(tablePath(ident).toString)

  /** `<root>/<ns...>/<table>`; segments must be plain path components. */
  private def pathOf(parts: Seq[String]): Path = {
    parts.foreach(p => require(p.nonEmpty && !p.contains("/") && p != ".." && p != ".",
      s"illegal identifier segment '$p'"))
    parts.foldLeft(root)(new Path(_, _))
  }
  private def tablePath(ident: Identifier): Path =
    pathOf(ident.namespace.toIndexedSeq :+ ident.name)

  private def isTableDir(p: Path): Boolean = new GraftLog(p, () => fs).exists

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (isTableDir(p)) new GraftSqlTable(handle(p), identString(ident), None)
    else metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** Iceberg-style metadata tables: `graft.ns.t.history` (one row per
    * commit) and `graft.ns.t.files` (the CURRENT snapshot's active files
    * with their logged sizes, partition tuples, and zone-map column
    * counts). Resolved when the identifier's NAMESPACE path is itself a
    * table and the name is a known suffix — read-only, driver-built from
    * O(log) metadata (never a data scan).
    */
  private def metadataTable(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val base = pathOf(ident.namespace.toIndexedSeq)
    if (!isTableDir(base)) return None
    val t = handle(base)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    ident.name match {
      case "history" =>
        val schema = StructType(Seq(
          StructField("version", LongType), StructField("op", StringType),
          StructField("ts", LongType), StructField("added", IntegerType),
          StructField("removed", IntegerType), StructField("rows_added", LongType),
          StructField("rows_removed", LongType), StructField("bytes_added", LongType)))
        Some(new GraftMetadataTable(identString(ident), schema, () =>
          t.history.map(h =>
            Row(h.version, h.op, h.ts, h.added, h.removed, h.rowsAdded,
              h.rowsRemoved, h.bytesAdded))))
      case "files" =>
        val schema = StructType(Seq(
          StructField("path", StringType), StructField("rows", LongType),
          StructField("bytes", LongType),
          StructField("partition", MapType(StringType, StringType)),
          StructField("stats_columns", IntegerType),
          StructField("deleted_rows", LongType)))
        Some(new GraftMetadataTable(identString(ident), schema, () =>
          t.currentFiles.map(f => Row(f.path, f.rows, f.bytes,
            f.pv.map { case (k, v) => k -> v.orNull }, f.cs.size,
            f.dv.map(_.n).getOrElse(0L)))))
      case "detail" =>
        // DESCRIBE DETAIL, as a one-row metadata table: the operational
        // summary every lakehouse exposes — all from O(log) driver state
        val schema = StructType(Seq(
          StructField("location", StringType), StructField("version", LongType),
          StructField("num_files", LongType), StructField("num_rows", LongType),
          StructField("size_bytes", LongType),
          StructField("key_column", StringType),
          StructField("partition_columns", ArrayType(StringType)),
          StructField("constraints", MapType(StringType, StringType)),
          StructField("renamed_columns", MapType(StringType, StringType)),
          StructField("sort_order", ArrayType(StringType)),
          StructField("bloom_columns", MapType(StringType, LongType)),
          StructField("branches", ArrayType(StringType)),
          StructField("reader_features", ArrayType(StringType)),
          StructField("writer_features", ArrayType(StringType)),
          StructField("column_ndv", MapType(StringType, LongType)),
          StructField("created_ts", LongType),
          StructField("last_modified_ts", LongType)))
        Some(new GraftMetadataTable(identString(ident), schema, () => {
          val s = t.log.snapshot()
          val m = s.meta
          val hist = t.history
          Seq(Row(t.location, s.version, s.files.size.toLong,
            s.files.map(GraftTable.liveRows).sum, s.files.map(_.bytes).sum,
            t.keyCol.orNull, t.partitionBy, m.constraints,
            m.colmap, m.logicalSort, m.byLogical(m.bloom), t.listBranches,
            m.readerFeatures.toSeq.sorted, m.writerFeatures.toSeq.sorted,
            m.byLogical(m.ndv), hist.head.ts, hist.last.ts))
        }))
      case "branches" =>
        // live (unpublished) WAP branches: name, the main version they were
        // cut at, and their own head — O(branches) driver metadata
        val schema = StructType(Seq(
          StructField("name", StringType),
          StructField("branch_point", LongType),
          StructField("head_version", LongType)))
        Some(new GraftMetadataTable(identString(ident), schema, () =>
          t.listBranches.map(n =>
            Row(n, t.branchPoint(n), t.branch(n).version))))
      case "tags" =>
        // immutable tag refs: name → pinned version — O(tags) metadata
        val schema = StructType(Seq(
          StructField("name", StringType),
          StructField("version", LongType)))
        Some(new GraftMetadataTable(identString(ident), schema, () =>
          t.listTags.map { case (n, v) => Row(n, v) }))
      case _ => None
    }
  }

  /** `VERSION AS OF <v>` time travel (read-only); a non-numeric version
    * string names a BRANCH (`VERSION AS OF 'audit'` — the WAP read face)
    * or a TAG (`VERSION AS OF 'run-2026-08-15'` — the immutable
    * reproducibility ref, resolved to its pinned version so the table is
    * read-only like any time travel). Branch/tag names may not start with
    * a digit and share one namespace (collisions refused at creation), so
    * the three spaces never collide.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    version.toLongOption match {
      case Some(v) => new GraftSqlTable(handle(p), identString(ident), Some(v))
      case None =>
        val t = handle(p)
        if (t.listBranches.contains(version))
          new GraftSqlTable(t.branch(version),
            s"${identString(ident)}@$version", None)
        else if (t.listTags.exists(_._1 == version))
          new GraftSqlTable(t, s"${identString(ident)}@$version",
            Some(t.tagVersion(version)))
        else throw new IllegalArgumentException(
          s"graft table versions are commit numbers, branch names, or tag " +
            s"names; got '$version' (branches: " +
            s"${t.listBranches.mkString(", ")}; tags: " +
            s"${t.listTags.map(_._1).mkString(", ")})")
    }
  }

  /** `TIMESTAMP AS OF <ts>` time travel (read-only): Spark hands the
    * timestamp in MICROseconds; commits log millis — resolved to the
    * newest commit at-or-before that instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val t = handle(p)
    new GraftSqlTable(t, identString(ident), Some(t.versionAt(timestamp / 1000L)))
  }

  /** The pieces of a table DEFINITION shared by CREATE and the staged
    * CREATE/REPLACE paths: identity partition columns, the merge key from
    * TBLPROPERTIES ('key'), and declared CHECK constraints
    * (TBLPROPERTIES 'constraint.<name>'), each validated against the
    * declared schema BEFORE anything commits — a bad definition must fail
    * cleanly, never strand a half-created table.
    */
  /** `TBLPROPERTIES ('key.unique' = 'true')` — the SQL face of the opt-in
    * UNIQUE KEY enforcement: the flag rides the key field's metadata in
    * the versioned schema (exactly where the API declaration puts it), so
    * every write path enforces it identically.
    */
  private def withUniqueKeyMeta(schema: StructType, keyCol: Option[String],
      properties: util.Map[String, String]): StructType = {
    val unique = Option(properties.get("key.unique")).exists(_.toBoolean)
    if (!unique) return schema
    require(keyCol.isDefined,
      "TBLPROPERTIES 'key.unique' = 'true' needs 'key' = '<column>' too")
    StructType(schema.fields.map(f =>
      if (keyCol.contains(f.name))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putBoolean(GraftTable.KeyUniqueKey, true).build())
      else f))
  }

  private def parseDefinition(schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : (Seq[String], Option[String], Map[String, String]) = {
    val partCols = partitions.toIndexedSeq.map { t =>
      val refs = t.references
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"partition transform must reference one top-level column, got $t")
      val src = refs(0).fieldNames()(0)
      // the int argument of bucket/truncate (Spark parses it as a literal
      // transform argument alongside the field reference)
      def intArg: Int = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"transform $t needs an integer argument"))
      t.name match {
        case "identity" => src
        case "bucket" => s"bucket($intArg,$src)"
        case "days" | "months" | "years" => s"${t.name}($src)"
        case "truncate" => s"truncate($intArg,$src)"
        case other => throw new IllegalArgumentException(
          s"graft-catalog supports PARTITIONED BY (col | bucket(n,col) | " +
            s"days/months/years(col) | truncate(w,col)), got '$other' in $t")
      }
    }
    val keyCol = Option(properties.get("key")).filter(_.nonEmpty)
    keyCol.foreach(k => require(schema.fieldNames.contains(k),
      s"table property 'key'='$k' is not a column of ${schema.fieldNames.mkString(",")}"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val declaredCons = properties.asScala.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("constraint.") => k.stripPrefix("constraint.") -> v
    }
    declaredCons.foreach { case (n, sql) =>
      try empty.where(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(sql), lit(true))).queryExecution.analyzed
      catch { case e: Exception => throw new IllegalArgumentException(
        s"table property 'constraint.$n' = '$sql' does not resolve against " +
          s"the table schema ${schema.simpleString}: ${e.getMessage}", e) }
    }
    (partCols, keyCol, declaredCons.toMap)
  }

  /** The modern column-array CREATE: Spark's default bridge to the
    * StructType variant drops `GENERATED ALWAYS AS` expressions on the
    * floor (`v2ColumnsToStructType` encodes only defaults), so re-attach
    * each column's generation expression as field metadata under Spark's
    * own key before delegating — the table layer derives/validates
    * through it on every write.
    */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTable(ident, GraftCatalog.structWithColumnMetadata(columns),
      partitions, properties)

  // the staged DDL forms (atomic CTAS / RTAS / CREATE OR REPLACE) have the
  // same default Column[]→StructType bridge that drops generated/identity
  // metadata — route them through the preserving conversion too
  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreate(ident, GraftCatalog.structWithColumnMetadata(columns),
      partitions, properties)

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageReplace(ident, GraftCatalog.structWithColumnMetadata(columns),
      partitions, properties)

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreateOrReplace(ident, GraftCatalog.structWithColumnMetadata(columns),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val p = tablePath(ident)
    if (isTableDir(p)) throw new TableAlreadyExistsException(ident)
    val (partCols, keyCol, cons) = parseDefinition(schema, partitions, properties)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      withUniqueKeyMeta(schema, keyCol, properties))
    // constraints land IN the create commit (trivially valid on zero rows);
    // a CTAS's data insert lands after and is enforced per row
    val t = GraftTable.create(spark, p.toString, empty, keyCol, partCols, cons)
    handles.put(p.toString, t)
    new GraftSqlTable(t, identString(ident), None)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) --------------------------

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, allowExisting = false,
      requireExisting = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, allowExisting = true,
      requireExisting = true)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, allowExisting = true,
      requireExisting = false)

  /** Stage an atomic CTAS / RTAS / CREATE-OR-REPLACE: NOTHING persists at
    * stage time — the staged table captures the query's rows at write time
    * and `commitStagedChanges()` lands everything as ONE log commit
    * (`GraftTable.create` for a fresh table; `replaceWith` swaps schema,
    * key, partitioning, constraints AND data while PRESERVING history —
    * time travel to pre-replace versions keeps working). Any failure,
    * including a CHECK violation in the new data, leaves the previous
    * table state untouched; `abortStagedChanges` has nothing to undo.
    */
  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      allowExisting: Boolean, requireExisting: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val p = tablePath(ident)
    val exists = isTableDir(p)
    if (exists && !allowExisting) throw new TableAlreadyExistsException(ident)
    if (!exists && requireExisting) throw new NoSuchTableException(ident)
    val (partCols, keyCol, cons) = parseDefinition(schema, partitions, properties)
    new GraftStagedTable(identString(ident), p.toString,
      withUniqueKeyMeta(schema, keyCol, properties), partCols,
      keyCol, cons, spark, t => handles.put(p.toString, t))
  }

  /** `ALTER TABLE ... ADD COLUMNS` (metadata-only schema-evolution commit;
    * old files null-fill by-name), `RENAME COLUMN` (metadata-only through
    * the log-carried column mapping — physical file names never change, so
    * every era's files keep resolving), and `DROP COLUMN` (metadata-only:
    * the physical binding is RETIRED; time travel keeps the column in old
    * versions; re-adding the name binds a FRESH physical name), and
    * `ALTER COLUMN ... TYPE` for WIDENING promotions only (metadata-only;
    * parquet readers convert old files at scan time — see
    * [[GraftTable.widenColumn]]). Any other type change stays loud:
    * pretending would corrupt by-name resolution.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val t = handle(p)
    // VALIDATE every change before applying ANY: each kind lands as its own
    // log commit, so a statement mixing kinds could otherwise half-apply
    // (a rename committed, then a later unsupported change throwing). All
    // AddColumns go in ONE commit; RENAME/DROP must be the sole change.
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    var rename: Option[TableChange.RenameColumn] = None
    var drop: Option[TableChange.DeleteColumn] = None
    var widen: Option[TableChange.UpdateColumnType] = None
    var addCons: Option[org.apache.spark.sql.connector.catalog.constraints.Check] = None
    var dropCons: Option[TableChange.DropConstraint] = None
    val setProps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var clearBloom = false
    var clearSort = false
    changes.foreach {
      case s: TableChange.SetProperty =>
        require(s.property == BloomColsProp || s.property == BloomNdvProp ||
            s.property == SortByProp,
          s"graft-catalog ALTER TABLE SET TBLPROPERTIES supports " +
            s"'$BloomColsProp' / '$BloomNdvProp' / '$SortByProp' only, " +
            s"got '${s.property}'")
        setProps.put(s.property, s.value)
      case r: TableChange.RemoveProperty =>
        require(r.property == BloomColsProp || r.property == SortByProp,
          s"graft-catalog ALTER TABLE UNSET TBLPROPERTIES supports " +
            s"'$BloomColsProp' / '$SortByProp' only, got '${r.property}'")
        if (r.property == SortByProp) clearSort = true else clearBloom = true
      case a: TableChange.AddConstraint =>
        a.constraint match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(addCons.isEmpty, "one ADD CONSTRAINT per statement")
            addCons = Some(c)
          case other => throw new UnsupportedOperationException(
            s"graft-catalog supports CHECK constraints only, got $other " +
              "(PRIMARY KEY/UNIQUE/FOREIGN KEY are informational elsewhere; " +
              "the 'key' table property covers the merge key)")
        }
      case d: TableChange.DropConstraint =>
        require(dropCons.isEmpty, "one DROP CONSTRAINT per statement")
        dropCons = Some(d)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft-catalog supports top-level ADD COLUMNS only, got ${a.fieldNames.mkString(".")}")
        adds += org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType, nullable = true)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft-catalog supports top-level RENAME COLUMN only, got ${r.fieldNames.mkString(".")}")
        require(rename.isEmpty, "one RENAME COLUMN per ALTER TABLE statement " +
          "(each rename is its own commit; batching them is not atomic)")
        rename = Some(r)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft-catalog supports top-level DROP COLUMN only, got ${d.fieldNames.mkString(".")}")
        require(drop.isEmpty, "one DROP COLUMN per ALTER TABLE statement " +
          "(each drop is its own commit; batching them is not atomic)")
        drop = Some(d)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"graft-catalog supports top-level ALTER COLUMN TYPE only, got ${u.fieldNames.mkString(".")}")
        require(widen.isEmpty, "one ALTER COLUMN TYPE per ALTER TABLE " +
          "statement (each widening is its own commit)")
        widen = Some(u)
      case c => throw new UnsupportedOperationException(
        s"graft-catalog ALTER TABLE supports ADD COLUMNS, RENAME COLUMN, " +
          s"DROP COLUMN and ALTER COLUMN TYPE (widening), got $c")
    }
    val fields = adds.result()
    // bloom and sort land as SEPARATE commits — one property family per
    // statement, same non-atomicity doctrine as the structural changes
    val bloomTouched = setProps.contains(BloomColsProp) ||
      setProps.contains(BloomNdvProp) || clearBloom
    val sortTouched = setProps.contains(SortByProp) || clearSort
    require(Seq(rename.nonEmpty, drop.nonEmpty, widen.nonEmpty, fields.nonEmpty,
        addCons.nonEmpty, dropCons.nonEmpty,
        bloomTouched, sortTouched).count(identity) <= 1,
      "ALTER TABLE cannot mix RENAME COLUMN / DROP COLUMN / ALTER COLUMN " +
        "TYPE / ADD COLUMNS / constraint changes / bloom properties / sort " +
        "properties (they would land as separate, non-atomic commits); " +
        "issue separate statements")
    require(!((setProps.contains(BloomColsProp) ||
        setProps.contains(BloomNdvProp)) && clearBloom),
      "ALTER TABLE cannot SET and UNSET bloom properties in one statement")
    require(!(setProps.contains(SortByProp) && clearSort),
      "ALTER TABLE cannot SET and UNSET the sort order in one statement")
    require(!setProps.contains(BloomNdvProp) || setProps.contains(BloomColsProp),
      s"'$BloomNdvProp' needs '$BloomColsProp' in the same statement " +
        "(the NDV alone does not name the indexed columns)")
    rename.foreach(r => t.renameColumn(r.fieldNames()(0), r.newName))
    widen.foreach(u => t.widenColumn(u.fieldNames()(0), u.newDataType()))
    drop.foreach { d =>
      val c = d.fieldNames()(0)
      // IF EXISTS: the only tolerated absence; anything else stays loud
      if (t.schema.fieldNames.contains(c) || !java.lang.Boolean.TRUE.equals(d.ifExists))
        t.dropColumn(c)
    }
    addCons.foreach(c => t.addConstraint(c.name, c.predicateSql))
    dropCons.foreach { d =>
      if (t.constraints.contains(d.name) || !d.ifExists) t.dropConstraint(d.name)
    }
    if (fields.nonEmpty) t.addColumns(fields)
    if (clearBloom) t.setBloomFilter(Map.empty)
    setProps.get(BloomColsProp).foreach { colsSpec =>
      // 'c1,c2' with an optional per-column 'c1:ndv'; the statement-level
      // 'graft.bloom.ndv' (default 100000) covers the rest
      val defaultNdv = setProps.get(BloomNdvProp).map { n =>
        require(n.forall(_.isDigit) && n.nonEmpty,
          s"'$BloomNdvProp' must be a positive integer, got '$n'")
        n.toLong
      }.getOrElse(100000L)
      val cols = colsSpec.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty)
        .map { spec =>
          spec.split(':') match {
            case Array(c) => c -> defaultNdv
            case Array(c, n) if n.forall(_.isDigit) && n.nonEmpty => c.trim -> n.toLong
            case _ => throw new IllegalArgumentException(
              s"bad bloom column spec '$spec' (want 'col' or 'col:ndv')")
          }
        }
      t.setBloomFilter(cols.toMap)
    }
    if (clearSort) t.setSortOrder(Nil)
    setProps.get(SortByProp).foreach { spec =>
      t.setSortOrder(spec.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    handles.remove(p.toString)
    if (!isTableDir(p)) false else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (from, to) = (tablePath(oldIdent), tablePath(newIdent))
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    handles.remove(from.toString)
    // the destination path may have hosted a table that was dropped via
    // dropNamespace in an older build, or raced away on disk — a stale
    // memoized handle there would serve the WRONG table's commits
    handles.remove(to.toString)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  private def identString(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace :+ ident.name).mkString(".")

  // ---- procedures (CALL graft.system.<proc>) ---------------------------

  /** Resolve a procedure's dotted `table` argument to the memoized handle
    * (same cache the SQL data path uses — commits parse once).
    */
  /** Filesystem path for a dotted name that need NOT exist yet (clone
    * targets); parent namespace dirs are created, segment rules apply.
    */
  private def pathForDotted(dotted: String): String = {
    val parts = dotted.split('.').toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"illegal table name '$dotted'")
    val p = pathOf(parts)
    if (parts.size > 1) fs.mkdirs(p.getParent)
    p.toString
  }

  private def tableFor(dotted: String): GraftTable = {
    val parts = dotted.split('.').toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"illegal table name '$dotted'")
    val p = pathOf(parts)
    if (!isTableDir(p)) throw new NoSuchTableException(
      Identifier.of(parts.init.toArray, parts.last))
    handle(p)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  /** A missing procedure raises the ANALYSIS error CALL resolution (and any
    * caller catching AnalysisException) expects — Spark 4.1 has no dedicated
    * NoSuchProcedureException class, so the declared `ROUTINE_NOT_FOUND`
    * error condition (SQLSTATE 42883) is the typed equivalent; an undeclared
    * UnsupportedOperationException would bypass error translation (ADVICE
    * r11). The helpful "where the procedures live" hint rides in the name.
    */
  private def noSuchProcedure(ident: Identifier, hint: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException("ROUTINE_NOT_FOUND",
      Map("routineName" -> s"`${identString(ident)}` ($hint)"))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(GraftProcedures.Namespace))
      // a procedure-shaped error, not "table not found": CALL against a
      // wrong namespace should say where the procedures live
      noSuchProcedure(ident,
        s"graft procedures live under $catalogName.system: " +
          s"CALL $catalogName.system.<proc>(...)")
    GraftProcedures.load(tableFor, ident.name, pathForDotted,
      dotted => handles.remove(pathOf(dotted.split('.').toIndexedSeq).toString)).getOrElse(
      noSuchProcedure(ident, "have " +
        GraftProcedures.names.map(n => s"$catalogName.system.$n").mkString(", ")))
  }

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val ns = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(ns) || isTableDir(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val ns = pathOf(namespace.toIndexedSeq)
    if (namespace.nonEmpty && (!fs.exists(ns) || isTableDir(ns)))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> ns.toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val ns = pathOf(namespace.toIndexedSeq)
    require(!fs.exists(ns), s"namespace ${namespace.mkString(".")} already exists")
    fs.mkdirs(ns)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(ns)) false
    else {
      if (!cascade) require(fs.listStatus(ns).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      // purge every memoized handle under the namespace: a CASCADE drop
      // deletes its tables, and a later table re-created at a freed path
      // (e.g. via RENAME TO, which only checks fs.exists) must not be
      // served the dropped table's memoized commits
      val prefix = ns.toString + "/"
      handles.keys.filter(k => k == ns.toString || k.startsWith(prefix))
        .foreach(handles.remove)
      fs.delete(ns, true)
    }
  }
}

/** One catalog table handle: reads via [[V1Scan]] over `snapshot(asOf)`
  * (pruned + pushed through the inner DataFrame), writes via [[V1Write]]
  * into `append`/`overwrite`, `DELETE FROM` via [[SupportsDelete]] into the
  * touched-file-rewrite `deleteWhere`. Time-travel handles (`asOf` set) are
  * read-only by capability.
  */
private[tables] final class GraftSqlTable(
    gt: GraftTable, ident: String, asOf: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  // the SQL DML rewrite ([[GraftSqlDml]]) needs the log-backed table and
  // the time-travel marker to route UPDATE / MERGE INTO to the native ops
  private[tables] def underlying: GraftTable = gt
  private[tables] def timeTravel: Option[Long] = asOf

  override def name(): String =
    ident + asOf.map(v => s" VERSION AS OF $v").getOrElse("")

  // snapshot ISOLATION per loadTable: ONE log listing and replay per Table
  // instance (lazily, at first use) serves its schema, scan, statistics
  // and aggregate pushdown, and Spark's analyzer resolves duplicate
  // references to one table in a single query to the same relation — so a
  // self-join/union over the live table reads one consistent version even
  // if a commit lands mid-query. A fresh statement resolves a fresh Table
  // and sees the latest commit.
  private lazy val pinned: Snapshot = gt.log.snapshot(asOf)

  override def schema(): StructType =
    if (asOf.isDefined) gt.read(pinned, timeTravel = true).schema
    else pinned.meta.schema

  /** The table's partition specs as V2 transforms — what the analyzer
    * validates `INSERT OVERWRITE … PARTITION (...)` clauses and SHOW
    * CREATE TABLE against.
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    gt.partitionBy.map(s => PartitionTransforms.parse(s) match {
      case PartitionTransforms.Identity(c) => Expressions.identity(c)
      case PartitionTransforms.Bucket(n, c) => Expressions.bucket(n, c)
      case PartitionTransforms.TimeUnit(u, c) => Expressions.apply(u, Expressions.column(c))
      case PartitionTransforms.Truncate(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
    }).toArray
  }

  /** The live CHECK constraints as the DSv2 constraints surface (SHOW /
    * DESCRIBE integration and the analyzer's ADD/DROP CONSTRAINT path).
    * Enforced + validated: adds validate existing rows, writes validate
    * per row inside the write job.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    gt.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build()
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(gt, pinned, asOf.isDefined, schema(), options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"$name is a time-travel read; writes must target the live table")
    new GraftWriteBuilder(gt, info.queryId(), info.schema())
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => V1FilterConverter.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, s"$name is a time-travel read; DELETE must target the live table")
    val cond = filters.toIndexedSeq.map(f => V1FilterConverter.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"cannot translate delete filter $f")))
      .foldLeft(lit(true))(_ && _)
    gt.deleteWhere(cond)
  }
}

/** Column pruning + filter pushdown land on the inner `snapshot` DataFrame,
  * so they reach the parquet scan; untranslatable predicates stay residual
  * with Spark (exactness preserved — the inner `.where` is the SAME
  * expression Spark would apply).
  *
  * AGGREGATE pushdown ([[SupportsPushDownAggregates]], the JDBC-v2
  * pattern): an un-grouped, un-filtered COUNT(*) / COUNT(col) / MIN(col) /
  * MAX(col) is answered ENTIRELY from the commit log's O(files) metadata —
  * `AddFile.rows` for counts, the logged zone maps for extremes — with no
  * scan node and no Spark job. At 100 TB that is the difference between a
  * driver-side metadata fold and reading every file. Soundness gates, each
  * refusing (full-scan fallback) rather than guessing:
  *   - COUNT(*): always answerable (`rows` is logged for every file);
  *   - COUNT(col): every data file must log the column's null count;
  *   - MIN/MAX(col): integral/date columns only (their zone maps are exact
  *     values; string footer stats may be truncated by writers, so strings
  *     stay un-pushed), present on every data file — an all-null file logs
  *     no range entry and correctly blocks the push;
  *   - any pushed filter, grouping, or DISTINCT blocks the push.
  */
private[tables] final class GraftScanBuilder(
    gt: GraftTable, pinned: Snapshot, timeTravel: Boolean, full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // (result schema, the single answer row, display) once an aggregation
  // is accepted — values computed eagerly against the pinned snapshot
  private var pushedAgg: Option[(StructType, org.apache.spark.sql.Row, String)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(f => V1FilterConverter.toColumn(f).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize the metadata fold so the O(files) work
  // runs once per query, not twice
  private var lastTranslated: Option[(Aggregation, Option[(StructType, org.apache.spark.sql.Row, String)])] = None
  private def translated(agg: Aggregation) = lastTranslated match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = translateAgg(agg)
      lastTranslated = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translated(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translated(agg) match {
      case Some(t) => pushedAgg = Some(t); true
      case None => false
    }

  /** Metadata answer for the whole aggregation, or None to fall back. */
  private def translateAgg(agg: Aggregation)
      : Option[(StructType, org.apache.spark.sql.Row, String)] = {
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    val files = pinned.files
    val dataFiles = files.filter(GraftTable.liveRows(_) > 0)
    // a file with a DELETION VECTOR makes its logged footer stats an
    // over-approximation of the live rows (the deleted rows might have
    // held the extreme value or the nulls): COUNT(*) stays exact via
    // rows − dv.n and partition-tuple stats stay exact per live row (the
    // value is a file constant); footer-derived answers apply per-consumer
    // soundness rules below and REFUSE (exact fallback) when deletion
    // could have changed the answer.
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    def fieldType(c: String): Option[DataType] =
      full.fields.find(_.name == c).map(_.dataType)
    val isPart = gt.partitionBy.toSet
    // a PARTITION column's logged tuple is an exact per-file constant:
    // synthesize a point zone map from it (None = the Hive null
    // partition — all rows null). At 100 TB this is the "MAX(day) on a
    // date-partitioned table" metadata answer.
    def pvStats(f: GraftTable.AddFile, c: String): Option[GraftTable.KeyStats] = {
      val live = GraftTable.liveRows(f) // partition value holds per LIVE row
      f.pv.get(c).flatMap {
        case None => // null partition value: no range, all rows null
          Some(GraftTable.KeyStats("none", "", "", Some(live), Some(live)))
        case Some(s) => fieldType(c).flatMap {
          case ByteType | ShortType | IntegerType | LongType =>
            scala.util.Try(s.toLong).toOption.map(l =>
              GraftTable.KeyStats("long", l.toString, l.toString, Some(0L), Some(live)))
          case DateType =>
            scala.util.Try(java.time.LocalDate.parse(s).toEpochDay).toOption.map(d =>
              GraftTable.KeyStats("long", d.toString, d.toString, Some(0L), Some(live)))
          case StringType => // partition strings are EXACT (not footer stats)
            Some(GraftTable.KeyStats("string", s, s, Some(0L), Some(live)))
          case _ => None
        }
      }
    }
    // every DATA file must carry the column's zone map for the answer to
    // be complete (an all-null or stats-capped file has no entry: refuse);
    // partition columns synthesize exact point stats from the log's tuples
    // (exact even under DVs — the value is a file constant). Footer stats
    // on a DV'd file only BOUND its live rows; the consumers below apply
    // per-consumer soundness rules instead of a blanket refusal.
    def statsOf(c: String): Option[Seq[(GraftTable.AddFile, GraftTable.KeyStats)]] = {
      val ss = dataFiles.map(f =>
        (if (isPart(c)) pvStats(f, c) else f.cs.get(pinned.meta.physName(c))).map(f -> _))
      if (ss.forall(_.isDefined)) Some(ss.flatten) else None
    }
    // integral/date zone maps are exact ("long" kind); partition-sourced
    // string stats are exact values too (footer string stats stay
    // un-pushed — writers may truncate them). "none" entries (all-null
    // partition files) carry no range and are skipped by MIN/MAX.
    // DELETION VECTORS: a DV'd file's footer range only BOUNDS its live
    // extreme (the row holding the physical extreme may be deleted) — the
    // push stays sound iff the candidate answer from DV-free/partition
    // files DOMINATES every DV'd file's bound (live min ≥ physical min ≥
    // candidate ⇒ the candidate stands); otherwise refuse, exact fallback.
    def extreme(c: String, max: Boolean): Option[(DataType, Any)] =
      fieldType(c).filter {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case StringType => isPart(c)
        case _ => false
      }.flatMap { dt =>
        statsOf(c).map(_.filter(_._2.kind != "none"))
          .filter(_.forall { case (_, s) =>
            s.kind == "long" || (s.kind == "string" && isPart(c)) }).flatMap { ss =>
          // partition point stats are exact per LIVE row — never "bounded"
          val (bounded, exact) = ss.partition { case (f, _) =>
            f.dv.isDefined && !isPart(c) }
          if (ss.isEmpty) Some(dt -> (null: Any)) // empty/all-null: answer null
          else if (exact.isEmpty) None // every file only bounded: refuse
          else if (ss.head._2.kind == "string") {
            // Spark's string MIN/MAX order is unsigned UTF-8 bytes
            val ord = Ordering.fromLessThan[String](GraftTable.utf8Cmp(_, _) < 0)
            val cand = if (max) exact.map(_._2.max).max(ord)
              else exact.map(_._2.min).min(ord)
            val dominated = bounded.forall { case (_, s) =>
              if (max) ord.lteq(s.max, cand) else ord.gteq(s.min, cand) }
            if (dominated) Some(dt -> (cand: Any)) else None
          }
          else {
            val cand = if (max) exact.map(_._2.max.toLong).max
              else exact.map(_._2.min.toLong).min
            val dominated = bounded.forall { case (_, s) =>
              if (max) s.max.toLong <= cand else s.min.toLong >= cand }
            if (!dominated) None
            else {
              val v: Any = dt match {
                case ByteType => cand.toByte
                case ShortType => cand.toShort
                case IntegerType => cand.toInt
                case LongType => cand
                case DateType =>
                  java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(cand))
                case other => throw new IllegalStateException(s"unreachable: $other")
              }
              Some(dt -> v)
            }
          }
        }
      }
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    val shown = Seq.newBuilder[String]
    agg.aggregateExpressions.foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
        values += dataFiles.map(GraftTable.liveRows).sum
        shown += "COUNT(*)"
      case c: Count if !c.isDistinct =>
        val n = colName(c.column).getOrElse(return None)
        val ss = statsOf(n).getOrElse(return None)
        var total = 0L
        ss.foreach { case (f, s) =>
          val nulls = s.nulls.getOrElse(return None)
          total += (
            if (isPart(n)) GraftTable.liveRows(f) - nulls // pv stats are live-based
            else if (f.dv.isEmpty) f.rows - nulls
            // DV'd file: the logged null count is physical — exact only at
            // the endpoints (no nulls to delete / nothing but nulls)
            else if (nulls == 0L) GraftTable.liveRows(f)
            else if (nulls == f.rows) 0L
            else return None)
        }
        fields += StructField(s"count($n)", LongType, nullable = false)
        values += total
        shown += s"COUNT($n)"
      case m: Min =>
        val n = colName(m.column).getOrElse(return None)
        val (dt, v) = extreme(n, max = false).getOrElse(return None)
        fields += StructField(s"min($n)", dt); values += v; shown += s"MIN($n)"
      case m: Max =>
        val n = colName(m.column).getOrElse(return None)
        val (dt, v) = extreme(n, max = true).getOrElse(return None)
        fields += StructField(s"max($n)", dt); values += v; shown += s"MAX($n)"
      case _ => return None
    }
    Some((StructType(fields.result()),
      org.apache.spark.sql.Row.fromSeq(values.result()),
      shown.result().mkString(", ")))
  }

  override def build(): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = pushedAgg.fold(required)(_._1)

    // REAL table statistics from the commit log (zone-map-pruned file
    // sizes, DV-adjusted, scaled by the column-pruning ratio — the same
    // shape Spark's own FileScan estimate uses): without this the V2
    // relation reports `defaultSizeInBytes` (effectively infinite) and the
    // planner NEVER auto-broadcasts a graft table, forcing a shuffle join
    // however small the dimension side is. At 100 TB the fact table stays
    // un-broadcast regardless (the estimate errs high, never low — an
    // unresolvable predicate simply doesn't shrink it); the KB-scale
    // dimension next to it now broadcasts. O(files) driver metadata.
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        private val (bytes, rows): (Long, Option[Long]) = pushedAgg match {
          case Some(_) => (64L, Some(1L)) // one driver-derived row
          case None =>
            val preds = pushed.toSeq.flatMap(V1FilterConverter.toColumn)
            val (raw, rawRows) = gt.estimatedScan(preds, pinned)
            val ratio =
              if (full.isEmpty) 1.0
              else math.min(1.0, math.max(1, required.size).toDouble / full.size)
            // the row count is the pruned file set's live rows — an UPPER
            // bound under filters (zone-map-refuted files excluded, DVs
            // subtracted), which is what keeps rowCount PRESENT when the
            // optimizer pushes inferred isnotnull join-key filters: a
            // rowless relation would disable CBO join estimation entirely
            (math.max(1L, (raw * ratio).toLong), Some(rawRows))
        }
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
        // ANALYZE-computed NDVs ride out as V2 column statistics: Spark's
        // transformV2Stats turns them into per-attribute distinctCount,
        // the input CBO join-size estimation and join REORDERING read
        // (advisory — absent columns simply estimate without)
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
          val m = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          if (pushedAgg.isEmpty) {
            val ndv = pinned.meta.byLogical(pinned.meta.ndv)
            required.fieldNames.foreach { c =>
              ndv.get(c).foreach { n =>
                m.put(
                  org.apache.spark.sql.connector.expressions.Expressions
                    .column(c),
                  new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                    override def distinctCount(): java.util.OptionalLong =
                      java.util.OptionalLong.of(n)
                  })
              }
            }
          }
          m
        }
      }

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val relation: BaseRelation with TableScan = new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = pushedAgg.fold(required)(_._1)
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          pushedAgg match {
            case Some((_, row, _)) =>
              // the whole answer is one metadata-derived row — no data scan
              context.sparkContext.parallelize(Seq(row), 1)
            case None =>
              // pushed filters route through `scan`, not `snapshot().where`:
              // the SAME row filter lands on the parquet read either way
              // (exactness preserved), but `scan` first prunes whole files
              // on the DRIVER — zone-map interval analysis plus bloom-index
              // refutation over O(files) log entries — so a selective SQL
              // query never even opens the files it cannot match
              val preds = pushed.toIndexedSeq.map(V1FilterConverter.toColumn(_).get)
              val filtered =
                if (preds.isEmpty) gt.read(pinned, timeTravel = true)
                else gt.scanOf(pinned, preds.reduce(_ && _), timeTravel = true)
              filtered.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
          }
      }
      relation.asInstanceOf[T]
    }
    override def description(): String =
      s"graft-table ${gt.location}" + (if (timeTravel) s"@v${pinned.version}" else "") +
        pushedAgg.fold("")(a => s" PushedAggregates: [${a._3}]")

    // `spark.readStream.table("graft.ns.t")` — the same micro-batch
    // source (admission control, append-only contract, flat-atomic
    // check) the path-based format exposes; pruning/pushdown do not
    // apply to the incremental feed (whole added files are the unit)
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new GraftTableMicroBatchStream(gt.location, gt.schema, options)
  }
}

/** INSERT INTO → `append`; INSERT OVERWRITE / TRUNCATE (overwrite-by-
  * AlwaysTrue) → `overwrite`. The V1 bridge hands the query result over as
  * a DataFrame, which is exactly the table ops' input type — all Spark
  * types supported, one atomic commit either way. `writeStream.toTable`
  * routes through the same builder into the exactly-once epoch-commit
  * streaming sink ([[GraftStreamingWrite]] — flat atomic schemas, loud).
  */
private[tables] final class GraftWriteBuilder(
    gt: GraftTable, queryId: String, querySchema: StructType)
  extends WriteBuilder with SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var replace = false
  private var dynamic = false
  // static `INSERT OVERWRITE … PARTITION (p = 'A')`: the partition filter
  // as (Column predicate, its SQL text for the in-job row-scope check)
  private var staticPartition: Option[(org.apache.spark.sql.Column, String)] = None

  override def truncate(): WriteBuilder = { replace = true; this }

  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic` /
    * `DataFrameWriterV2.overwritePartitions()`): every partition present
    * in the data is replaced wholesale — exactly
    * [[GraftTable.replacePartitions]]'s one-commit contract.
    */
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[sources.AlwaysTrue])) {
      replace = true
      return this
    }
    // static partition overwrite: equality filters on identity partition
    // columns only — anything else stays loud, never a silent full replace
    val idParts = gt.partitionBy.toSet
    def lit(v: Any): (org.apache.spark.sql.Column, String) = v match {
      case s: String =>
        (org.apache.spark.sql.functions.lit(s), "'" + s.replace("'", "''") + "'")
      case n @ (_: java.lang.Number | _: java.lang.Boolean) =>
        (org.apache.spark.sql.functions.lit(n), n.toString)
      case other => throw new IllegalArgumentException(
        s"INSERT OVERWRITE PARTITION: unsupported literal $other " +
          s"(${other.getClass.getSimpleName}); string/numeric/boolean only")
    }
    val parts = filters.toSeq.map {
      case sources.EqualTo(att, v) if idParts.contains(att) =>
        val (c, sql) = lit(v)
        (col(att) === c, s"`$att` = $sql")
      case sources.EqualNullSafe(att, v) if idParts.contains(att) =>
        val (c, sql) = lit(v)
        (col(att) <=> c, s"`$att` <=> $sql")
      case sources.IsNull(att) if idParts.contains(att) =>
        (col(att).isNull, s"`$att` IS NULL")
      case f => throw new IllegalArgumentException(
        s"INSERT OVERWRITE supports a full table or equality on partition " +
          s"columns [${gt.partitionBy.mkString(",")}]; got $f")
    }
    staticPartition = Some((parts.map(_._1).reduce(_ && _),
      parts.map(_._2).mkString(" AND ")))
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          // v1 insert contract is BY POSITION against the table schema;
          // Spark's output resolver has already validated/coerced the query
          // schema, so the only residue is nullability flags (top-level and
          // nested containsNull/valueContainsNull) — the cast to the
          // table's exact type is a no-op on values and aligns those
          val aligned = data.toDF(gt.schema.fieldNames.toIndexedSeq: _*)
            .select(gt.schema.fields.toIndexedSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)): _*)
          if (dynamic) {
            if (gt.partitionBy.isEmpty) gt.overwrite(aligned)
            else gt.replacePartitions(aligned)
          } else staticPartition match {
            case Some((pred, sql)) => gt.overwriteWhere(pred, sql, aligned)
            case None =>
              if (replace || overwrite) gt.overwrite(aligned)
              else gt.append(aligned)
          }
        }
      }
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!replace && !dynamic && staticPartition.isEmpty,
        "streaming INSERT OVERWRITE is not supported; " +
          "a stream appends — overwrite the table with a batch write")
      require(gt.partitionBy.isEmpty, "streaming writes to a PARTITIONED " +
        "graft table are not supported; use foreachBatch + appendIfAbsent")
      // executor writers encode by POSITION — a name/type permutation in
      // the incoming stream must fail here, not corrupt columns
      require(querySchema.fields.map(f => (f.name, f.dataType)).toSeq ==
        gt.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"stream schema ${querySchema.simpleString} does not match table " +
          s"schema ${gt.schema.simpleString}")
      new GraftStreamingWrite(gt.location, gt.schema, queryId)
    }
  }
}

/** A table staged by atomic CTAS / RTAS / CREATE-OR-REPLACE
  * ([[GraftCatalog.stage]]): the write face CAPTURES the query's DataFrame
  * (the V1 bridge hands it over whole), and `commitStagedChanges()` lands
  * the entire operation as ONE log commit — `GraftTable.create` with the
  * data and declared constraints for a fresh table, `replaceWith` (schema +
  * key + partitioning + constraints + data swap, history preserved) when
  * the table exists. Nothing persists before the commit, so abort is free
  * and any failure — including a CHECK violation in the new data — leaves
  * the previous table untouched.
  */
private[tables] final class GraftStagedTable(
    ident: String, path: String, tableSchema: StructType,
    partCols: Seq[String], keyCol: Option[String], cons: Map[String, String],
    spark: SparkSession, onCommitted: GraftTable => Unit)
  extends Table with SupportsWrite
  with org.apache.spark.sql.connector.catalog.StagedTable {

  @volatile private var captured: Option[DataFrame] = None

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  // RTAS plans an OverwriteByExpression(true) against the staged table —
  // "overwrite" of a not-yet-existing capture is simply the capture
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      override def truncate(): WriteBuilder = this
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(filters.isEmpty || filters.forall(_.isInstanceOf[sources.AlwaysTrue]),
          s"staged writes are full-table only, got ${filters.mkString(",")}")
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // v1 insert is BY POSITION against the declared schema; the
              // cast aligns residual nullability flags (same as the live
              // table's write path). Captured, not written — the single
              // atomic commit happens in commitStagedChanges().
              captured = Some(data.toDF(tableSchema.fieldNames.toIndexedSeq: _*)
                .select(tableSchema.fields.toIndexedSeq.map(f =>
                  col(f.name).cast(f.dataType).as(f.name)): _*))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val df = captured.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema))
    val root = new Path(path)
    val exists = new GraftLog(root,
      () => root.getFileSystem(spark.sessionState.newHadoopConf())).exists
    val t =
      if (exists) {
        GraftTable.at(spark, path).replaceWith(df, keyCol, partCols, cons)
        // identity (key/partitioning) may have changed: re-open
        GraftTable.at(spark, path)
      }
      else GraftTable.create(spark, path, df, keyCol, partCols, cons)
    onCommitted(t)
  }

  override def abortStagedChanges(): Unit = () // nothing was persisted
}

/** A read-only metadata table (`.history` / `.files`): rows are built on
  * the DRIVER from O(log) commit metadata at scan time — current by
  * construction, never a data scan. Served through the same V1 bridge as
  * the data tables.
  */
private[tables] final class GraftMetadataTable(
    ident: String, tableSchema: StructType,
    rows: () => Seq[org.apache.spark.sql.Row])
  extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = tableSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val relation: BaseRelation with TableScan = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = tableSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              SparkSession.active.createDataFrame(
                rows().asJava, tableSchema).rdd
          }
          relation.asInstanceOf[T]
        }
        override def description(): String = s"graft metadata $ident"
      }
    }
}

/** `org.apache.spark.sql.sources.Filter` → `Column`, for the subset with an
  * exact Column equivalent (same null semantics — each translation is the
  * expression Spark itself would evaluate). `None` = not translatable; the
  * caller keeps it residual (scan) or fails loud (delete).
  */
private[tables] object V1FilterConverter {
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) if !vs.contains(null) =>
      Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, s) => Some(col(a).endsWith(s))
    case sources.StringContains(a, s) => Some(col(a).contains(s))
    case sources.And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(fnot)
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
