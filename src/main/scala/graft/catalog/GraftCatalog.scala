package graft.catalog

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.sources.SnapshotStore
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Spark V2 `TableCatalog` over [[SnapshotStore]] — the snapshot layer
  * surfaced to Spark's OWN analyzer/planner as `spark.sql.catalog.graft`,
  * so SQL against snapshot tables needs ZERO plan substitution or
  * name→root maps:
  *
  *  - `SELECT ... FROM graft.t` resolves through [[GraftCatalog.loadTable]]
  *    to the latest committed manifest; `VERSION AS OF n` resolves through
  *    the `loadTable(ident, version)` overload — time travel is Spark's
  *    native syntax, not an interpreter;
  *  - `MERGE INTO / UPDATE / DELETE FROM graft.t` go through
  *    [[SupportsRowLevelOperations]]: Spark's OWN group-based rewrite rules
  *    (`RewriteMergeIntoTable`/`RewriteUpdateTable`/`RewriteDeleteFromTable`)
  *    plan a copy-on-write `ReplaceData`, Spark's
  *    `RowLevelOperationRuntimeGroupFiltering` narrows the rewrite to the
  *    files that actually hold matching rows via a runtime `_file IN
  *    (subquery)` filter against [[SnapshotScan]] (the Iceberg/Delta
  *    group-filtering contract), and the replacement is published through
  *    ONE atomic manifest commit with first-writer-wins OCC
  *    ([[SnapshotFanoutBatchWrite.commit]]). MERGE cardinality violations raise
  *    through Spark's own `MergeRows` check;
  *  - `INSERT INTO graft.t` appends new files plus a manifest commit —
  *    never touching existing data files.
  *
  * Table roots are registered per session as dynamic conf
  * (`spark.sql.catalog.graft.path.<table> = <root>`, see
  * [[GraftCatalog.register]]): the catalog plugin is loaded once per
  * session but resolves roots from `SQLConf` at `loadTable` time, so
  * registrations are session-isolated and immediate. Unknown identifiers
  * raise `NoSuchTableException` (the analyzer's TABLE_OR_VIEW_NOT_FOUND),
  * never a silent fallback.
  *
  * At 100 TB: reads plan one split per `maxPartitionBytes` of manifest
  * files with footer-level predicate pushdown and zone pruning from the
  * commit-versioned stats sidecar; a row-level operation scans the table
  * once to discover affected files (the same O(table-scan) discovery
  * every group-based format pays), rewrites O(changed slice), and commits
  * one manifest rename. The reference has no catalog at all — its "table"
  * is a chunk directory resolved by the master's NameSpace
  * (`framework-src/NameSpace.java:11-19`); this is that name→data
  * resolution re-expressed as Spark's pluggable catalog contract.
  */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"

  /** `CALL graft.compact/vacuum/analyze/set_write_mode(...)` — the
    * maintenance surface ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(catalogName, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.Names.map(Identifier.of(Array.empty, _)).toArray

  /** The partition-transform functions (`days`, `bucket`) — resolvable by
    * Spark's write-distribution machinery AND callable as
    * `graft.days(ts)` in SQL ([[GraftFunctions]]). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(catalogName, ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftFunctions.Names.map(Identifier.of(Array.empty, _)).toArray

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def confKey(table: String) =
    s"spark.sql.catalog.$catalogName.path.$table"

  private def warehouseOf(spark: SparkSession): Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")

  /** Resolution order: session path conf (explicit registration wins),
    * then the warehouse's PERSISTENT namespace manifest — so a fresh
    * session attaches a whole catalog with ONE conf (the warehouse), no
    * per-table re-registration. */
  private def rootOf(ident: Identifier): Option[String] =
    if (ident.namespace().nonEmpty) None
    else {
      val spark = SparkSession.active
      spark.conf.getOption(confKey(ident.name()))
        .orElse(warehouseOf(spark)
          .flatMap(w => GraftNamespace.lookup(spark, w, ident.name())))
    }

  override def loadTable(ident: Identifier): Table =
    // `graft.<t>.changes` — the CHANGE-DATA-FEED table (Iceberg's
    // changelog-table surface): batch = the full classified feed,
    // readStream = per-version change batches ([[ChangeFeedTable]])
    if (ident.namespace().length == 1 && ident.name() == "changes") {
      val base = load(Identifier.of(Array.empty, ident.namespace()(0)), -1)
        .asInstanceOf[SnapshotTable]
      new ChangeFeedTable(SparkSession.active,
        s"$catalogName.${ident.namespace()(0)}.changes", base)
    } else load(ident, -1)

  /** Native `VERSION AS OF`: an integer resolves a version, anything else
    * a NAMED REF (`VERSION AS OF 'audit'` — branch or tag; floating refs
    * resolve to the tip). */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toIntOption match {
      case Some(v) => load(ident, v)
      case None =>
        val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
        val spark = SparkSession.active
        if (SnapshotStore.currentVersion(spark, root) <= 0)
          throw new NoSuchTableException(ident)
        SnapshotStore.refsOf(spark, root).get(version) match {
          case Some(Some(v)) => load(ident, v)
          case Some(None) => // floating: the tip, IGNORING any main pin
            val latest = SnapshotStore.currentVersion(spark, root)
            if (latest <= 0) throw new NoSuchTableException(ident)
            new SnapshotTable(spark, s"$catalogName.${ident.name()}", root,
              latest)
          case None => throw new NoSuchTableException(ident)
        }
    }

  /** Native `TIMESTAMP AS OF`: the analyzer hands the instant here as
    * MICROSECONDS since the epoch; resolution is the latest version whose
    * manifest was committed at-or-before it (manifest mtime = publication
    * time — the same clock every table format's timestamp travel reads).
    * An instant before the first commit declines: there was no table. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val v = SnapshotStore.versionTimes(spark, root)
      .filter { case (_, ms) => ms * 1000L <= timestamp }
      .map(_._1).maxOption.getOrElse(throw new NoSuchTableException(ident))
    new SnapshotTable(spark, s"$catalogName.${ident.name()}", root, v)
  }

  private def load(ident: Identifier, version: Int): Table = {
    val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val versions = SnapshotStore.versions(spark, root)
    // a PINNED `main` ref (write-audit-publish staging) redirects bare
    // reads: readers on the default branch never see staged commits;
    // explicit VERSION AS OF still reaches anything
    val v =
      if (version > 0) version
      else versions.lastOption match {
        case None => 0
        case Some(latest) =>
          SnapshotStore.refsOf(spark, root).get("main").flatten
            .getOrElse(latest)
      }
    if (v <= 0 || !versions.contains(v)) throw new NoSuchTableException(ident)
    new SnapshotTable(spark, s"$catalogName.${ident.name()}", root, v)
  }

  override def tableExists(ident: Identifier): Boolean =
    rootOf(ident).exists(r =>
      SnapshotStore.versions(SparkSession.active, r).nonEmpty)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val prefix = s"spark.sql.catalog.$catalogName.path."
    val registered = spark.conf.getAll.keys.collect {
      case k if k.startsWith(prefix) => k.stripPrefix(prefix)
    }.toSet
    val persisted = warehouseOf(spark)
      .map(w => GraftNamespace.entries(spark, w).keySet).getOrElse(Set.empty)
    (registered ++ persisted).toArray.sorted
      .map(Identifier.of(Array.empty, _))
  }

  /** SQL DDL: `CREATE TABLE graft.t (cols) [PARTITIONED BY (c)]
    * [LOCATION 'root']` — and the create half of CTAS. The table is born
    * as manifest v1 holding ONLY meta lines (the schema, and the partition
    * spec when given): an empty table exists, reads as zero rows under its
    * declared schema, and every later write is an ordinary manifest
    * commit. The root comes from LOCATION, else
    * `spark.sql.catalog.<cat>.warehouse`/<name> — and is registered as the
    * session path conf (and the warehouse's persistent namespace), so the
    * created table resolves immediately and in future sessions.
    * Partitioning accepts identity / `days(ts)` / `bucket(n, c)` items
    * and multi-item specs ([[PartitionSpec]]); anything else declines
    * loudly. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val spark = SparkSession.active
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .orElse(spark.conf
        .getOption(s"spark.sql.catalog.$catalogName.warehouse")
        .map(w => s"$w/${ident.name()}"))
      .getOrElse(throw new UnsupportedOperationException(
        s"graft catalog: CREATE TABLE needs LOCATION or " +
          s"spark.sql.catalog.$catalogName.warehouse"))
    val partItems = PartitionSpec.fromTransforms(partitions.toSeq)
    partItems.foreach(it => require(schema.fieldNames.contains(it.col),
      s"graft catalog: partition column ${it.col} not in the table schema"))
    val rootP = new org.apache.hadoop.fs.Path(root)
    rootP.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(rootP)
    SnapshotStore.commit(spark, root,
      Seq(SnapshotStore.schemaLine(schema)) ++
        (if (partItems.isEmpty) Nil
         else Seq(SnapshotStore.partSpecLine(
           PartitionSpec.renderSpec(partItems)))), 0)
    spark.conf.set(confKey(ident.name()), root)
    // persist the name→root mapping in the warehouse namespace manifest:
    // a FRESH session resolves this table with only the warehouse conf
    warehouseOf(spark).foreach(w =>
      GraftNamespace.put(spark, w, ident.name(), root))
    new SnapshotTable(spark, s"$catalogName.${ident.name()}", root, 1)
  }

  /** `ALTER TABLE graft.t ADD/RENAME/DROP COLUMN` — schema evolution as
    * ONE manifest commit: every data line, delete vector, and annotation
    * carries verbatim; only the schema meta line changes. ADD: old files
    * null-fill inside the scan (the field's birth version is stamped, so
    * a later re-ADD of a dropped name can never resurrect old values).
    * RENAME: pure metadata — the old name joins the field's history
    * chain and readers resolve each file by its write-epoch name
    * ([[graft.sources.SchemaEvo]], the manifest edition of Iceberg's
    * field-ids). DROP: the field leaves the schema; files keep their
    * bytes (time travel still reads them under the old versions'
    * schemas). RENAME/DROP decline on tables whose data lines predate
    * write-epoch stamping (`sv=`) and on partition-spec columns; retype/
    * nested/positioned changes decline loudly — narrowing rewrites
    * history. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val cur = SnapshotStore.currentVersion(spark, root)
    if (cur <= 0) throw new NoSuchTableException(ident)
    val base = SnapshotStore.schemaOf(spark, root, cur).getOrElse(
      SnapshotStore.inferredSchemaOf(spark,
        SnapshotStore.files(spark, root, cur)))
    lazy val partCols: Set[String] =
      SnapshotStore.partitionSpecOf(spark, root, cur)
        .flatMap(PartitionSpec.parse).getOrElse(Nil).map(_.col).toSet
    // equality-delete KEY columns pin their names: live eq lines record
    // keys by name, so renaming/dropping one would make every later scan
    // unable to build the anti-probe (a bricked table, not a lazy error)
    // — decline until compaction reconciles the lines away
    lazy val eqKeyCols: Set[String] =
      SnapshotStore.eqDeletes(spark, root, cur).flatMap(_.keys).toSet
    def requireEvolvable(op: String, colName: String): Unit = {
      require(!partCols.contains(colName),
        s"graft catalog: $op $colName: column is in the partition spec")
      require(!eqKeyCols.contains(colName),
        s"graft catalog: $op $colName: column keys live equality deletes " +
          "- compact the table first")
      val fl = SnapshotStore.files(spark, root, cur)
      val svs = SnapshotStore.fileSchemaVersions(spark, root, cur)
      require(fl.forall(f => svs.contains(SnapshotStore.uriPath(f))),
        s"graft catalog: $op declines - some data files predate " +
          "write-epoch (sv=) stamping, so their column names can't be " +
          "resolved; compact the table first")
    }
    // replace top-level struct field `parent`'s children via `f` —
    // the nested-evolution editing primitive (one level deep: the
    // Iceberg-parity surface for struct columns)
    def editStruct(s: StructType, parent: String, op: String)(
        f: StructType => StructType): StructType = {
      val pf = s.fields.find(_.name == parent).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: $op $parent: no such column"))
      val st = pf.dataType match {
        case t: StructType => t
        case other => throw new UnsupportedOperationException(
          s"graft catalog: $op inside $parent: not a struct (${other.sql})")
      }
      StructType(s.fields.map(x =>
        if (x.name == parent) x.copy(dataType = f(st)) else x))
    }
    val evolved = changes.foldLeft(base) { (s, ch) => ch match {
      case a: TableChange.AddColumn if a.fieldNames().length == 2 &&
          a.position() == null =>
        // ADD COLUMN a.b: the child carries its birth version, so files
        // written before it null-fill INSIDE the struct (sentinel name)
        val Array(parent, name) = a.fieldNames()
        require(a.isNullable,
          s"graft catalog: ADD COLUMN $parent.$name NOT NULL is not " +
            "supported — existing rows would null-fill it")
        editStruct(s, parent, "ADD COLUMN") { st =>
          require(!st.fieldNames.contains(name),
            s"graft catalog: column $parent.$name already exists")
          st.add(graft.sources.SchemaEvo.added(
            StructField(name, a.dataType(), a.isNullable), cur + 1))
        }
      case r: TableChange.RenameColumn if r.fieldNames().length == 2 =>
        // RENAME COLUMN a.b TO c: pure metadata — the old name joins the
        // NESTED field's history chain; per-epoch readers resolve it
        val Array(parent, from) = r.fieldNames()
        requireEvolvable("RENAME COLUMN", parent)
        editStruct(s, parent, "RENAME COLUMN") { st =>
          require(st.fieldNames.contains(from),
            s"graft catalog: RENAME COLUMN $parent.$from: no such column")
          require(!st.fieldNames.contains(r.newName()),
            s"graft catalog: RENAME COLUMN to $parent.${r.newName()}: " +
              "name taken")
          StructType(st.fields.map(f =>
            if (f.name == from)
              graft.sources.SchemaEvo.renamed(f, r.newName(), cur + 1)
            else f))
        }
      case a: TableChange.AddColumn if a.fieldNames().length == 1 &&
          a.position() == null =>
        val name = a.fieldNames()(0)
        require(!s.fieldNames.contains(name),
          s"graft catalog: column $name already exists in ${ident.name()}")
        // existing files null-fill the new column, so a NOT NULL add would
        // record nullable=false over data that is actually null — downstream
        // codegen trusting the schema could return wrong results (the same
        // reason Delta/Iceberg decline it)
        require(a.isNullable,
          s"graft catalog: ADD COLUMN $name NOT NULL is not supported — " +
            "existing rows would null-fill a non-nullable column")
        val f = graft.sources.SchemaEvo.added(
          StructField(name, a.dataType(), a.isNullable), cur + 1)
        s.add(if (a.comment() != null) f.withComment(a.comment()) else f)
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        val from = r.fieldNames()(0)
        require(s.fieldNames.contains(from),
          s"graft catalog: RENAME COLUMN $from: no such column")
        require(!s.fieldNames.contains(r.newName()),
          s"graft catalog: RENAME COLUMN to ${r.newName()}: name taken")
        requireEvolvable("RENAME COLUMN", from)
        StructType(s.fields.map(f =>
          if (f.name == from) graft.sources.SchemaEvo.renamed(f, r.newName(), cur + 1)
          else f))
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        val from = d.fieldNames()(0)
        require(s.fieldNames.contains(from),
          s"graft catalog: DROP COLUMN $from: no such column")
        require(s.fields.length > 1,
          s"graft catalog: DROP COLUMN $from would leave an empty table")
        requireEvolvable("DROP COLUMN", from)
        StructType(s.fields.filterNot(_.name == from))
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        // TYPE WIDENING as a pure metadata commit (Iceberg V1's safe
        // promotions): existing files keep their narrow physical type and
        // the parquet reader up-casts at scan time (Spark 4's native
        // widening reads — verified incl. pushed filters); new files land
        // wide. Anything non-widening rewrites history — decline loudly.
        // Partition-spec columns decline too: bucket hashes differ across
        // widths (Int.hashCode vs Long.hashCode), so a widened bucket
        // column would route new rows inconsistently with old pruning.
        val name = u.fieldNames()(0)
        val f = s.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: ALTER COLUMN $name: no such column"))
        require(!partCols.contains(name),
          s"graft catalog: ALTER COLUMN $name TYPE: column is in the " +
            "partition spec")
        require(GraftCatalog.isSafeWiden(f.dataType, u.newDataType()),
          s"graft catalog: ALTER COLUMN $name TYPE ${u.newDataType().sql}: " +
            s"only safe widenings of ${f.dataType.sql} are supported " +
            "(integral up-casts, FLOAT->DOUBLE, DECIMAL precision growth " +
            "at the same scale)")
        StructType(s.fields.map(x =>
          if (x.name == name) x.copy(dataType = u.newDataType()) else x))
      case other => throw new UnsupportedOperationException(
        "graft catalog: ALTER TABLE supports top-level ADD/RENAME/DROP " +
          "COLUMN, struct-field ADD/RENAME (a.b), and widening ALTER " +
          s"COLUMN TYPE, got $other")
    }}
    val kept = SnapshotStore.linesReplacing(spark, root, cur, Set.empty)
    SnapshotStore.commit(spark, root,
      SnapshotStore.linesWithSchema(kept, evolved), cur)
    loadTable(ident)
  }

  /** `DROP TABLE graft.t`: delete the root (manifests, data, vectors,
    * sidecars) and deregister the session path conf. Returns false for an
    * unknown or never-committed identifier (the analyzer's IF EXISTS
    * contract) — and in that case leaves any registration UNTOUCHED: a
    * failing non-IF-EXISTS DROP must not silently deregister the path it
    * just reported as nonexistent. */
  override def dropTable(ident: Identifier): Boolean =
    rootOf(ident) match {
      case None => false
      case Some(root) =>
        val spark = SparkSession.active
        val existed = SnapshotStore.versions(spark, root).nonEmpty
        if (existed) {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          spark.conf.unset(confKey(ident.name()))
          warehouseOf(spark).foreach(w =>
            GraftNamespace.remove(spark, w, ident.name()))
        }
        existed
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog: RENAME TABLE")
}

/** The PERSISTENT catalog namespace: `<warehouse>/_graft_catalog` is
  * itself a versioned snapshot manifest whose lines are
  * `meta:table=<name>=<root>` — table registrations live on disk with
  * the data, so a fresh session attaches the WHOLE catalog with one conf
  * (`spark.sql.catalog.<cat>.warehouse`) instead of one per table.
  * Updates go through the same OCC commit as data (racing CREATEs
  * serialize; the manifest chain is the registration audit log), and
  * reads are one small-file read at resolution time — the catalog-scale
  * analogue of what the reference's master-held NameSpace does for chunk
  * directories (`framework-src/NameSpace.java:11-19`), made durable. */
object GraftNamespace {

  private val EntryPrefix = "meta:table="

  private def nsRoot(warehouse: String) = s"$warehouse/_graft_catalog"

  def entries(spark: SparkSession, warehouse: String): Map[String, String] = {
    val root = nsRoot(warehouse)
    if (SnapshotStore.versions(spark, root).isEmpty) return Map.empty
    SnapshotStore.metaLines(spark, root).iterator
      .filter(_.startsWith(EntryPrefix))
      .flatMap { l =>
        val rest = l.stripPrefix(EntryPrefix)
        val i = rest.indexOf('=')
        if (i <= 0) None else Some(rest.substring(0, i) -> rest.substring(i + 1))
      }.toMap
  }

  def lookup(spark: SparkSession, warehouse: String,
      name: String): Option[String] = entries(spark, warehouse).get(name)

  private def mutate(spark: SparkSession, warehouse: String,
      change: Seq[String] => Option[Seq[String]]): Unit = {
    val root = nsRoot(warehouse)
    var attempt = 0
    while (attempt < 20) {
      val cur = SnapshotStore.versions(spark, root).lastOption.getOrElse(0)
      val lines = if (cur == 0) Nil else SnapshotStore.metaLines(spark, root)
      change(lines) match {
        case None => return // already in the desired state
        case Some(next) =>
          try { SnapshotStore.commit(spark, root, next, cur); return }
          catch { case _: SnapshotStore.CommitConflictException => attempt += 1 }
      }
    }
    throw new SnapshotStore.CommitConflictException(
      s"namespace update under $root lost 20 consecutive commit races")
  }

  def put(spark: SparkSession, warehouse: String, name: String,
      root: String): Unit =
    mutate(spark, warehouse, { lines =>
      val entry = s"$EntryPrefix$name=$root"
      if (lines.contains(entry)) None
      else Some(lines.filterNot(_.startsWith(s"$EntryPrefix$name=")) :+ entry)
    })

  def remove(spark: SparkSession, warehouse: String, name: String): Unit =
    mutate(spark, warehouse, { lines =>
      val without = lines.filterNot(_.startsWith(s"$EntryPrefix$name="))
      if (without.length == lines.length) None else Some(without)
    })
}

object GraftCatalog {

  /** Is `from` → `to` a SAFE type widening — every value representable
    * exactly, the parquet reader able to up-cast old files in place?
    * (Iceberg V1's promotion set; Spark 4's widening reads cover each.) */
  private[catalog] def isSafeWiden(from: DataType,
      to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Install the catalog (idempotent) and map `graft.<name>` to the
    * snapshot root — one dynamic conf each, session-isolated. */
  def register(spark: SparkSession, name: String, root: String,
      catalog: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.path.$name", root)
  }

  def unregister(spark: SparkSession, name: String,
      catalog: String = "graft"): Unit =
    spark.conf.unset(s"spark.sql.catalog.$catalog.path.$name")
}

/** One committed snapshot version surfaced as a V2 table. The file list is
  * pinned at load time, so every scan and row-level operation on this
  * instance sees ONE consistent snapshot, and the OCC commit is based on
  * exactly this version (a concurrent committer conflicts, never
  * interleaves). */
class SnapshotTable(@transient val spark: SparkSession, tableName: String,
    val root: String, val snapVersion: Int)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  val files: Seq[String] = SnapshotStore.files(spark, root, snapVersion)

  /** DELETE-VECTOR POINTERS: data-file uri-path → the (dv path, dv byte
    * length) pairs whose tombstones cover it. FILE-count-scale driver
    * metadata (one distributed distinct computes the coverage, lengths
    * come from the manifest's `len=` annotations) — the positions
    * themselves are loaded and applied EXECUTOR-side by each partition's
    * reader via the parquet-native row index (split- and skip-safe), so
    * driver heap stays flat no matter how many tombstones accumulate
    * between compactions. Merge-on-read tables read AND mutate correctly
    * through the catalog: a row-level rewrite sees only live rows and can
    * never resurrect a tombstone. */
  lazy val dvPointers: Map[String, Seq[(String, Long)]] =
    SnapshotTable.dvPointersAt(spark, root, snapVersion)

  /** EQUALITY-DELETE POINTERS: the version's key-tombstone files (path,
    * byte length, key columns, sequence) — manifest-only driver metadata;
    * the key SETS load executor-side per scan partition and apply as an
    * anti-probe to every data file whose write epoch predates the
    * sequence (the no-read-before-write upsert's read half). */
  lazy val eqPointers: Seq[(SnapshotStore.EqDelete, Long)] = {
    val eqs = SnapshotStore.eqDeletes(spark, root, snapVersion)
    if (eqs.isEmpty) Nil
    else {
      val lens = SnapshotStore.fileLens(spark, root, snapVersion)
      val conf = spark.sparkContext.hadoopConfiguration
      eqs.map(e => e -> lens.getOrElse(SnapshotStore.uriPath(e.path), {
        val p = new org.apache.hadoop.fs.Path(e.path)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }))
    }
  }

  /** The manifest-recorded schema when present (DDL-created or evolved
    * tables — authoritative, footer-free, and lets an EMPTY table exist);
    * else derived from the files' footers (pre-DDL snapshot roots). */
  override lazy val schema: StructType =
    SnapshotStore.schemaOf(spark, root, snapVersion)
      .getOrElse(SnapshotStore.inferredSchemaOf(spark, files))

  override def name(): String = tableName

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(spark, this, None, options = options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapshotWriteBuilder(spark, this, info, None)

  /** Row-level operations plan by the table's manifest-recorded write
    * mode: `meta:writemode=mor` → DELTA (merge-on-read — tombstone vectors
    * + insert files, cost ∝ changed rows); absent → group-based
    * copy-on-write (cost ∝ covering files). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (SnapshotStore.writeModeOf(spark, root, snapVersion)
            .contains("mor"))
          new SnapshotDeltaOperation(spark, SnapshotTable.this, info.command())
        else
          new SnapshotRowLevelOperation(spark, SnapshotTable.this,
            info.command())
    }

  override def metadataColumns(): Array[MetadataColumn] =
    Array(SnapshotTable.FileColumn, SnapshotTable.PosColumn)
}

object SnapshotTable {

  /** [[SnapshotTable.dvPointers]] at an arbitrary `version` — the
    * streaming source plans replayed initial snapshots at their
    * checkpoint-pinned version through this. Lengths resolve from the
    * manifest (`len=`), with one stat per legacy unannotated dv file. */
  private[catalog] def dvPointersAt(spark: SparkSession, root: String,
      version: Int): Map[String, Seq[(String, Long)]] = {
    val cov = SnapshotStore.dvCoverage(spark, root, version)
    if (cov.isEmpty) return Map.empty
    val lens = SnapshotStore.fileLens(spark, root, version)
    val conf = spark.sparkContext.hadoopConfiguration
    def lenOf(d: String): Long = lens.getOrElse(SnapshotStore.uriPath(d), {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).getFileStatus(p).getLen
    })
    cov.map { case (f, ds) => f -> ds.map(d => (d, lenOf(d))) }
  }

  /** The group id of group-based row-level operations: which data file a
    * row came from. NOT preserved into the write schema (the rewrite
    * writes pure data columns; the file identity only routes the runtime
    * group filter). */
  val FileColName = "_file"

  /** `__preserve_on_*` = true: the delta rewrite NULLIFIES non-preserved
    * metadata in its delete/update outputs — but `_file`/`_pos` ARE the
    * delta row id (the tombstone coordinates), so they must survive into
    * the writer (nullified row ids also never satisfy WriteDelta's
    * non-null resolution, looping the analyzer). The group-based COW path
    * is indifferent: its write schema is pure data columns either way. */
  object FileColumn extends MetadataColumn {
    override def name(): String = FileColName
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "manifest path of the data file the row came from"
    override def metadataInJSON(): String =
      """{"__preserve_on_delete":true,"__preserve_on_update":true,""" +
        """"__preserve_on_reinsert":true}"""
  }

  /** Publish `lines` as a PURE APPEND onto the current tip, OCC-retrying
    * against interleaved committers (appends commute); on giving up, the
    * already-renamed `published` files are deleted (nothing references
    * them). `validate` inspects each rebase target version before the
    * attempt — returning false aborts LOUDLY (a conflict the operation's
    * semantics cannot commute over, e.g. a concurrent schema change:
    * these files were written and sv-stamped under the LOADED schema, so
    * rebasing past an evolution commit would resolve their columns under
    * the wrong epoch). Returns the committed version. */
  private[graft] def appendCommit(spark: SparkSession, root: String,
      loadedVersion: Int, lines: Seq[String], published: Seq[String],
      validate: Int => Boolean = _ => true,
      keptTransform: Seq[String] => Seq[String] = identity): Int = {
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abandon(msg: String): Nothing = {
      published.foreach(p =>
        f.delete(new org.apache.hadoop.fs.Path(p), false))
      throw new SnapshotStore.CommitConflictException(msg)
    }
    var attempt = 0
    while (attempt < 5) {
      val cur = math.max(loadedVersion,
        SnapshotStore.currentVersion(spark, root))
      if (cur != loadedVersion) {
        if (SnapshotStore.schemaOf(spark, root, cur) !=
            SnapshotStore.schemaOf(spark, root, loadedVersion))
          abandon(s"append under $root: the schema evolved concurrently " +
            s"(v$loadedVersion -> v$cur) — rerun against the new schema")
        // partition-spec drift is equally un-rebasable: the new files'
        // part= annotations (or their absence) were encoded under the
        // LOADED spec with no pspec= epoch, so readers at the target
        // would decode them under the NEW spec and wrongly prune
        // (silent missing rows) — decline loudly, rerun under the new spec
        if (SnapshotStore.partitionSpecOf(spark, root, cur) !=
            SnapshotStore.partitionSpecOf(spark, root, loadedVersion))
          abandon(s"append under $root: the partition spec evolved " +
            s"concurrently (v$loadedVersion -> v$cur) — rerun against " +
            "the new spec")
        if (!validate(cur))
          abandon(s"append under $root: a concurrent commit " +
            s"(v$loadedVersion -> v$cur) conflicts with this operation")
      }
      val kept = keptTransform(
        SnapshotStore.linesReplacing(spark, root, cur, Set.empty))
      try return SnapshotStore.commit(spark, root, kept ++ lines, cur)
      catch { case _: SnapshotStore.CommitConflictException => attempt += 1 }
    }
    abandon(s"append under $root lost 5 consecutive commit races")
  }

  /** CAN A VECTOR COMMIT planned at `loadedVersion`, tombstoning rows of
    * `covers` (uri paths), rebase onto `cur`? Two conditions, both
    * Delta's row-level conflict contract:
    *
    *  1. every covered file is STILL LIVE at `cur` — a concurrent
    *     rewrite/compaction of a covered file would leave the tombstones
    *     addressing dead rows;
    *  2. NO version in (loadedVersion, cur] added delete vectors covering
    *     any file this commit's vectors cover — two row-level writers on
    *     the SAME file do not commute: UPDATE∥DELETE on overlapping rows
    *     would let the update's re-insert survive a delete that committed
    *     after it was planned (the row resurrects as its updated image).
    *     Disjoint-file vector commits still both land.
    */
  private[graft] def vectorCommitValidate(spark: SparkSession,
      root: String, loadedVersion: Int, covers: Set[String])
      (cur: Int): Boolean = {
    val liveAtCur = SnapshotStore.files(spark, root, cur)
      .map(SnapshotStore.uriPath).toSet
    covers.subsetOf(liveAtCur) && {
      lazy val curCov = SnapshotStore.dvCoverage(spark, root, cur)
      lazy val loadedCov = SnapshotStore.dvCoverage(spark, root, loadedVersion)
      covers.forall { f =>
        val newDvs = curCov.getOrElse(f, Nil).toSet --
          loadedCov.getOrElse(f, Nil)
        newDvs.isEmpty
      }
    }
  }

  /** The second half of the delta row id: the row's FILE-ABSOLUTE ordinal,
    * produced by the parquet reader's native row-index machinery (correct
    * under splits and row-group skipping) — exactly the position a delete
    * vector tombstones. */
  val PosColName = "_pos"

  object PosColumn extends MetadataColumn {
    override def name(): String = PosColName
    override def dataType(): DataType = org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "file-absolute row ordinal (the delete-vector position)"
    override def metadataInJSON(): String =
      """{"__preserve_on_delete":true,"__preserve_on_update":true,""" +
        """"__preserve_on_reinsert":true}"""
  }
}

/** Group-based COPY-ON-WRITE row-level operation: Spark's rewrite rules
  * read the table through [[newScanBuilder]] (with `_file` as the group
  * id), compute the replacement rows, and write them through
  * [[newWriteBuilder]]; the files the operation's scan ENDED UP planning —
  * after static zone pruning and the runtime `_file IN` group filter — are
  * exactly the files the commit replaces. */
class SnapshotRowLevelOperation(spark: SparkSession, table: SnapshotTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  @volatile private var opScan: Option[SnapshotScan] = None

  private[catalog] def attachScan(s: SnapshotScan): Unit = opScan = Some(s)

  /** The files whose rows went through the ReplaceData query — read at
    * commit time, AFTER runtime filtering and partition planning ran. */
  private[catalog] def replacedFiles: Seq[String] =
    opScan.map(_.currentFiles).getOrElse(table.files)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(spark, table, Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapshotWriteBuilder(spark, table, info, Some(this))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(ColumnBridge.fieldReference(SnapshotTable.FileColName))
}

class SnapshotScanBuilder(spark: SparkSession, table: SnapshotTable,
    op: Option[SnapshotRowLevelOperation], forDelta: Boolean = false,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = table.schema
  private var pushed: Array[Filter] = Array.empty
  private var metaAggResult: Option[(StructType, InternalRow)] = None

  /** METADATA-ONLY AGGREGATES: an unfiltered global COUNT(*)/MIN/MAX
    * over a vector-free table answers from manifest metadata alone —
    * counts are the SUM of the commit-time footer counts (`rows=`),
    * MIN/MAX come from the version's TYPED zone-stats sidecar (per-file
    * exact [lo, hi] of analyzed keys: integers, timestamps, dates,
    * strings, floats/doubles) — without touching a single data byte, at
    * any table size (the Iceberg/Delta metadata-aggregate contract).
    * Pushes COMPLETELY (one driver-local row); anything else — filters,
    * grouping, other aggregates, delete vectors, un-counted or
    * un-analyzed files, INEXACT bounds (truncated long strings),
    * kind-mismatched sidecars, row-level scans — declines to the
    * ordinary scan: metadata answers are EXACT or not given. */
  private def metaAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (op.isDefined || forDelta || pushed.nonEmpty) return None
    if (agg.groupByExpressions().nonEmpty) return None
    if (agg.aggregateExpressions().isEmpty) return None
    if (SnapshotStore.deleteVectors(spark, table.root,
      table.snapVersion).nonEmpty) return None
    if (table.eqPointers.nonEmpty) return None
    val fl = table.files.map(SnapshotStore.uriPath)
    if (fl.isEmpty) return None
    lazy val rowCounts = SnapshotStore.fileRows(spark, table.root,
      table.snapVersion)
    lazy val typed = SnapshotStore.statsTypedOf(spark, table.root,
      table.snapVersion)
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        table.schema.fields.find(_.name == r.fieldNames()(0))
      case _ => None
    }
    // the column's canonical bound kind — the sidecar must agree (a
    // type-widened column still agrees: INT and BIGINT both render "long")
    def kindOf(dt: DataType): Option[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case TimestampType => Some("micros")
      case DateType => Some("days")
      case StringType => Some("string")
      case FloatType | DoubleType => Some("double")
      case _: DecimalType => Some("decimal")
      case _ => None
    }
    // the extremum of f over ALL files, as the column's INTERNAL value —
    // requires every planned file to carry an EXACT parsed bound
    def boundOf(f: StructField, isMin: Boolean): Option[Any] = for {
      kind <- kindOf(f.dataType)
      ts <- typed.get(f.name)
      if ts.kind == kind
      dom <- SnapshotZones.domOf(kind)
      vals <- {
        val sides = fl.map(u => ts.byUri.get(u).filter(_.exact)
          .flatMap(b => if (isMin) b.lo else b.hi).flatMap(dom.parse))
        if (sides.forall(_.isDefined)) Some(sides.flatten) else None
      }
    } yield {
      val ext = if (isMin) vals.min(dom.ord) else vals.max(dom.ord)
      (kind, f.dataType) match {
        case ("long", ByteType) => ext.asInstanceOf[java.lang.Long].byteValue
        case ("long", ShortType) => ext.asInstanceOf[java.lang.Long].shortValue
        case ("long", IntegerType) => ext.asInstanceOf[java.lang.Long].intValue
        case ("long", LongType) => ext
        case ("micros", TimestampType) => ext // micros ARE the internal form
        case ("days", DateType) => ext.asInstanceOf[java.lang.Long].intValue
        case ("string", StringType) => ext // UTF8String
        case ("double", DoubleType) => ext
        case ("double", FloatType) =>
          ext.asInstanceOf[java.lang.Double].floatValue
        case ("decimal", d: DecimalType) =>
          // bounds came from this column's own values, so they fit its
          // precision/scale by construction
          org.apache.spark.sql.types.Decimal(
            ext.asInstanceOf[java.math.BigDecimal], d.precision, d.scale)
        case _ => return None
      }
    }
    val answered: Seq[Option[(String, Any, DataType)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          if (fl.forall(rowCounts.contains))
            Some(("count(*)", fl.map(rowCounts).sum, LongType))
          else None
        case m: Min =>
          fieldOf(m.column()).flatMap(f => boundOf(f, isMin = true)
            .map(v => (s"min(${f.name})", v, f.dataType)))
        case m: Max =>
          fieldOf(m.column()).flatMap(f => boundOf(f, isMin = false)
            .map(v => (s"max(${f.name})", v, f.dataType)))
        case _ => None
      }
    if (answered.exists(_.isEmpty)) None
    else {
      val cols = answered.flatten
      Some((StructType(cols.map { case (n, _, dt) =>
        StructField(n, dt, nullable = false)
      }),
        InternalRow.fromSeq(cols.map(_._2))))
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = metaAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    metaAgg(agg) match {
      case Some(r) => metaAggResult = Some(r); true
      case None => false
    }
  }

  /** Everything is returned as residual (Spark re-evaluates above the
    * scan); the accepted subset feeds parquet row-group skipping and the
    * manifest-stats zone pruning — best-effort by contract, so no filter
    * may be claimed as exact. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filterNot(f =>
      f.references.contains(SnapshotTable.FileColName) ||
        f.references.contains(SnapshotTable.PosColName))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = metaAggResult match {
    case Some((schema, row)) =>
      // the completely-pushed aggregates: one driver-local row, zero
      // data IO
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(row)
        override def description(): String =
          s"graft-manifest-agg(${table.name()}, v${table.snapVersion})"
      }
    case None =>
      val s = new SnapshotScan(spark, table, required, pushed.toSeq,
        forRowLevel = op.isDefined, forDelta = forDelta,
        skipChangeCommits = options.getBoolean("skipChangeCommits", false),
        maxVersionsPerTrigger =
          Option(options.get("maxVersionsPerTrigger")).map(_.toInt))
      op.foreach(_.attachScan(s))
      s
  }
}

/** The one scan for both paths: plain reads (vectorized parquet, filter
  * pushdown, split planning) and row-level-operation reads (`_file`
  * metadata column + runtime group filtering). File-level pruning stacks
  * three ways, each conservative: the manifest's stats sidecar vs pushed
  * key predicates (zone pruning), the runtime `_file IN` group filter,
  * and parquet's own row-group statistics inside the reader. */
class SnapshotScan(spark: SparkSession, table: SnapshotTable,
    required: StructType, pushed: Seq[Filter], forRowLevel: Boolean = false,
    forDelta: Boolean = false, skipChangeCommits: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None)
  extends Scan with Batch with SupportsRuntimeV2Filtering
  with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  SnapshotScan.created.incrementAndGet() // the no-read-before-write gate

  private val FileCol = SnapshotTable.FileColName
  private val PosCol = SnapshotTable.PosColName
  /** What is actually read from parquet (metadata columns stripped). */
  private val dataSchema = StructType(
    required.filterNot(f => f.name == FileCol || f.name == PosCol))
  private val fileOrdinal = required.fieldNames.indexOf(FileCol)
  private val posOrdinal = required.fieldNames.indexOf(PosCol)

  /** The required data fields WITH their evolution metadata resolved by
    * name from the table schema (column pruning may strip metadata) —
    * the [[graft.sources.SchemaEvo]] resolution input. Metadata grafts
    * onto the REQUIRED structure at every nesting level, so nested
    * pruning survives (substituting the whole table field would silently
    * re-read a pruned struct in full and misalign the output). */
  /** EQUALITY-DELETE key columns (one set per table by construction) and
    * the key fields the read schema must be AUGMENTED with when column
    * pruning stripped them: the reader projects keys for the anti-probe,
    * the output strips them back off. Appended AFTER the data columns, so
    * every data ordinal is stable. */
  private val eqKeys: Seq[String] = {
    val sets = table.eqPointers.map(_._1.keys).distinct
    require(sets.size <= 1,
      s"scan of ${table.name()}: mixed equality-delete key sets $sets")
    sets.headOption.getOrElse(Nil)
  }
  private val augFields: Seq[StructField] =
    eqKeys.filterNot(k => dataSchema.fieldNames.contains(k)).map(k =>
      table.schema.fields.find(_.name == k).getOrElse(
        throw new IllegalStateException(
          s"equality-delete key $k is not a column of ${table.name()}")))
  /** What the parquet reader actually decodes: the required data columns
    * plus any stripped eq-key columns. */
  private val readDataSchema = StructType(dataSchema.fields ++ augFields)

  /** Per-file write epochs for equality-delete applicability — loaded
    * only when the table carries eq lines. */
  private lazy val svForEq: Map[String, Int] =
    if (table.eqPointers.isEmpty) Map.empty
    else SnapshotStore.fileSchemaVersions(spark, table.root, table.snapVersion)

  private val evoSchema: StructType = StructType(readDataSchema.fields.map(f =>
    table.schema.fields.find(_.name == f.name)
      .map(tf => graft.sources.SchemaEvo.withEvoMetadata(f, tf))
      .getOrElse(f)))
  private val evoTrivial = graft.sources.SchemaEvo.isTrivial(table.schema)
  private lazy val svByFile: Map[String, Int] =
    if (evoTrivial) Map.empty
    else SnapshotStore.fileSchemaVersions(spark, table.root, table.snapVersion)

  /** The reader-dispatch key of a file written under schema version `sv`:
    * its physical column-name vector ("" on evolution-free tables — one
    * epoch, zero overhead). */
  private def physKeyOf(sv: Int): String =
    if (evoTrivial) ""
    // the full SQL rendering INCLUDES nested names: two epochs differing
    // only inside a struct must not collapse to one reader
    else graft.sources.SchemaEvo.physicalSchema(evoSchema, sv).sql

  /** Static file pruning stacks TWO manifest layers before parquet's own
    * row-group stats: zone stats (per-file [lo, hi] of clustered keys)
    * and partition tuples (identity/days/bucket transforms) — each
    * conservative, so they compose by intersection. */
  @volatile private[catalog] var currentFiles: Seq[String] =
    SnapshotPartitions.prune(spark, table.root, table.snapVersion, pushed,
      SnapshotZones.prune(spark, table.root, table.snapVersion, pushed,
        table.files))

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** Runtime filtering is the ROW-LEVEL group filter's channel only (its
    * scans project `_file`, so the reference resolves); a plain scan
    * exposing `_file` would trip Spark's dynamic-partition-pruning rule,
    * which resolves these refs against the scan OUTPUT (no metadata
    * columns there). */
  override def filterAttributes(): Array[NamedReference] =
    if (forRowLevel) Array(ColumnBridge.fieldReference(FileCol))
    else Array.empty

  /** Runtime group filtering: Spark evaluates the matching-rows subquery,
    * collects its `_file` values, and hands them here as `_file IN (...)`;
    * unparseable predicates are ignored (no pruning, never wrongness). */
  override def filter(predicates: Array[Predicate]): Unit = {
    val keep = predicates.iterator.flatMap(inFileSet).reduceOption(_ ++ _)
    keep.foreach { k =>
      // `_file` values are qualified scan paths; manifests may carry bare
      // paths — compare both as URI paths
      val norm = k.map(SnapshotStore.uriPath)
      currentFiles = currentFiles.filter(f => norm(SnapshotStore.uriPath(f)))
    }
  }

  private def inFileSet(p: Predicate): Option[Set[String]] = p.name() match {
    case "IN" | "=" =>
      val children = p.children()
      val onFile = children.headOption.exists {
        case r: NamedReference => r.fieldNames().sameElements(Array(FileCol))
        case _ => false
      }
      if (!onFile) None
      else Some(children.drop(1).flatMap(ColumnBridge.literalValue).collect {
        case v: UTF8String => v.toString
        case v: String => v
      }.toSet)
    case _ => None
  }

  override def estimateStatistics(): Statistics = {
    val bytes = fileMeta(currentFiles, table.snapVersion).map(_._2).sum
    // numRows from the manifest's commit-time footer counts when every
    // planned file carries one (an estimate by contract — tombstoned
    // rows are not subtracted; pruning-narrowed scans report the
    // narrowed sum, which is what join planning wants)
    val rowsByFile = SnapshotStore.fileRows(spark, table.root,
      table.snapVersion)
    val rows =
      if (currentFiles.nonEmpty && currentFiles.forall(f =>
        rowsByFile.contains(SnapshotStore.uriPath(f))))
        OptionalLong.of(currentFiles.map(f =>
          rowsByFile(SnapshotStore.uriPath(f))).sum)
      else OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = rows
    }
  }

  /** (path, byte length) for each file — from the manifest's commit-time
    * `len=` annotations, so planning issues ZERO per-file filesystem
    * round trips; only files committed by pre-annotation manifests pay
    * one `getFileStatus` fallback (counted in
    * [[SnapshotScan.planStatCalls]] — the zero-RPC pin). Memoized per
    * file list: estimateStatistics and planInputPartitions share it. */
  @volatile private var metaCache: (Seq[String], Seq[(String, Long)]) = null

  private def fileMeta(fl: Seq[String], version: Int): Seq[(String, Long)] = {
    val cached = metaCache
    if (cached != null && (cached._1 eq fl)) return cached._2
    val lens = SnapshotStore.fileLens(spark, table.root, version)
    val conf = spark.sparkContext.hadoopConfiguration
    val fetched = fl.map { f =>
      f -> lens.getOrElse(SnapshotStore.uriPath(f), {
        SnapshotScan.planStatCalls.incrementAndGet()
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      })
    }
    metaCache = (fl, fetched)
    fetched
  }

  /** Every file — tombstoned or clean — splits by `maxPartitionBytes`:
    * delete vectors are applied per split via the parquet-native
    * FILE-ABSOLUTE row index (correct under splits and row-group
    * skipping), so a 10 GB file with one tombstone keeps full split
    * parallelism. A tombstoned file's splits carry its dv POINTERS; the
    * positions load executor-side. `modTime` rides 0 for manifest-planned
    * files: it only feeds the `_metadata.file_modification_time` constant
    * column, which this scan never projects. */
  override def planInputPartitions(): Array[InputPartition] =
    split(fileMeta(currentFiles, table.snapVersion), table.dvPointers,
      svByFile, table.snapVersion, spjKeys.map(_._2).getOrElse(Map.empty),
      table.eqPointers, svForEq)

  private def split(meta: Seq[(String, Long)],
      pointers: Map[String, Seq[(String, Long)]],
      svs: Map[String, Int], defaultSv: Int,
      partKeys: Map[String, InternalRow] = Map.empty,
      eqs: Seq[(SnapshotStore.EqDelete, Long)] = Nil,
      eqSvs: Map[String, Int] = Map.empty): Array[InputPartition] = {
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    meta.flatMap { case (path, len) =>
      val uri = SnapshotStore.uriPath(path)
      val dvp = pointers.getOrElse(uri, Nil)
      // an equality delete applies to files whose write epoch STRICTLY
      // precedes its sequence — an upsert never self-deletes its inserts
      val eqp =
        if (eqs.isEmpty) Nil
        else {
          val sv = eqSvs.getOrElse(uri, 0)
          eqs.collect { case (e, l) if e.seq > sv => (e.path, l) }
        }
      val key = physKeyOf(svs.getOrElse(uri, defaultSv))
      (0L until len by maxBytes).map { start =>
        partKeys.get(uri) match {
          case Some(pk) => new KeyedSnapshotInputPartition(path, start,
            math.min(maxBytes, len - start), len, 0L, dvp, key, pk, eqp)
          case None => SnapshotInputPartition(path, start,
            math.min(maxBytes, len - start), len, 0L, dvp, key, eqp)
        }
      }
    }.toArray
  }

  // ---- STORAGE-PARTITIONED JOINS ------------------------------------------
  //
  // When every planned file carries a decodable partition tuple, the scan
  // reports `KeyGroupedPartitioning` over the spec's transforms and every
  // split carries its TYPED tuple (`HasPartitionKey`): under
  // `spark.sql.sources.v2.bucketing.enabled`, Spark groups splits by
  // tuple, recognizes two compatibly-partitioned graft tables joined on
  // the partition source keys, and plans the join with ZERO shuffle on
  // either side — the Iceberg SPJ contract, resolved through this
  // catalog's own FunctionCatalog (`days`/`bucket`). Declines (reports
  // UnknownPartitioning) on row-level scans, unannotated or undecodable
  // files — conservative: the join falls back to ordinary exchanges.

  /** Typed partition key per planned file uri, when EVERY file has one. */
  private lazy val spjKeys: Option[(Seq[PartItem], Map[String, InternalRow])] =
    if (forRowLevel || forDelta) None
    else for {
      spec <- SnapshotStore.partitionSpecOf(spark, table.root, table.snapVersion)
      items <- PartitionSpec.parse(spec)
      keys <- {
        val pv = SnapshotStore.partitionValuesOf(spark, table.root,
          table.snapVersion)
        // spec evolution: a file annotated under an EARLIER spec carries a
        // tuple in another domain — decline SPJ whole (ordinary exchanges)
        val epochs = SnapshotStore.partitionSpecEpochsOf(spark, table.root,
          table.snapVersion)
        val decoded = currentFiles.map { f =>
          val uri = SnapshotStore.uriPath(f)
          if (epochs.get(uri).exists(_ != spec)) None
          else pv.get(uri).flatMap(enc => keyRowOf(items, enc)).map(uri -> _)
        }
        if (currentFiles.nonEmpty && decoded.forall(_.isDefined))
          Some(decoded.flatten.toMap)
        else None
      }
    } yield (items, keys)

  /** Decode one file's annotation into the TYPED key row — types must
    * match what the partitioning expressions produce (bucket/days →
    * int; identity → the column's type). Any unsupported type or parse
    * failure declines SPJ whole. */
  private def keyRowOf(items: Seq[PartItem],
      enc: String): Option[InternalRow] =
    PartitionSpec.decode(items, enc).flatMap { vals =>
      def dtOf(c: String) = table.schema.fields.find(_.name == c)
        .map(_.dataType)
      val typed: Seq[Option[Any]] = items.zip(vals).map {
        case (IdentityItem(c), v) =>
          dtOf(c).flatMap {
            case org.apache.spark.sql.types.LongType => v.toLongOption
            case org.apache.spark.sql.types.IntegerType => v.toIntOption
            case org.apache.spark.sql.types.DateType => v.toIntOption
            case StringType => Some(UTF8String.fromString(v))
            case _ => None
          }
        case (_: DaysItem, v) => v.toIntOption
        case (_: HoursItem, v) => v.toIntOption
        case (_: MonthsItem, v) => v.toIntOption
        case (_: YearsItem, v) => v.toIntOption
        case (_: BucketItem, v) => v.toIntOption
        case (TruncateItem(_, c), v) =>
          // truncate's key type mirrors its input column's
          dtOf(c).flatMap {
            case org.apache.spark.sql.types.LongType => v.toLongOption
            case org.apache.spark.sql.types.IntegerType => v.toIntOption
            case StringType => Some(UTF8String.fromString(v))
            case _ => None
          }
      }
      if (typed.forall(_.isDefined))
        Some(new GenericInternalRow(typed.map(_.get.asInstanceOf[Any]).toArray))
      else None
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some((items, _)) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val exprs = items.map[org.apache.spark.sql.connector.expressions.Expression](
          SnapshotScan.transformOf).toArray
        // numPartitions = distinct tuples among the PLANNED files (count
        // by encoded annotation — InternalRow has no structural equals)
        val pv = SnapshotStore.partitionValuesOf(spark, table.root,
          table.snapVersion)
        val n = currentFiles.flatMap(f =>
          pv.get(SnapshotStore.uriPath(f))).distinct.size
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs, n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Split an arbitrary (vector-free) file list of `version` into read
    * partitions — the streaming source's per-version diff planning. */
  private[catalog] def partitionsFor(fl: Seq[String],
      version: Int): Array[InputPartition] = {
    val lens = SnapshotStore.fileLens(spark, table.root, version)
    val svs = if (evoTrivial) Map.empty[String, Int]
      else SnapshotStore.fileSchemaVersions(spark, table.root, version)
    split(fl.map { f =>
      f -> lens.getOrElse(SnapshotStore.uriPath(f), {
        SnapshotScan.planStatCalls.incrementAndGet()
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      })
    }, Map.empty, svs, version)
  }

  /** The scan's own planning pinned at an arbitrary `version` — the
    * streaming source's INITIAL-SNAPSHOT planning: a replayed first batch
    * must re-plan the exact version its checkpointed end offset covered,
    * not whatever the restarted table happens to have loaded (replay
    * determinism). Vectors and zone pruning follow `version`. */
  private[catalog] def snapshotPartitionsAt(version: Int): Array[InputPartition] = {
    if (version == table.snapVersion) return planInputPartitions()
    val fl = SnapshotPartitions.prune(spark, table.root, version, pushed,
      SnapshotZones.prune(spark, table.root, version, pushed,
        SnapshotStore.files(spark, table.root, version)))
    val lens = SnapshotStore.fileLens(spark, table.root, version)
    val svs = if (evoTrivial) Map.empty[String, Int]
      else SnapshotStore.fileSchemaVersions(spark, table.root, version)
    val eqs = SnapshotStore.eqDeletes(spark, table.root, version).map(e =>
      e -> lens.getOrElse(SnapshotStore.uriPath(e.path), {
        val p = new org.apache.hadoop.fs.Path(e.path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      }))
    split(fl.map { f =>
      f -> lens.getOrElse(SnapshotStore.uriPath(f), {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      })
    }, SnapshotTable.dvPointersAt(spark, table.root, version), svs, version,
      Map.empty,
      eqs,
      if (eqs.isEmpty) Map.empty
      else SnapshotStore.fileSchemaVersions(spark, table.root, version))
  }

  private[catalog] def pushedFilters: Seq[Filter] = pushed

  /** `readStream.table("graft.t")`: manifest versions ARE the offsets. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotMicroBatchStream(spark, table, this, skipChangeCommits,
      maxVersionsPerTrigger)

  override def createReaderFactory(): PartitionReaderFactory =
    mkReaderFactory(forceRows = false)

  /** Build the reader factory. COLUMNAR batches flow whenever the output
    * is pure data columns — INCLUDING splits carrying delete vectors: a
    * vectored split reads batches WITH the parquet-native row index, drops
    * tombstoned ordinals through a zero-copy selection wrapper
    * ([[SelectedColumnVector]]), and hands downstream a batch of only
    * live rows — so MoR reads keep whole-stage columnar throughput no
    * matter how many vectors accumulate (the Iceberg/Delta
    * vectorized-delete contract; previously ONE vectored file dropped the
    * whole scan to row mode). `forceRows` is the streaming source's
    * uniformity escape (one micro-batch may mix a vectored initial
    * snapshot with clean diffs). */
  private[catalog] def mkReaderFactory(
      forceRows: Boolean): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat()
    val batchMode = !forceRows && fmt.supportBatch(spark, readDataSchema) &&
      fileOrdinal < 0 && posOrdinal < 0
    // a GROUP-BASED row-level scan must return EVERY row of every file it
    // plans (the replace-groups contract: carry-over rows ride the
    // rewrite) — its pushed filters prune at FILE granularity only (zone
    // pruning above), never inside the reader where parquet row-group
    // skipping would silently drop carry-over rows of a
    // partially-matching file. Plain and DELTA scans DO push into the
    // reader — tombstone application stays correct under skipping because
    // the native row index does.
    val readerFilters = if (forRowLevel && !forDelta) Nil else pushed
    // SCHEMA-EVOLUTION EPOCHS: one read function per distinct physical
    // column-name vector among the table's files (renamed columns read
    // old files under their write-epoch names — [[graft.sources
    // .SchemaEvo]]); evolution-free tables collapse to the one ""-keyed
    // epoch with zero overhead. Pushed filters are translated to each
    // epoch's names (untranslatable conjuncts drop — pushdown only).
    val epochSvs: Seq[Int] =
      if (evoTrivial) Seq(table.snapVersion)
      else (table.files.map(f =>
        svByFile.getOrElse(SnapshotStore.uriPath(f), table.snapVersion)) :+
        table.snapVersion).distinct
    val epochs: Map[String, (StructType, StructType, Seq[Filter])] =
      epochSvs.map { sv =>
        physKeyOf(sv) -> ((
          graft.sources.SchemaEvo.physicalSchema(evoSchema, sv),
          if (evoTrivial) table.schema
          else graft.sources.SchemaEvo.physicalSchema(table.schema, sv),
          if (evoTrivial) readerFilters
          else graft.sources.SchemaEvo.translateFilters(readerFilters,
            evoSchema, sv)))
      }.toMap
    def build(full: StructType, schema: StructType, filters: Seq[Filter],
        batch: Boolean) =
      fmt.buildReaderWithPartitionValues(spark, full,
        new StructType(), schema, filters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> batch.toString),
        spark.sessionState.newHadoopConf())
    // `_pos` and delete-vector filtering both ride the parquet reader's
    // NATIVE row-index machinery: a generated trailing long column,
    // file-absolute and correct under splits AND row-group skipping.
    def withIdx(s: StructType) = s.add(org.apache.spark.sql.execution
      .datasources.parquet.ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType)
    val rowFuncs = epochs.map { case (k, (phys, full, fs)) =>
      k -> build(full, if (posOrdinal >= 0) withIdx(phys) else phys, fs,
        batch = false)
    }
    val dvRowFuncs =
      if (posOrdinal >= 0) rowFuncs
      else epochs.map { case (k, (phys, full, fs)) =>
        k -> build(full, withIdx(phys), fs, batch = false)
      }
    val batchFuncs =
      if (!batchMode) Map.empty[String, PartitionedFile => Iterator[InternalRow]]
      else epochs.map { case (k, (phys, full, fs)) =>
        k -> build(full, phys, fs, batch = true)
      }
    // batch readers WITH the native row index appended — what a
    // vectored split's columnar read decodes (the trailing index column
    // feeds the tombstone filter and is stripped from the output batch)
    val dvBatchFuncs =
      if (!batchMode || table.dvPointers.isEmpty)
        Map.empty[String, PartitionedFile => Iterator[InternalRow]]
      else epochs.map { case (k, (phys, full, fs)) =>
        k -> build(full, withIdx(phys), fs, batch = true)
      }
    // the executor-side readers of delete-vector parquets — BOTH payload
    // generations: legacy per-position rows (file, pos) and compressed
    // bitmap rows (file, bm); dispatch is per dv FILE by name
    val dvSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("pos", org.apache.spark.sql.types.LongType,
        nullable = false)))
    val dvbSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bm", org.apache.spark.sql.types.BinaryType,
        nullable = false)))
    def dvReader(s: StructType) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, s, new StructType(), s, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    // the equality-delete key reader + the probe coordinates: key
    // ordinals inside the (augmented) reader row, and the key schema both
    // projections share (bitwise-comparable UnsafeRows)
    val eqSchema = StructType(eqKeys.map(k =>
      StructField(k, table.schema.fields.find(_.name == k).get.dataType,
        nullable = true)))
    val eqFunc = if (eqKeys.isEmpty) null else dvReader(eqSchema)
    val eqOrdinals = eqKeys.map(k =>
      readDataSchema.fieldNames.indexOf(k)).toArray
    new SnapshotReaderFactory(rowFuncs, dvRowFuncs, batchFuncs, dvBatchFuncs,
      dvReader(dvSchema), dvReader(dvbSchema),
      batchMode, dataSchema, required, fileOrdinal, posOrdinal,
      eqFunc, eqSchema, eqOrdinals, augFields.length)
  }
}

object SnapshotScan {
  /** Total scans constructed this JVM — the plan gate no-read-before-
    * write paths (GraftUpsert) pin against: a write phase that scanned
    * the target moves this counter. */
  val created = new java.util.concurrent.atomic.AtomicLong(0)

  /** Plan-time per-file `getFileStatus` fallbacks (files whose manifest
    * line lacks a `len=` annotation) — the zero-RPC planning pin: tables
    * committed by the annotating commit path must plan without moving
    * this counter. */
  val planStatCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** A [[PartItem]] as Spark's V2 transform expression — the shared
    * vocabulary of the scan's reported partitioning (SPJ) and the write's
    * requested distribution; all resolve through [[GraftFunctions]]. */
  private[catalog] def transformOf(item: PartItem)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    item match {
      case IdentityItem(c) => Expressions.identity(c)
      case DaysItem(c) => Expressions.days(c)
      case HoursItem(c) => Expressions.hours(c)
      case MonthsItem(c) => Expressions.months(c)
      case YearsItem(c) => Expressions.years(c)
      case BucketItem(n, c) => Expressions.bucket(n, c)
      // width-hoisted name, column-only child: Spark's SPJ satisfies test
      // requires single-leaf partition expressions (see
      // GraftFunctions.fixedTruncate)
      case TruncateItem(w, c) => Expressions.apply(s"truncate_$w",
        Expressions.column(c))
    }
  }
}

/** One split of one data file: pointers to the delete-vector files
  * covering it (positions load executor-side) and its schema-epoch
  * dispatch key (the write-epoch physical column names; "" on
  * evolution-free tables). */
class SnapshotInputPartition(val file: String, val start: Long,
    val length: Long, val fileSize: Long, val modTime: Long,
    val dvPaths: Seq[(String, Long)], val physKey: String = "",
    val eqPaths: Seq[(String, Long)] = Nil)
  extends InputPartition

object SnapshotInputPartition {
  def apply(file: String, start: Long, length: Long, fileSize: Long,
      modTime: Long, dvPaths: Seq[(String, Long)],
      physKey: String = "",
      eqPaths: Seq[(String, Long)] = Nil): SnapshotInputPartition =
    new SnapshotInputPartition(file, start, length, fileSize, modTime,
      dvPaths, physKey, eqPaths)
}

/** A split that also carries its TYPED partition tuple — what Spark's
  * storage-partitioned join machinery groups on (`HasPartitionKey`):
  * with both join sides reporting compatible `KeyGroupedPartitioning`,
  * the join runs with ZERO shuffle on either side. */
class KeyedSnapshotInputPartition(file: String, start: Long, length: Long,
    fileSize: Long, modTime: Long, dvPaths: Seq[(String, Long)],
    physKey: String, key: InternalRow, eqPaths: Seq[(String, Long)] = Nil)
  extends SnapshotInputPartition(file, start, length, fileSize, modTime,
    dvPaths, physKey, eqPaths)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Executor-side reading: Spark's own parquet reader function (vectorized
  * when the session supports it), one split per partition. Columnar
  * batches flow through UNFLATTENED on the plain-read path; when `_file`
  * or `_pos` is requested (row-level operations) rows are projected with
  * the split's file path / the reader's native row index spliced in at
  * their schema positions. A partition carrying delete-vector pointers
  * loads its file's tombstone positions HERE — executor-side, never on
  * the driver — and drops them by sorted binary search on the native row
  * index (split- and skip-safe, so tombstoned files split like clean
  * ones). */
class SnapshotReaderFactory(
    rowFuncs: Map[String, PartitionedFile => Iterator[InternalRow]],
    dvRowFuncs: Map[String, PartitionedFile => Iterator[InternalRow]],
    batchFuncs: Map[String, PartitionedFile => Iterator[InternalRow]],
    dvBatchFuncs: Map[String, PartitionedFile => Iterator[InternalRow]],
    dvFunc: PartitionedFile => Iterator[InternalRow],
    dvbFunc: PartitionedFile => Iterator[InternalRow],
    batchMode: Boolean, dataSchema: StructType, outputSchema: StructType,
    fileOrdinal: Int, posOrdinal: Int = -1,
    eqFunc: PartitionedFile => Iterator[InternalRow] = null,
    eqSchema: StructType = new StructType(),
    eqOrdinals: Array[Int] = Array.empty,
    nAug: Int = 0) extends PartitionReaderFactory {

  private def partitionedFile(path: String, start: Long, length: Long,
      fileSize: Long, modTime: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      start, length, Array.empty, modTime, fileSize)

  /** A partition's epoch key must have been built at factory time — a
    * miss would silently read wrong column names, so fail loudly. */
  private def fnOf(m: Map[String, PartitionedFile => Iterator[InternalRow]],
      key: String): PartitionedFile => Iterator[InternalRow] =
    m.getOrElse(key, throw new IllegalStateException(
      s"snapshot scan: no reader for schema epoch '$key' " +
        s"(have ${m.keys.mkString("|")})"))

  /** Uniform by construction: batchMode is factory-wide (vectored splits
    * filter INSIDE the columnar read), satisfying the exec's all-or-none
    * columnar contract. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    batchMode && fileOrdinal < 0

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val hasDv = p.dvPaths.nonEmpty
    val hasEq = p.eqPaths.nonEmpty
    // the reader was built with returning_batch=true: elements ARE
    // ColumnarBatch behind the erased InternalRow signature (the V1
    // contract); cast the ITERATOR, never per-element (a .map would
    // insert an InternalRow cast on the lambda argument)
    if (!hasDv && !hasEq && nAug == 0) {
      val it = fnOf(batchFuncs, p.physKey)(
        partitionedFile(p.file, p.start, p.length, p.fileSize, p.modTime))
        .asInstanceOf[Iterator[ColumnarBatch]]
      return new IteratorReader(it)
    }
    // FILTERED SPLIT, STILL COLUMNAR: decode batches (with the native row
    // index as a trailing column when vectors apply), drop tombstoned
    // ordinals and equality-deleted keys by remapping each data column
    // through a zero-copy selection vector ([[SelectedColumnVector]]),
    // and strip the aug-key/index columns from the output — downstream
    // keeps whole-stage columnar processing; cost is one O(numRows)
    // membership pass per batch (what the row path paid) plus a
    // live-ordinal int array
    val dv = if (hasDv) loadDv(p) else null
    val useIdx = dv != null && !dv.isEmpty
    val eqSet = if (hasEq) loadEq(p) else null
    val kp = if (eqSet != null && !eqSet.isEmpty) eqKeyProjection() else null
    val n = dataSchema.length
    val idxOrd = n + nAug
    val raw = fnOf(if (useIdx) dvBatchFuncs else batchFuncs, p.physKey)(
      partitionedFile(p.file, p.start, p.length, p.fileSize, p.modTime))
      .asInstanceOf[Iterator[ColumnarBatch]]
    val it = raw.map { b =>
      val total = b.numRows()
      val cols = new Array[org.apache.spark.sql.vectorized.ColumnVector](n)
      def stripped(rows: Int): ColumnarBatch = {
        var j = 0
        while (j < n) { cols(j) = b.column(j); j += 1 }
        new ColumnarBatch(cols, rows)
      }
      if (!useIdx && kp == null) stripped(total) // clean: just strip
      else {
        val idx = if (useIdx) b.column(idxOrd) else null
        val sel = new Array[Int](total)
        var m = 0
        var i = 0
        while (i < total) {
          val dead = (idx != null && dv.contains(idx.getLong(i))) ||
            (kp != null && eqSet.contains(kp(b.getRow(i))))
          if (!dead) { sel(m) = i; m += 1 }
          i += 1
        }
        if (m == total) stripped(total)
        else {
          val live = java.util.Arrays.copyOf(sel, m)
          var j = 0
          while (j < n) {
            cols(j) = new SelectedColumnVector(b.column(j), live)
            j += 1
          }
          new ColumnarBatch(cols, m)
        }
      }
    }
    new IteratorReader(it)
  }

  /** This split's file's tombstone positions, loaded from its dv
    * pointers and sorted — cost ∝ the covering vectors' bytes, paid by
    * the executor that owns the split, ONCE per (executor, file): splits
    * of the same tombstoned file share the load through a soft-valued
    * executor-local cache (soft refs: memory pressure evicts, a miss
    * just re-reads). */
  private def loadDv(p: SnapshotInputPartition): Tombstones =
    SnapshotReaderFactory.loadTombstones(p.file, p.dvPaths, dvFunc, dvbFunc)

  /** This split's applicable EQUALITY-DELETE key set, loaded from its eq
    * pointers into a hash set of UnsafeRows — executor-side, shared per
    * (executor, pointer list) through the same soft-valued cache
    * discipline as tombstones. */
  private def loadEq(p: SnapshotInputPartition): java.util.HashSet[InternalRow] = {
    val key = p.eqPaths.map { case (d, l) => s"$d:$l" }.mkString(",")
    val cached = SnapshotReaderFactory.eqCache.get(key)
    if (cached != null) {
      val set = cached.get()
      if (set != null) return set
    }
    val set = new java.util.HashSet[InternalRow]()
    val proj = UnsafeProjection.create(eqSchema)
    p.eqPaths.foreach { case (path, len) =>
      eqFunc(partitionedFile(path, 0, len, len, 0L))
        .asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }.foreach(r => set.add(proj(r).copy()))
    }
    SnapshotReaderFactory.eqCache.put(key,
      new java.lang.ref.SoftReference(set))
    set
  }

  /** Project a reader row's key columns into the SAME UnsafeRow layout
    * [[loadEq]] stored — equal keys compare bitwise-equal (null keys
    * match null-safely, Iceberg's contract). */
  private def eqKeyProjection(): UnsafeProjection =
    UnsafeProjection.create(eqOrdinals.toSeq.zipWithIndex.map {
      case (ord, i) =>
        BoundReference(ord, eqSchema.fields(i).dataType, nullable = true)
    })

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val hasDv = p.dvPaths.nonEmpty
    val hasEq = p.eqPaths.nonEmpty
    // the reader row carries the native row index exactly when `_pos` was
    // requested OR this split must apply a delete vector; eq-key aug
    // columns (nAug) sit between the data columns and the index
    val hasIdx = posOrdinal >= 0 || hasDv
    val rowIdxSrc = if (hasIdx) dataSchema.length + nAug else -1
    val fn = fnOf(if (hasDv) dvRowFuncs else rowFuncs, p.physKey)
    // the V1 reader contract: with vectorization on, the iterator's
    // elements are ColumnarBatch cast as InternalRow — un-hack via Any
    val raw = fn(
      partitionedFile(p.file, p.start, p.length, p.fileSize, p.modTime))
      .asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }
    val dvRows =
      if (!hasDv) raw
      else {
        val dv = loadDv(p)
        if (dv.isEmpty) raw
        // the native row index IS the tombstone coordinate: drop by
        // bitmap/sorted-array membership — correct under splits and
        // row-group skipping
        else raw.filter(r => !dv.contains(r.getLong(rowIdxSrc)))
      }
    // equality deletes apply AFTER position vectors: match the row's key
    // against the split's applicable key set
    val rows =
      if (!hasEq) dvRows
      else {
        val eqSet = loadEq(p)
        if (eqSet.isEmpty) dvRows
        else {
          val kp = eqKeyProjection()
          dvRows.filter(r => !eqSet.contains(kp(r)))
        }
      }
    val out =
      if (fileOrdinal < 0 && posOrdinal < 0 && !hasIdx && nAug == 0) rows
      else if (fileOrdinal < 0 && posOrdinal < 0) {
        // plain read over a vectored/augmented split: strip the trailing
        // aug-key and row-index columns the filters rode on
        val proj = UnsafeProjection.create(
          dataSchema.fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          }.toSeq)
        rows.map(r => proj(r))
      } else {
        // splice the metadata columns in at their requested positions:
        // the reader row is data columns [+ native row index], the file
        // path rides a JoinedRow; every other output field maps to its
        // data ordinal (its position minus the metadata fields before it)
        val fileSrc = dataSchema.length + nAug + (if (hasIdx) 1 else 0)
        val exprs = outputSchema.fields.zipWithIndex.map { case (f, i) =>
          if (i == fileOrdinal)
            BoundReference(fileSrc, StringType, nullable = false)
          else if (i == posOrdinal)
            BoundReference(rowIdxSrc,
              org.apache.spark.sql.types.LongType, nullable = false)
          else {
            val nMetaBefore = (if (fileOrdinal >= 0 && fileOrdinal < i) 1 else 0) +
              (if (posOrdinal >= 0 && posOrdinal < i) 1 else 0)
            BoundReference(i - nMetaBefore, f.dataType, f.nullable)
          }
        }.toSeq
        val proj = UnsafeProjection.create(exprs)
        val fileRow = new GenericInternalRow(
          Array[Any](UTF8String.fromString(p.file)))
        val joined = new JoinedRow
        rows.map(r => proj(joined(r, fileRow)))
      }
    new IteratorReader(out)
  }

  /** The parquet reader registers its own task-completion close. */
  private class IteratorReader[T](it: Iterator[T]) extends PartitionReader[T] {
    private var cur: T = _
    override def next(): Boolean =
      if (it.hasNext) { cur = it.next(); true } else false
    override def get(): T = cur
    override def close(): Unit = ()
  }
}

object SnapshotReaderFactory {
  /** Executor-local tombstone cache (file + pointer set → decoded
    * [[Tombstones]]), soft-valued so the JVM reclaims it under pressure.
    * Keys carry the dv pointer identity, so a newer snapshot's vectors
    * never alias an older load. Bitmap payloads stay COMPRESSED in the
    * cache (contains() runs on the containers directly). */
  private[catalog] val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[Tombstones]]()

  /** Executor-local equality-delete key-set cache (pointer list →
    * UnsafeRow hash set), same soft-valued discipline as [[dvCache]]. */
  private[catalog] val eqCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[java.util.HashSet[InternalRow]]]()

  /** Bitmap-generation dv files carry the `dvb_` name marker. */
  private[catalog] def isBitmapDv(path: String): Boolean =
    new org.apache.hadoop.fs.Path(path).getName.startsWith("dvb")

  private def pf(path: String, len: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0, len, Array.empty, 0L, len)

  /** `file`'s tombstone positions from its dv pointers, decoded and
    * cached per (executor, file, pointer list) — keyed on the FULL
    * pointer list, never its hashCode: a collision between two
    * successive snapshots' pointer sets for the same file would silently
    * apply the wrong tombstones. Shared by the snapshot scan AND the
    * change-feed reader. */
  private[catalog] def loadTombstones(file: String,
      dvPaths: Seq[(String, Long)],
      dvFunc: PartitionedFile => Iterator[InternalRow],
      dvbFunc: PartitionedFile => Iterator[InternalRow]): Tombstones = {
    val key = file + "#" +
      dvPaths.map { case (d, l) => s"$d:$l" }.mkString(",")
    val cached = dvCache.get(key)
    if (cached != null) {
      val t = cached.get()
      if (t != null) return t
    }
    val want = SnapshotStore.uriPath(file)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bms = scala.collection.mutable.ArrayBuffer.empty[PosBitmap]
    // dv rows for one data file cluster together: memoize the last path
    // comparison instead of re-normalizing per tombstone
    var lastRaw: String = null
    var lastMatch = false
    dvPaths.foreach { case (dvPath, dvLen) =>
      val rows = (if (isBitmapDv(dvPath)) dvbFunc else dvFunc)(
        pf(dvPath, dvLen))
        .asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
      if (isBitmapDv(dvPath)) {
        rows.foreach { r =>
          if (SnapshotStore.uriPath(r.getUTF8String(0).toString) == want)
            bms += PosBitmap.deserialize(r.getBinary(1))
        }
      } else rows.foreach { r =>
        val raw = r.getUTF8String(0).toString
        if (raw != lastRaw) {
          lastRaw = raw
          lastMatch = SnapshotStore.uriPath(raw) == want
        }
        if (lastMatch) buf += r.getLong(1)
      }
    }
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    val t = new Tombstones(arr, bms.toArray)
    dvCache.put(key, new java.lang.ref.SoftReference(t))
    t
  }
}

/** A column vector view exposing only SELECTED ordinals of its delegate —
  * row `i` of this vector is row `sel(i)` of the delegate. Zero-copy: the
  * delegate's decoded buffers are shared, only the int selection array is
  * new (the Iceberg `ColumnVectorWithFilter` shape — how deletes apply
  * INSIDE a vectorized read without dropping the scan to row mode).
  * Struct/interval/variant access rides the final base-class accessors
  * through [[getChild]], which remaps with the SAME selection (struct
  * children are parent-positional); array/map entries delegate whole —
  * their offsets address the delegate's CHILD space, untouched by parent
  * row selection. `close` is a no-op: the delegate is owned by the
  * underlying parquet reader's task-completion hook. */
private[catalog] final class SelectedColumnVector(
    delegate: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
  extends org.apache.spark.sql.vectorized.ColumnVector(delegate.dataType()) {

  override def close(): Unit = ()
  // conservative pass-throughs: may overcount after filtering, which only
  // keeps null checks enabled — never wrong
  override def hasNull: Boolean = delegate.hasNull
  override def numNulls(): Int = delegate.numNulls()
  override def isNullAt(rowId: Int): Boolean = delegate.isNullAt(sel(rowId))
  override def getBoolean(rowId: Int): Boolean = delegate.getBoolean(sel(rowId))
  override def getByte(rowId: Int): Byte = delegate.getByte(sel(rowId))
  override def getShort(rowId: Int): Short = delegate.getShort(sel(rowId))
  override def getInt(rowId: Int): Int = delegate.getInt(sel(rowId))
  override def getLong(rowId: Int): Long = delegate.getLong(sel(rowId))
  override def getFloat(rowId: Int): Float = delegate.getFloat(sel(rowId))
  override def getDouble(rowId: Int): Double = delegate.getDouble(sel(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    delegate.getArray(sel(rowId))
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    delegate.getMap(sel(ordinal))
  override def getDecimal(rowId: Int, precision: Int,
      scale: Int): org.apache.spark.sql.types.Decimal =
    delegate.getDecimal(sel(rowId), precision, scale)
  override def getUTF8String(rowId: Int): UTF8String =
    delegate.getUTF8String(sel(rowId))
  override def getBinary(rowId: Int): Array[Byte] =
    delegate.getBinary(sel(rowId))
  private lazy val childCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, SelectedColumnVector]()
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    childCache.computeIfAbsent(ordinal,
      o => new SelectedColumnVector(delegate.getChild(o), sel))
}

/** One split's decoded tombstone set — legacy sorted positions plus any
  * number of compressed bitmaps, membership-tested per surviving row. */
private[catalog] final class Tombstones(sorted: Array[Long],
    bitmaps: Array[PosBitmap]) extends Serializable {
  def isEmpty: Boolean = sorted.isEmpty && bitmaps.forall(_.isEmpty)
  def contains(pos: Long): Boolean = {
    if (sorted.length > 0 &&
      java.util.Arrays.binarySearch(sorted, pos) >= 0) return true
    var i = 0
    while (i < bitmaps.length) {
      if (bitmaps(i).contains(pos)) return true
      i += 1
    }
    false
  }
}

/** Zone pruning of a manifest file list from pushed filters, against the
  * commit-versioned TYPED stats sidecar (q306's machinery consulted by
  * the V2 scan itself). Every sidecar kind prunes in its own canonical
  * domain — integers as longs, timestamps as micros, dates as epoch days,
  * strings in UTF8 binary order, doubles, decimals — with pushed-filter
  * LITERALS converted into that domain (`events.ts` range probes prune
  * exactly like integer keys). Strict bounds are treated as inclusive,
  * unconvertible literals skip their conjunct, open file bounds admit —
  * conservative every way: extra files are kept, rows are never lost. */
object SnapshotZones {

  def prune(spark: SparkSession, root: String, version: Int,
      pushed: Seq[Filter], files: Seq[String]): Seq[String] = {
    if (pushed.isEmpty) return files
    val stats = SnapshotStore.statsTypedOf(spark, root, version)
    if (stats.isEmpty) return files
    // intersect admissibility across EVERY constrained key the sidecar
    // covers — a z-ordered layout bounds all interleaved dimensions, so a
    // predicate on any of them prunes; unconstrained keys admit everything
    val tests: Seq[(SnapshotStore.TypedStats, ZoneTest)] =
      stats.toSeq.flatMap { case (key, ts) =>
        domOf(ts.kind).flatMap(interval(pushed, key, _)).map(ts -> _)
      }
    if (tests.isEmpty) return files
    files.filter { f =>
      val uri = SnapshotStore.uriPath(f)
      tests.forall { case (ts, t) =>
        ts.byUri.get(uri) match {
          case Some(b) => t.admits(b)
          case None => true
        }
      }
    }
  }

  /** One canonical bound domain: parse a stored bound string, convert a
    * pushed-filter literal, compare. */
  private[catalog] case class Dom(parse: String => Option[Any],
      lit: Any => Option[Any], ord: Ordering[Any])

  private def longDom(litOf: Any => Option[Long]) = Dom(
    _.toLongOption,
    litOf.andThen(_.map(Long.box)),
    Ordering.by[Any, Long](_.asInstanceOf[java.lang.Long].longValue))

  private[catalog] def domOf(kind: String): Option[Dom] = kind match {
    case "long" => Some(longDom {
      case n: Number => Some(n.longValue); case _ => None
    })
    case "micros" => Some(longDom(v =>
      PartitionSpec.internalOfLiteral(v).collect {
        case l: java.lang.Long => l.longValue // Timestamp/Instant → micros
      }))
    case "days" => Some(longDom {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    })
    case "string" => Some(Dom(
      s => Some(UTF8String.fromString(s)),
      { case s: String => Some(UTF8String.fromString(s))
        case s: UTF8String => Some(s)
        case _ => None },
      Ordering.by[Any, UTF8String](_.asInstanceOf[UTF8String])(
        Ordering.comparatorToOrdering(
          java.util.Comparator.naturalOrder[UTF8String]()))))
    case "double" => Some(Dom(
      _.toDoubleOption.filterNot(_.isNaN).map(Double.box),
      { case n: Number =>
          Some(n.doubleValue).filterNot(_.isNaN).map(Double.box)
        case _ => None },
      Ordering.by[Any, Double](_.asInstanceOf[java.lang.Double].doubleValue)))
    case "decimal" => Some(Dom(
      s => try Some(new java.math.BigDecimal(s))
        catch { case _: NumberFormatException => None },
      { case d: java.math.BigDecimal => Some(d)
        case d: scala.math.BigDecimal => Some(d.bigDecimal)
        case _ => None },
      Ordering.by[Any, java.math.BigDecimal](
        _.asInstanceOf[java.math.BigDecimal])(
        Ordering.comparatorToOrdering(
          java.util.Comparator.naturalOrder[java.math.BigDecimal]()))))
    case _ => None
  }

  /** The admissibility test the conjuncts imply for `key` in `dom`, None
    * when unconstrained. Open predicate or file sides never exclude. */
  private def interval(pushed: Seq[Filter], key: String,
      dom: Dom): Option[ZoneTest] = {
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    def raiseLo(v: Any): Unit =
      lo = Some(lo.filter(l => dom.ord.gteq(l, v)).getOrElse(v))
    def lowerHi(v: Any): Unit =
      hi = Some(hi.filter(h => dom.ord.lteq(h, v)).getOrElse(v))
    def visit(f: Filter): Unit = f match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(a, v) if a == key =>
        dom.lit(v).foreach { x => raiseLo(x); lowerHi(x) }
      case org.apache.spark.sql.sources.In(a, vs) if a == key &&
          vs.nonEmpty =>
        // a value LIST constrains to its [min, max] envelope — exact for
        // the interval test; any unconvertible member skips the conjunct
        val cs = vs.toSeq.map(dom.lit)
        if (cs.forall(_.isDefined)) {
          val vals = cs.flatten
          raiseLo(vals.min(dom.ord)); lowerHi(vals.max(dom.ord))
        }
      case GreaterThan(a, v) if a == key => dom.lit(v).foreach(raiseLo)
      case GreaterThanOrEqual(a, v) if a == key => dom.lit(v).foreach(raiseLo)
      case LessThan(a, v) if a == key => dom.lit(v).foreach(lowerHi)
      case LessThanOrEqual(a, v) if a == key => dom.lit(v).foreach(lowerHi)
      case _ => ()
    }
    pushed.foreach(visit)
    if (lo.isEmpty && hi.isEmpty) None
    else Some(ZoneTest(dom, lo, hi))
  }

  private case class ZoneTest(dom: Dom, lo: Option[Any], hi: Option[Any]) {
    def admits(b: SnapshotStore.TypedBounds): Boolean = {
      val fLo = b.lo.flatMap(dom.parse)
      val fHi = b.hi.flatMap(dom.parse)
      // disjointness, each side only when BOTH ends are known:
      // [fLo, fHi] ∩ [lo, hi] = ∅ ⇔ fHi < lo ∨ fLo > hi
      val belowPred = (fHi, lo) match {
        case (Some(fh), Some(l)) => dom.ord.lt(fh, l)
        case _ => false
      }
      val abovePred = (fLo, hi) match {
        case (Some(fl), Some(h)) => dom.ord.gt(fl, h)
        case _ => false
      }
      !(belowPred || abovePred)
    }
  }
}

class SnapshotWriteBuilder(spark: SparkSession, table: SnapshotTable,
    info: LogicalWriteInfo, op: Option[SnapshotRowLevelOperation])
  extends WriteBuilder with SupportsTruncate {

  private var truncateAll = false

  /** `INSERT OVERWRITE graft.t` (whole-table): the commit drops every data
    * line and delete vector and keeps the meta lines — schema and
    * partition spec survive the truncation, history survives as the prior
    * versions (an overwrite is one more commit, time travel reaches back
    * through it). */
  override def truncate(): WriteBuilder = { truncateAll = true; this }

  override def build(): Write =
    new SnapshotWrite(spark, table, info, op, truncateAll)
}

/** The physical write is [[SnapshotFanoutWriterFactory]] — the catalog's
  * one executor-side writer — aimed at an invisible staging directory
  * inside the root; [[SnapshotFanoutBatchWrite.commit]] then publishes:
  * committed tasks' staged files rename into the root (same-FS metadata
  * ops), and ONE manifest commit replaces exactly the operation's scanned
  * files — based on the version the table was LOADED at, so a concurrent
  * committer conflicts (first-writer-wins OCC) instead of interleaving. */
class SnapshotWrite(spark: SparkSession, table: SnapshotTable,
    info: LogicalWriteInfo, op: Option[SnapshotRowLevelOperation],
    truncateAll: Boolean = false)
  extends Write
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def description(): String =
    s"graft-snapshot-write(${table.name()}, v${table.snapVersion})"

  /** The manifest's partition spec bound against the write schema — the
    * tuple the fanout writer below routes rows by. None when the spec is
    * absent, unparsable, or references columns the write doesn't carry
    * (the write then uses the empty tuple and lands unannotated —
    * conservative). */
  private val boundPart: Option[Seq[BoundPartItem]] =
    SnapshotStore.partitionSpecOf(spark, table.root, table.snapVersion)
      .flatMap(PartitionSpec.parse)
      .flatMap(items => BoundPartItem.bind(items, info.schema()))

  /** Cluster incoming rows by the partition TRANSFORM values (the Iceberg
    * write-distribution contract): Spark resolves `days`/`bucket` through
    * the catalog's own [[GraftFunctions]] and shuffles on the transformed
    * value, so each task holds whole tuples and the fanout writer opens
    * one file per tuple — not one per (task, tuple). Unpartitioned tables
    * impose nothing. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    boundPart.map { bp =>
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        bp.map[org.apache.spark.sql.connector.expressions.Expression] {
          b => b.item match {
            case IdentityItem(c) => ColumnBridge.fieldReference(c)
            case other => SnapshotScan.transformOf(other)
          }
        }.toArray)
    }.getOrElse(org.apache.spark.sql.connector.distributions
      .Distributions.unspecified())

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: BatchWrite = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(table.root,
      s"_graft_stage_cat_$run").toString
    // one file per (task, partition tuple); an unpartitioned table is the
    // empty tuple. The tuple rides the commit message, so the manifest
    // annotates every new file of a partitioned table with its tuple —
    // catalog writes KEEP partition pruning power, no post-hoc scan of
    // the data just written.
    new SnapshotFanoutBatchWrite(spark, table, staging, run,
      SnapshotFanout.factory(spark, staging, info.schema(),
        boundPart.getOrElse(Nil)), op, truncateAll)
  }

  /** `writeStream.toTable("graft.t")`: every micro-batch epoch becomes ONE
    * atomic manifest commit (appended data files + the epoch high-water
    * mark), so mid-stream readers only ever see whole epochs, and a
    * replayed epoch — Structured Streaming redelivers after a
    * commit-then-crash — finds its mark already stamped and skips:
    * exactly-once from at-least-once, the manifest edition of q324's
    * version arithmetic. The physical write is the catalog's fanout
    * writer, one staging directory per epoch. */
  override def toStreaming: StreamingWrite = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty[String, String], info.schema())
    new SnapshotStreamingWrite(table, info.schema(), info.queryId(), owf,
      new SerializableConfiguration(job.getConfiguration))
  }
}

/** One staged fanout file and the partition value all its rows share. */
case class PartStagedFile(path: String, value: String)
  extends WriterCommitMessage

/** The catalog's batch write: tasks fan rows out into one file per
  * partition tuple ([[SnapshotFanoutWriterFactory]]; the empty tuple on an
  * unpartitioned table), and the commit publishes every committed task's
  * files through [[SnapshotFanout.publish]] — `part=`-annotated on a
  * partitioned table, so the manifest's per-file partition tuple stays
  * complete through catalog INSERT / OVERWRITE / row-level rewrites. An
  * aborted task attempt's files never reach a commit message; the whole
  * staging directory goes once the commit has published. */
class SnapshotFanoutBatchWrite(spark: SparkSession, table: SnapshotTable,
    staging: String, run: String, factory: SnapshotFanoutWriterFactory,
    op: Option[SnapshotRowLevelOperation], truncateAll: Boolean)
  extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.DataWriterFactory =
    factory

  private def fs = new org.apache.hadoop.fs.Path(table.root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (lines, moved) =
      try SnapshotFanout.publish(spark, table.root, messages.toSeq,
        factory.bound, s"cat_$run")
      finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    if (op.isEmpty && !truncateAll) {
      // PURE APPEND: rebase onto the CURRENT tip with OCC retry — new
      // files commute with any interleaved commit (the snapshot-isolation
      // append contract every table format gives), and a write-audit-
      // publish staging INSERT (table loaded at a pinned `main`, tip
      // already past it) lands on the branch instead of conflicting.
      SnapshotTable.appendCommit(spark, table.root, table.snapVersion,
        lines, moved)
    } else {
      // carry every non-replaced manifest line VERBATIM (partition
      // annotations, the spec meta line) — only the replaced data lines
      // go. A truncating overwrite keeps ONLY the meta lines: schema and
      // spec survive, every data line and vector goes. A rewrite that
      // leaves no data line keeps the write schema in the manifest. Strict
      // OCC on the loaded version: a rewrite must never silently rebase.
      val replaced = op.map(_.replacedFiles).getOrElse(Nil)
        .map(SnapshotStore.uriPath).toSet
      val kept =
        if (truncateAll) SnapshotStore.metaLines(spark, table.root,
          table.snapVersion)
        else SnapshotStore.linesReplacing(spark, table.root,
          table.snapVersion, replaced)
      SnapshotStore.commitOrCleanup(spark, table.root,
        SnapshotStore.linesKeepingSchema(kept ++ lines, factory.schema),
        table.snapVersion, moved)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
}

/** The catalog's one executor-side writer ([[SnapshotFanout]]): rows
  * route to one Spark parquet OutputWriter per partition TUPLE — the
  * empty tuple when `bound` is empty — opened when the tuple's first row
  * arrives (the requested clustered distribution keeps the per-task tuple
  * count small; an empty task opens none). Tuples are rendered by the
  * exact [[PartitionSpec]] functions the read-side pruning compares with.
  * File names carry the task ATTEMPT id, so a retried attempt never
  * shares a path with the attempt it replaces. */
class SnapshotFanoutWriterFactory(staging: String, val schema: StructType,
    val bound: Seq[BoundPartItem],
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}

      private val writers = scala.collection.mutable.LinkedHashMap
        .empty[String, (org.apache.spark.sql.execution.datasources.OutputWriter, String)]
      private var nFiles = 0
      private var nRows = 0L

      private def writerFor(value: String) = writers.getOrElseUpdate(value, {
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf.value,
          new TaskAttemptID(new TaskID(new JobID("graftfan", partitionId),
            TaskType.MAP, partitionId), nFiles))
        val dir = new org.apache.hadoop.fs.Path(staging)
        dir.getFileSystem(conf.value).mkdirs(dir)
        val path = new org.apache.hadoop.fs.Path(dir,
          f"part-$partitionId%05d-$taskId-$nFiles${owf.getFileExtension(ctx)}")
          .toString
        nFiles += 1
        (owf.newInstance(path, schema, ctx), path)
      })

      override def write(row: InternalRow): Unit = {
        writerFor(if (bound.isEmpty) ""
          else BoundPartItem.valueOf(bound, row))._1.write(row)
        nRows += 1
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._1.close())
        org.apache.spark.graft.OutputMetricsBridge.add(
          writers.values.map { case (_, p) =>
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(conf.value).getFileStatus(path).getLen
          }.sum, nRows)
        // one message per file is the natural shape, but the contract is
        // one per task — pack (path, value) pairs into a composite
        CompositePartStaged(writers.map { case (v, (_, p)) =>
          PartStagedFile(p, v)
        }.toSeq)
      }

      override def abort(): Unit = writers.values.foreach(_._1.close())
      override def close(): Unit = ()
    }
}

/** A task's full set of staged fanout files. */
case class CompositePartStaged(files: Seq[PartStagedFile])
  extends WriterCommitMessage

/** A manifest version as a streaming offset. NEGATIVE versions encode
  * "initial snapshot at |version| not yet emitted": the stream's initial
  * offset pins the version the table was LOADED at, so a replayed first
  * batch re-plans exactly that snapshot — never whatever newer version a
  * restarted table happens to resolve (replay determinism after a
  * commit-then-crash with concurrent writers). Zero is the legacy
  * pre-pin encoding, handled conservatively (snapshot capped at the
  * batch's end offset). */
case class SnapshotVersionOffset(version: Int)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** STREAMING READS from a snapshot table (`readStream.table("graft.t")`)
  * — the manifest IS the log: offsets are committed versions, a
  * micro-batch is the manifest DIFF between two versions, and the first
  * batch is the table's full snapshot at stream start (delete vectors
  * applied, zone pruning and column pruning as on any scan). The
  * Delta-style table-tailing source:
  *
  *  - APPEND-ONLY ENFORCEMENT: a version that removed files or added
  *    delete vectors is a CHANGE commit (rewrite, MoR delete, compaction)
  *    — emitting its additions would re-emit rewritten rows. Default:
  *    fail loudly. `option("skipChangeCommits", "true")` skips such
  *    versions whole (Delta's contract of the same name: appends flow,
  *    changed history does not re-emit).
  *  - EXACTLY-ONCE: offsets are durable version numbers in the
  *    checkpoint; replanning batch (a, b] re-reads exactly the same
  *    manifest diff — immutable files, immutable manifests.
  *  - At 100 TB: per-trigger planning cost is two manifest reads; the
  *    data read is only the appended files. Vacuum retention must cover
  *    the reader's lag (the standard table-format contract).
  */
class SnapshotMicroBatchStream(spark: SparkSession, table: SnapshotTable,
    scan: SnapshotScan, skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Int] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** `Trigger.AvailableNow`: the target version is pinned HERE, before
    * the first batch — the query drains up to it (in admission-control
    * steps when configured) and stops, never chasing writers that keep
    * committing while it runs. */
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(current)

  /** The initial offset PINS the loaded snapshot version (negative
    * encoding): a crash before batch 0's commit replays against exactly
    * this version even if other writers committed meanwhile and the
    * restarted table loaded newer — the replayed snapshot and the next
    * diff batch can never overlap. */
  override def initialOffset(): Offset =
    SnapshotVersionOffset(-table.snapVersion)

  private def versionOf(o: Offset): Int =
    o.asInstanceOf[SnapshotVersionOffset].version

  /** The newest version this stream may emit. A PINNED `main` ref caps it
    * (write-audit-publish staging): a stream tailing the default branch
    * must not leak staged commits — it resumes past the pin only when
    * publish moves it. Explicit branch readers load their own version. */
  private def current: Int = {
    val tip = math.max(table.snapVersion,
      SnapshotStore.currentVersion(spark, table.root))
    SnapshotStore.refsOf(spark, table.root).get("main").flatten match {
      case Some(pin) if pin >= table.snapVersion => pin
      case _ => tip
    }
  }

  override def latestOffset(): Offset = SnapshotVersionOffset(current)

  /** ADMISSION CONTROL (`option("maxVersionsPerTrigger", n)`): a
    * backlogged table drains in bounded micro-batches — at most n
    * manifest versions past the start offset per trigger (the initial
    * snapshot counts as its pinned version) — instead of swallowing its
    * whole history in one batch. Delta's `maxFilesPerTrigger` contract at
    * version grain: the manifest diff, not the file count, is this
    * source's unit of arrival. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = math.abs(versionOf(start))
    val target = availableNowCap.getOrElse(current)
    val cap = maxVersionsPerTrigger match {
      case Some(n) => math.min(target, from + math.max(1, n))
      case None => target
    }
    SnapshotVersionOffset(math.max(from, cap))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = SnapshotVersionOffset(current)

  override def deserializeOffset(json: String): Offset =
    SnapshotVersionOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = versionOf(start)
    val e = versionOf(end)
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // the initial snapshot: the scan's planning PINNED at the offset's
    // version (vectors applied, zone-pruned) — never change-checked. A
    // legacy 0 offset (pre-pin checkpoint) caps at the batch's end
    // offset, so a replay can't leak versions past what batch 0 covered.
    val snapV =
      if (s < 0) Some(-s)
      else if (s == 0) Some(math.min(table.snapVersion, math.max(1, e)))
      else None
    snapV.foreach(v => parts ++= scan.snapshotPartitionsAt(v))
    val from = snapV.getOrElse(s)
    SnapshotStore.versions(spark, table.root)
      .filter(v => v > from && v <= e).foreach { v =>
        val prev = SnapshotStore.files(spark, table.root, v - 1)
          .map(SnapshotStore.uriPath).toSet
        val cur = SnapshotStore.files(spark, table.root, v)
        val added = cur.filterNot(f => prev(SnapshotStore.uriPath(f)))
        val removed = prev -- cur.map(SnapshotStore.uriPath)
        val dvAdded = SnapshotStore.deleteVectors(spark, table.root, v)
          .map(SnapshotStore.uriPath).toSet --
          SnapshotStore.deleteVectors(spark, table.root, v - 1)
            .map(SnapshotStore.uriPath)
        // an equality-delete commit mutates earlier files' rows: a
        // CHANGE commit exactly like a vector commit
        val eqAdded = SnapshotStore.eqDeletes(spark, table.root, v)
          .map(e => SnapshotStore.uriPath(e.path)).toSet --
          SnapshotStore.eqDeletes(spark, table.root, v - 1)
            .map(e => SnapshotStore.uriPath(e.path))
        // a schema-evolution commit (ADD/RENAME/DROP) is a CHANGE commit
        // too: the stream's schema was fixed at start, so later epochs'
        // files can't be read under it
        val schemaChanged = SnapshotStore.schemaOf(spark, table.root, v) !=
          SnapshotStore.schemaOf(spark, table.root, v - 1)
        if (removed.nonEmpty || dvAdded.nonEmpty || eqAdded.nonEmpty ||
            schemaChanged) {
          if (!skipChangeCommits) throw new IllegalStateException(
            s"streaming read of ${table.name()} hit a CHANGE commit at " +
              s"version $v (${removed.size} files removed, ${dvAdded.size} " +
              s"vectors + ${eqAdded.size} equality deletes added, " +
              s"schema changed: $schemaChanged): " +
              "rewrites/deletes/evolution cannot re-emit. Set " +
              "option(\"skipChangeCommits\", \"true\") to skip such " +
              "versions, or tail an append-only table.")
          // skip the whole version: its additions are rewrite outputs
        } else {
          parts ++= scan.partitionsFor(
            SnapshotPartitions.prune(spark, table.root, v, scan.pushedFilters,
              SnapshotZones.prune(spark, table.root, v, scan.pushedFilters,
                added)), v)
        }
      }
    parts.toArray
  }

  /** Row mode always: one micro-batch may mix a vectored initial
    * snapshot with clean diff partitions, and the exec's columnar
    * contract is all-or-none. Trigger machinery dominates streaming cost;
    * vectorized decode stays on inside the reader. */
  override def createReaderFactory(): PartitionReaderFactory =
    scan.mkReaderFactory(forceRows = true)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** DELTA (merge-on-read) row-level operation — the production shape for
  * scattered mutations at 100 TB: Spark's delta rewrite rules
  * (`SupportsDelta`) plan DELETE as tombstones, UPDATE as
  * delete-and-insert, MERGE as the mix; the write lands as delete-vector
  * sidecars + insert files and ONE manifest commit — NO data file is ever
  * rewritten, so cost ∝ changed ROWS instead of covering files. The row id
  * is (`_file`, `_pos`): the scan's split path + the parquet reader's
  * native file-absolute row index — exactly a delete vector's coordinates.
  * The delta scan pushes its filters INTO the reader (no carry-over-rows
  * contract to protect) and applies existing vectors first, so a tombstone
  * can never double-delete and a dead row can never re-match. q304-style
  * compaction reconciles accumulated vectors back to clean files. */
class SnapshotDeltaOperation(spark: SparkSession, table: SnapshotTable,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(spark, table, None, forDelta = true)

  override def newWriteBuilder(
      info: LogicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new SnapshotDeltaWrite(spark, table, info)
    }

  override def rowId(): Array[NamedReference] = Array(
    ColumnBridge.fieldReference(SnapshotTable.FileColName),
    ColumnBridge.fieldReference(SnapshotTable.PosColName))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  /** Updates become (tombstone, insert) pairs — the delete-vector model
    * has no in-place row mutation. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true
}

/** One task's staged delta output: insert data files + tombstone files,
  * with the data files the tombstones COVER (the task saw exactly the
  * rows it deleted, so coverage is free here — and recording it in the
  * manifest makes loading a MoR table a zero-job metadata read). */
case class DeltaStagedFiles(dataFiles: Seq[String], dvFiles: Seq[String],
    dvCovers: Seq[String] = Nil) extends WriterCommitMessage

class SnapshotDeltaWrite(spark: SparkSession, table: SnapshotTable,
    info: LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.DeltaWrite {

  override def description(): String =
    s"graft-snapshot-delta-write(${table.name()}, v${table.snapVersion})"

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(table.root,
      s"_graft_stage_delta_$run").toString
    val dataSchema = info.schema()
    // tombstones land as one COMPRESSED POSITION BITMAP row per covered
    // data file ([[PosBitmap]] — the roaring-style payload), not one row
    // per position: wire/cache bytes shrink 10-50× on clustered deletes
    val dvSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bm", org.apache.spark.sql.types.BinaryType,
        nullable = false)))
    def prepared(s: StructType) = {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        spark.sessionState.newHadoopConf())
      (new ParquetFileFormat().prepareWrite(spark, job,
        Map.empty[String, String], s),
        new SerializableConfiguration(job.getConfiguration))
    }
    val (dataOwf, dataConf) = prepared(dataSchema)
    val (dvOwf, dvConf) = prepared(dvSchema)
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("delta write without a rowId schema"))
    new SnapshotDeltaBatchWrite(spark, table, staging, run,
      new SnapshotDeltaWriterFactory(staging, dataSchema, dataOwf, dataConf,
        dvSchema, dvOwf, dvConf,
        idSchema.fieldIndex(SnapshotTable.FileColName),
        idSchema.fieldIndex(SnapshotTable.PosColName)))
  }
}

class SnapshotDeltaBatchWrite(spark: SparkSession, table: SnapshotTable,
    staging: String, run: String, factory: SnapshotDeltaWriterFactory)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = factory

  private def fs = new org.apache.hadoop.fs.Path(table.root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish: staged insert files and tombstone files rename into the
    * root; the manifest gains them — every existing line (data files,
    * prior vectors, meta) carries VERBATIM, nothing is replaced. OCC on
    * the version the operation loaded: a racing committer fails this
    * statement whole, never interleaves. A no-match operation (nothing
    * staged) commits nothing — the table version only moves on change. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case d: DeltaStagedFiles => d }
    val data = staged.flatMap(_.dataFiles).sorted
    val dvPairs = staged.flatMap(d => d.dvFiles.map((_, d.dvCovers)))
      .sortBy(_._1)
    try {
      if (data.nonEmpty || dvPairs.nonEmpty) {
        val dataMoved = SnapshotStore.publish(spark, table.root, data,
          s"mor_$run")
        // `dvb_` names mark the bitmap payload generation — readers
        // dispatch per FILE, so legacy per-position vectors coexist
        val dvMoved = SnapshotStore.publish(spark, table.root,
          dvPairs.map(_._1), s"dvb_$run")
        // dv lines carry their COVERAGE: later loads resolve pointers
        // from the manifest alone (no vector-file read, no job)
        val dvLines = dvMoved.zip(dvPairs.map(_._2)).map {
          case (p, covers) if covers.nonEmpty =>
            SnapshotStore.dvLineCovering(p, covers)
          case (p, _) => SnapshotStore.dvLine(p)
        }
        // a delta commit only ADDS lines (insert files + vectors), so it
        // commutes with interleaved commits EXACTLY WHEN every file its
        // tombstones cover is still live at the rebase target AND no
        // interleaved commit added vectors over the same files
        // ([[SnapshotTable.vectorCommitValidate]] — Delta's row-level
        // conflict contract); appendCommit also guards schema/spec drift.
        // This is what lets a MoR DELETE/MERGE land on a
        // write-audit-publish staging branch while `main` is pinned.
        val covers = dvPairs.flatMap(_._2).map(SnapshotStore.uriPath).toSet
        SnapshotTable.appendCommit(spark, table.root, table.snapVersion,
          dataMoved ++ dvLines, dataMoved ++ dvMoved,
          validate = SnapshotTable.vectorCommitValidate(spark, table.root,
            table.snapVersion, covers))
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
}

/** Executor-side delta writer: inserts stream through Spark's own parquet
  * OutputWriter; deletes append (file, pos) tombstone rows to a per-task
  * vector file. Writers open lazily — a task that only deletes stages no
  * data file and vice versa. */
class SnapshotDeltaWriterFactory(staging: String, dataSchema: StructType,
    dataOwf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    dataConf: SerializableConfiguration, dvSchema: StructType,
    dvOwf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    dvConf: SerializableConfiguration, idFileIdx: Int, idPosIdx: Int)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}

      private def ctx(conf: SerializableConfiguration) =
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf.value,
          new TaskAttemptID(new TaskID(new JobID("graftdelta", partitionId),
            TaskType.MAP, partitionId), 0))

      private var dataW: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var dataPath: String = _
      // tombstone positions buffered PER COVERED FILE in a PRIMITIVE
      // long buffer (a true 8 B per deleted row — ArrayBuffer[Long]
      // boxes to ~24+ B/entry), compressed into one [[PosBitmap]] row
      // each at commit
      private val dvPositions = scala.collection.mutable.LinkedHashMap
        .empty[String, LongVec]

      override def insert(row: InternalRow): Unit = {
        if (dataW == null) {
          val c = ctx(dataConf)
          dataPath = new org.apache.hadoop.fs.Path(staging,
            f"data-$partitionId%05d-$taskId${dataOwf.getFileExtension(c)}")
            .toString
          new org.apache.hadoop.fs.Path(staging)
            .getFileSystem(dataConf.value).mkdirs(
              new org.apache.hadoop.fs.Path(staging))
          dataW = dataOwf.newInstance(dataPath, dataSchema, c)
        }
        dataW.write(row)
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        dvPositions.getOrElseUpdate(id.getUTF8String(idFileIdx).toString,
          new LongVec()).add(id.getLong(idPosIdx))

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        // unused under representUpdateAsDeleteAndInsert; defensive
        delete(metadata, id)
        insert(row)
      }

      override def commit(): WriterCommitMessage = {
        if (dataW != null) dataW.close()
        var dvPath: String = null
        if (dvPositions.nonEmpty) {
          val c = ctx(dvConf)
          dvPath = new org.apache.hadoop.fs.Path(staging,
            f"dv-$partitionId%05d-$taskId${dvOwf.getFileExtension(c)}")
            .toString
          new org.apache.hadoop.fs.Path(staging)
            .getFileSystem(dvConf.value).mkdirs(
              new org.apache.hadoop.fs.Path(staging))
          val dvW = dvOwf.newInstance(dvPath, dvSchema, c)
          try {
            val dvRow = new GenericInternalRow(2)
            dvPositions.foreach { case (file, positions) =>
              dvRow.update(0, UTF8String.fromString(file))
              dvRow.update(1,
                PosBitmap.fromPositions(positions.toArray).serialize)
              dvW.write(dvRow)
            } // positions.toArray: one primitive copy per covered file
          } finally dvW.close()
        }
        DeltaStagedFiles(Option(dataPath).toSeq, Option(dvPath).toSeq,
          dvPositions.keys.toSeq)
      }

      override def abort(): Unit = {
        if (dataW != null) dataW.close()
      }

      override def close(): Unit = ()
    }
}

/** The streaming half of the catalog write: tasks stage parquet through
  * the catalog's fanout writer (empty tuple) into
  * `<root>/_graft_stage_stream_<q>/ep<n>/`, and `commit(epoch)` publishes
  * them as ONE manifest commit stamped with the epoch high-water mark
  * (`meta:epoch=<queryId>:<n>`):
  *
  *  - EXACTLY-ONCE: a replayed epoch (at-least-once redelivery) finds its
  *    id ≤ the stamped mark and discards its staging — the commit is
  *    idempotent by manifest arithmetic, no sink-side dedup;
  *  - READER ISOLATION: a mid-stream reader resolves the latest manifest —
  *    always a whole number of epochs, never a torn one;
  *  - CONCURRENCY: the commit is a pure append through
  *    [[SnapshotTable.appendCommit]] — it rebases onto interleaving
  *    committers (a compaction, a batch INSERT) with OCC retry, and
  *    declines LOUDLY when the schema or partition spec moved since the
  *    stream loaded the table (its files were written under the loaded
  *    column names) or when another run already stamped this epoch. The
  *    staged epoch files move at most once; an abandoned commit deletes
  *    them.
  *
  * At 100 TB the per-epoch cost is the staged bytes + one rename — the
  * manifest grows by |epoch files| lines, and q304-style compaction folds
  * small epoch files back into clustered ones. Streaming into a
  * partitioned table writes unannotated files (kept by every prune). */
class SnapshotStreamingWrite(table: SnapshotTable, schema: StructType,
    queryId: String, owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration) extends StreamingWrite {

  private val tag = queryId.replaceAll("[^a-zA-Z0-9]", "").take(8)
  private val stagingBase = new org.apache.hadoop.fs.Path(table.root,
    s"_graft_stage_stream_$tag").toString

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new SnapshotStreamWriterFactory(stagingBase, schema, owf, conf)

  private def dropStaging(spark: SparkSession, epochId: Long): Unit = {
    val epDir = new org.apache.hadoop.fs.Path(stagingBase, s"ep$epochId")
    epDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(epDir, true)
  }

  private def stamped(spark: SparkSession, epochId: Long,
      version: Int = -1): Boolean =
    SnapshotStore.epochOf(spark, table.root, queryId, version)
      .exists(_ >= epochId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      if (stamped(spark, epochId)) return // replayed epoch: a no-op
      // the names carry a per-ATTEMPT unique component: a crash between
      // the renames and the manifest commit leaves the epoch unmarked, so
      // the replay re-publishes — deterministic names would then rename
      // onto existing targets (wedging rename-strict filesystems); unique
      // names make the replay clean, and the crashed attempt's files stay
      // unreferenced like any abandoned staging
      val att = java.util.UUID.randomUUID().toString.take(8)
      val (lines, moved) = SnapshotFanout.publish(spark, table.root,
        messages.toSeq, Nil, s"strm_${tag}_ep${epochId}_$att")
      // an empty epoch commits no version
      if (moved.nonEmpty)
        SnapshotTable.appendCommit(spark, table.root, table.snapVersion,
          lines, moved, validate = cur => !stamped(spark, epochId, cur),
          keptTransform = SnapshotStore.linesWithEpoch(_, queryId, epochId))
    } finally dropStaging(spark, epochId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    dropStaging(SparkSession.active, epochId)
}

/** Executor-side epoch writer: the catalog's fanout writer (empty tuple)
  * aimed at the epoch's staging directory; task retries write distinct
  * attempt files and only committed tasks' files reach the manifest. */
class SnapshotStreamWriterFactory(stagingBase: String, schema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotFanoutWriterFactory(
      new org.apache.hadoop.fs.Path(stagingBase, s"ep$epochId").toString,
      schema, Nil, owf, conf).createWriter(partitionId, taskId)
}
