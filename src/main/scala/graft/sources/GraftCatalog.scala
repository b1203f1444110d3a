package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import TableFs.mkdirs

/** The DSv2 `TableCatalog` face (`spark.sql.catalog.<name> =
  * graft.sources.GraftCatalog`, `spark.sql.catalog.<name>.warehouse =
  * <dir>`) — what makes graft tables FIRST-CLASS in Spark's resolution,
  * the way Delta's `DeltaCatalog` and Iceberg's `SparkCatalog` integrate:
  * catalog-qualified names (`cat.ns.t`), namespaces (`CREATE/SHOW/DROP
  * NAMESPACE`, `USE`), native DDL (`CREATE TABLE … AS SELECT`, `ALTER
  * TABLE`, `DROP`), native time travel (`VERSION AS OF` / `TIMESTAMP AS
  * OF` resolve through [[loadTable]]'s versioned overloads), and native
  * DML resolution (`DELETE`/`UPDATE`/`MERGE` plans resolve against the
  * v2 relation, then lower through the existing graft rules) — no
  * parse-time interception on any of these paths.
  *
  * Layout IS the metastore (the Hadoop-catalog shape Iceberg ships):
  * a namespace is a directory under the warehouse, a table is a
  * directory holding a graft `_manifests` log. No extra state means no
  * second commit protocol — table existence and schema come from the
  * same manifest the reads use, and concurrent DDL inherits the manifest
  * log's own atomicity. `CREATE … LOCATION '<dir>'` (or an `option.path`)
  * makes an EXTERNAL table: registered under the catalog name but
  * rooted elsewhere; DROP of an external table only forgets it.
  *
  * Execution stays on the proven engine: [[GraftTable]] carries a pinned
  * [[GraftRelation]], and [[graft.plans.GraftV2FallbackRule]] rewrites
  * every catalog READ onto it during resolution — so zone-map/Bloom file
  * skipping, runtime join filters, co-bucket joins, metadata aggregates,
  * CBO stats and generated-column derivation all fire for
  * catalog-qualified queries exactly as for path reads. Writes ride the
  * v2 `V1Write` fallback onto `ManifestTable.append`/`overwriteData`,
  * the same every-write-path hooks (defaults, generated columns,
  * constraints, identity) every other face runs.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .getOrElse(sys.error(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  /** One identifier segment → one directory segment. Rejecting
    * separators and traversal keeps every table inside the warehouse —
    * an identifier is a NAME, never a path. */
  private def segment(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      s != "." && s != "..",
      s"graft catalog: illegal identifier segment '$s'")
    s
  }

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(new Path(warehouse))((p, s) => new Path(p, segment(s)))

  private def managedPath(ident: Identifier): String =
    new Path(nsPath(ident.namespace()), segment(ident.name())).toString

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** An EXTERNAL table's catalog entry: a managed directory holding only
    * a `_location` pointer at the real root (`CREATE … LOCATION`). The
    * directory IS the metastore row, so external tables list, load,
    * rename and drop (forget) like managed ones. */
  private val LocationMarker = "_location"

  private def markerOf(p: Path): Option[String] = {
    val marker = new Path(p, LocationMarker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        Some(new String(out.toByteArray, "UTF-8").trim)
      } finally in.close()
    }
  }

  private def writeMarker(managed: Path, location: String): Unit = {
    mkdirs(fs, managed)
    val out = fs.create(new Path(managed, LocationMarker), true)
    try out.write(location.getBytes("UTF-8")) finally out.close()
  }

  /** The graft root a catalog identifier denotes: the external location
    * when a marker points elsewhere, the managed directory otherwise. */
  private def tableRoot(ident: Identifier): String = {
    val managed = new Path(managedPath(ident))
    markerOf(managed).getOrElse(managed.toString)
  }

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_manifests")) ||
      fs.exists(new Path(p, LocationMarker))

  private def subdirs(dir: Path): Seq[Path] =
    TableFs.list(fs, dir).filter(_.isDir).map(_.path)

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    subdirs(dir).filter(isTableDir).map(p => Identifier.of(namespace, p.getName)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ManifestTable.currentVersion(spark, tableRoot(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val path = tableRoot(ident)
    if (ManifestTable.currentVersion(spark, path).isEmpty)
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    new GraftTable(path, fullParts(ident), None)
  }

  /** `FOR VERSION AS OF <v>` — a number pins that version, a string
    * resolves as a TAG (Iceberg's ref shape), same grammar as the
    * reader-option and parser faces. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tableRoot(ident)
    if (ManifestTable.currentVersion(spark, path).isEmpty)
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    new GraftTable(path, fullParts(ident),
      Some(ManifestTable.resolveVersionRef(spark, path, version)))
  }

  /** `FOR TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds;
    * resolution is on the manifest's commit clock. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tableRoot(ident)
    if (ManifestTable.currentVersion(spark, path).isEmpty)
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    new GraftTable(path, fullParts(ident),
      Some(ManifestTable.versionAt(spark, path, timestamp / 1000L)))
  }

  /** The REAL identifier parts (catalog, namespace segments, name) — the
    * table carries these, never a pre-joined string: splitting a joined
    * name on '.' would drop middle segments of a nested namespace and
    * mis-split quoted identifiers containing dots. */
  private def fullParts(ident: Identifier): Seq[String] =
    (catalogName +: ident.namespace().toSeq) :+ ident.name()

  /** Everything a creation statement declares, decoded once for both the
    * plain and the staged CREATE paths. v2 DDL carries OPTIONS as
    * `option.`-prefixed properties and the LOCATION clause as `location`;
    * graft's creation options (statscols/bloomcols/generated.*) ride
    * either channel. */
  private case class CreationSpec(path: String, external: Boolean,
                                  pcols: Seq[String],
                                  transforms: Seq[ManifestTable.PartitionTransform],
                                  statsCols: Seq[String], bloomCols: Seq[String],
                                  generated: Map[String, String],
                                  userProps: Map[String, String])

  private def creationSpec(ident: Identifier, partitions: Array[Transform],
                           properties: util.Map[String, String]): CreationSpec = {
    val props = properties.asScala.toMap
    def opt(key: String): Option[String] =
      props.get(TableCatalog.OPTION_PREFIX + key).orElse(props.get(key))
    val external = opt("path").orElse(props.get(TableCatalog.PROP_LOCATION))
    val (pcols, transforms) =
      graft.plans.GraftSqlParser.toGraftPartitioning(partitions.toSeq)
    def csv(key: String): Seq[String] =
      opt(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val generated = graft.plans.GraftSqlParser.generatedOpts(
      props.collect { case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v })
    val user = props -- Seq(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, "path") --
      props.keys.filter(_.startsWith(TableCatalog.OPTION_PREFIX))
    CreationSpec(external.getOrElse(managedPath(ident)), external.isDefined,
      pcols, transforms, csv("statscols"), csv("bloomcols"), generated, user)
  }

  /** Land a creation batch (empty for plain CREATE, the query result for
    * staged CTAS/RTAS) as ONE overwrite commit, plus the catalog entry
    * for external locations. */
  private def materialize(ident: Identifier, spec: CreationSpec,
                          batch: org.apache.spark.sql.DataFrame): Unit = {
    if (!spec.external) mkdirs(fs, nsPath(ident.namespace()))
    ManifestTable.overwrite(spark, spec.path, batch, spec.pcols,
      statsCols = spec.statsCols, bloomCols = spec.bloomCols,
      transforms = spec.transforms, generated = spec.generated)
    // the external marker lands only AFTER the manifest commit succeeded:
    // marker-first would leave a failure between the two as a phantom
    // catalog entry — listTables reports it, loadTable/tableExists reject
    if (spec.external) writeMarker(new Path(managedPath(ident)), spec.path)
    // user TBLPROPERTIES land in the manifest (versioned, time-travelable)
    if (spec.userProps.nonEmpty)
      ManifestTable.setProperties(spark, spec.path, spec.userProps): Unit
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val spec = creationSpec(ident, partitions, properties)
    if (ManifestTable.currentVersion(spark, spec.path).isDefined)
      throw new TableAlreadyExistsException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    materialize(ident, spec, spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    new GraftTable(spec.path, fullParts(ident), None)
  }

  // ---- staged creation: CTAS/RTAS as ONE commit ----
  //
  // Without staging, v2 CTAS is create-empty-then-append — two versions,
  // the first an empty-table artifact, and a crash between them leaves a
  // hollow table. The staged form defers EVERYTHING to the write: the
  // single ManifestTable.overwrite commit is version 1 (CTAS) or the one
  // atomic replacement version (RTAS — prior snapshots stay readable,
  // history keeps working, exactly the GraftRtasCommand semantics).

  private abstract class StagedGraft(ident: Identifier, spec: CreationSpec,
                                     declared: StructType)
      extends StagedTable with SupportsWrite {
    @volatile protected var written = false
    override def name(): String = fullParts(ident).mkString(".")
    override def schema(): StructType = declared
    override def partitioning(): Array[Transform] = Array.empty
    override def properties(): util.Map[String, String] = util.Map.of()
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate with SupportsOverwrite {
        override def truncate(): WriteBuilder = this
        override def overwrite(filters: Array[Filter]): WriteBuilder = this
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  ovr: Boolean): Unit = {
                materialize(ident, spec, data)
                written = true
                SparkSession.active.sessionState.catalog
                  .invalidateAllCachedTables()
              }
            }
        }
      }
    override def commitStagedChanges(): Unit =
      // a CTAS exec always writes; a defensive no-write commit still
      // leaves a valid (empty) table rather than a hollow directory
      if (!written) materialize(ident, spec, spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), declared))
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    val spec = creationSpec(ident, partitions, properties)
    if (ManifestTable.currentVersion(spark, spec.path).isDefined)
      throw new TableAlreadyExistsException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    new StagedGraft(ident, spec, schema) {
      override def abortStagedChanges(): Unit =
        if (written) {
          fs.delete(new Path(managedPath(ident)), true): Unit
          // an EXTERNAL staged create also wrote graft state at the
          // LOCATION — dropping only the marker would strand a
          // partially-created table there. Clean exactly the graft-owned
          // subdirectories (never the whole root: the location may hold
          // pre-existing foreign files that are not ours to delete)
          if (spec.external) {
            val extFs = new Path(spec.path).getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            Seq("_manifests", "data", "_tmp", "_dv", "_eqd").foreach(d =>
              extFs.delete(new Path(spec.path, d), true): Unit)
          }
        }
    }
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident))
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    stagedReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stagedReplace(ident, schema, partitions, properties)

  private def stagedReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    val spec0 = creationSpec(ident, partitions, properties)
    // a REGISTERED name keeps ITS root (replace targets the table, not a
    // fresh location) — the GraftRtasCommand contract
    val spec = markerOf(new Path(managedPath(ident)))
      .map(loc => spec0.copy(path = loc, external = true))
      .getOrElse(spec0)
    new StagedGraft(ident, spec, schema) {
      override def abortStagedChanges(): Unit =
        // the replacement landed as one manifest version; an abort after
        // that point cannot un-happen it, but history/RESTORE can — and
        // an abort BEFORE the write left nothing to clean
        ()
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tableRoot(ident)
    if (ManifestTable.currentVersion(spark, path).isEmpty)
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    GraftCatalog.applyChanges(spark, path, changes)
    loadTable(ident)
  }

  /** DROP deletes a MANAGED table's directory (the directory IS the
    * metastore entry); for an EXTERNAL table it deletes only the marker
    * entry — the data at the LOCATION is someone else's and survives,
    * the standard external-table contract. */
  override def dropTable(ident: Identifier): Boolean = {
    val path = new Path(managedPath(ident))
    if (!isTableDir(path)) false
    else fs.delete(path, true)
  }

  /** PURGE deletes the data too, external locations included. */
  override def purgeTable(ident: Identifier): Boolean = {
    val managed = new Path(managedPath(ident))
    markerOf(managed).foreach(loc => fs.delete(new Path(loc), true): Unit)
    dropTable(ident)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(managedPath(oldIdent))
    val to = new Path(managedPath(newIdent))
    if (!isTableDir(from)) throw new NoSuchTableException(
      (catalogName +: oldIdent.namespace().toSeq) :+ oldIdent.name())
    if (fs.exists(to)) throw new TableAlreadyExistsException(
      (catalogName +: newIdent.namespace().toSeq) :+ newIdent.name())
    if (!fs.exists(nsPath(newIdent.namespace())))
      throw new NoSuchNamespaceException(catalogName +: newIdent.namespace().toSeq)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- namespaces (directories without a manifest log) ----

  override def listNamespaces(): Array[Array[String]] = {
    subdirs(new Path(warehouse))
      .filterNot(isTableDir).filterNot(_.getName.startsWith("_"))
      .map(p => Array(p.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!fs.exists(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    subdirs(dir).filterNot(isTableDir).filterNot(_.getName.startsWith("_"))
      .map(p => namespace :+ p.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = nsPath(namespace)
      fs.exists(dir) && !isTableDir(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    mkdirs(fs, nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!namespaceExists(namespace)) false
    else {
      if (!cascade && TableFs.list(fs, dir).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(dir, true)
    }
  }
}

private[sources] object GraftCatalog {

  /** Route v2 `TableChange`s onto the manifest's metadata-only evolution
    * commits — shared by the standalone catalog and the session-catalog
    * override ([[GraftSessionCatalog]]). */
  def applyChanges(spark: SparkSession, path: String,
                   changes: Seq[TableChange]): Unit = changes.foreach {
    case a: TableChange.AddColumn =>
      require(a.fieldNames().length == 1,
        "graft catalog: nested ADD COLUMN rides ManifestTable.addNestedField")
      // `ADD COLUMN c T DEFAULT <sql>` carries the manifest's column
      // default (old files read the literal) — dropping it silently
      // would change every pre-add row, so an SQL-less default refuses
      val defaults = Option(a.defaultValue()) match {
        case None => Map.empty[String, String]
        case Some(d) =>
          val sql = d.getSql
          require(sql != null && sql.nonEmpty,
            "graft catalog: ADD COLUMN DEFAULT without a SQL form")
          Map(a.fieldNames().head -> sql)
      }
      ManifestTable.addColumns(spark, path, Seq(
        org.apache.spark.sql.types.StructField(
          a.fieldNames().head, a.dataType(), a.isNullable)),
        defaults): Unit
    case r: TableChange.RenameColumn =>
      require(r.fieldNames().length == 1,
        "graft catalog: nested RENAME COLUMN is not supported")
      ManifestTable.renameColumn(spark, path, r.fieldNames().head, r.newName()): Unit
    case d: TableChange.DeleteColumn =>
      require(d.fieldNames().length == 1,
        "graft catalog: nested DROP COLUMN is not supported")
      ManifestTable.dropColumn(spark, path, d.fieldNames().head): Unit
    case s: TableChange.SetProperty =>
      // the same versioned-property channel as SET TBLPROPERTIES —
      // graft.generated.* rejection included
      ManifestTable.setProperties(spark, path, Map(s.property() -> s.value())): Unit
    case rm: TableChange.RemoveProperty =>
      ManifestTable.unsetProperties(spark, path, Seq(rm.property())): Unit
    case other => throw new UnsupportedOperationException(
      s"graft catalog: unsupported table change $other")
  }
}

/** A graft table as the v2 catalog serves it: name + manifest schema +
  * manifest partitioning + manifest properties, with the SNAPSHOT PINNED
  * at load (the [[GraftRelation]] is constructed once per load, so a
  * query's plan and execution read one version — and a `VERSION AS OF`
  * load pins that version instead).
  *
  * Reads never plan through this object: [[graft.plans.GraftV2FallbackRule]]
  * rewrites the v2 relation onto [[relation]] during resolution, keeping
  * the whole DSv1 optimization surface live. Deliberately NOT
  * `SupportsRead` and no `BATCH_READ` capability — if the fallback rule
  * is disabled or missed, analysis fails loudly ("does not support batch
  * scan") instead of planning an unoptimized scan. Writes go through the
  * v2 `V1Write` fallback onto the standard table write faces.
  */
class GraftTable(val path: String, identParts: Seq[String],
                 val pinnedVersion: Option[Long])
    extends org.apache.spark.sql.graft.V1FallbackTable with SupportsWrite
    with TruncatableTable {

  private val identName: String = identParts.mkString(".")

  private def spark: SparkSession = SparkSession.active

  /** The pinned execution relation (lazy: DDL-only loads never touch it
    * beyond the manifest read below). */
  private[graft] lazy val relation: GraftRelation =
    new GraftRelation(spark.sqlContext, path, pinnedVersion)

  private lazy val manifest = ManifestTable.readManifest(spark, path,
    pinnedVersion.orElse(ManifestTable.currentVersion(spark, path))
      .getOrElse(sys.error(s"no graft table at $path")))

  override def name(): String = identName

  override def schema(): StructType = relation.schema

  /** STREAMING reads of catalog tables ride the proven V1 source: Spark's
    * streaming resolution consults this fallback when the v2 table offers
    * no MicroBatchStream, and the synthesized entry (provider `graft` +
    * the table root) routes `spark.readStream.table("cat.ns.t")` into
    * [[GraftSource]]'s versions-as-offsets source — admission control,
    * exactly-once txn sinks and the CDC feed included, identical to a
    * path-based `readStream`. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    // the REAL parts the catalog carried in — a split on '.' would drop
    // middle segments of a nested namespace (cat.a.b.t) and mis-split
    // quoted identifiers containing dots. TableIdentifier has one
    // database slot, so a multi-segment namespace joins into it (the v1
    // identifier is naming only; location + provider drive the source)
    val ns = identParts.drop(1).dropRight(1)
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        identParts.last,
        if (ns.isEmpty) None else Some(ns.mkString(".")),
        if (identParts.length >= 2) identParts.headOption else None),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
        .copy(locationUri = Some(new Path(path).toUri),
          properties = Map("path" -> path)),
      schema = schema(),
      provider = Some("graft"))
  }

  override def partitioning(): Array[Transform] = {
    val identity = manifest.partitionCols
      .filterNot(c => manifest.transforms.exists(_.derived == c))
      .map(Expressions.identity)
    val derived = manifest.transforms.map { t =>
      t.kind match {
        case "days" => Expressions.days(t.src)
        case "hours" => Expressions.hours(t.src)
        case "months" => Expressions.months(t.src)
        case "years" => Expressions.years(t.src)
        case "bucket" => Expressions.bucket(t.arg, t.src)
        case "trunc" => Expressions.apply("truncate",
          Expressions.column(t.src), Expressions.literal(t.arg))
        case other => Expressions.apply(other,
          Expressions.column(t.src), Expressions.literal(t.arg))
      }
    }
    (identity ++ derived).toArray
  }

  /** Creation-channel declarations surface as `option.`-prefixed entries
    * so SHOW CREATE TABLE prints them as OPTIONS — the only channel that
    * can REPLAY them (a TBLPROPERTIES rendering of `graft.generated.*`
    * would be rejected on replay, by design). */
  override def properties(): util.Map[String, String] = {
    val translated = manifest.props.map {
      case (k, v) if k.startsWith(ManifestTable.GeneratedPropPrefix) =>
        (TableCatalog.OPTION_PREFIX + "generated." +
          k.stripPrefix(ManifestTable.GeneratedPropPrefix)) -> v
      case kv => kv
    }
    val decl =
      (if (manifest.statsCols.nonEmpty)
        Map(TableCatalog.OPTION_PREFIX + "statscols" ->
          manifest.statsCols.mkString(",")) else Map.empty) ++
      (if (manifest.bloomCols.nonEmpty)
        Map(TableCatalog.OPTION_PREFIX + "bloomcols" ->
          manifest.bloomCols.mkString(",")) else Map.empty)
    (translated ++ decl ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> path)).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  /** v2 `TRUNCATE TABLE`: the metadata-only empty commit (history and
    * time travel keep working — the v1 path would delete files out from
    * under prior snapshots). */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"cannot truncate $identName pinned at VERSION AS OF ${pinnedVersion.getOrElse(0L)}")
    val s = SparkSession.active
    ManifestTable.truncate(s, path)
    s.sessionState.catalog.invalidateAllCachedTables()
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to $identName pinned at VERSION AS OF ${pinnedVersion.getOrElse(0L)}")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(filters.isEmpty || filters.forall(_ == AlwaysTrue),
          "graft catalog: INSERT OVERWRITE supports full-table overwrite " +
            "(partition-scoped replacement rides INSERT INTO … REPLACE WHERE)")
        overwriteAll = true
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ovr: Boolean): Unit = {
              val s = SparkSession.active
              if (overwriteAll || ovr) ManifestTable.overwriteData(s, path, data): Unit
              else ManifestTable.append(s, path, data): Unit
              s.sessionState.catalog.invalidateAllCachedTables()
            }
          }
      }
    }
  }
}
