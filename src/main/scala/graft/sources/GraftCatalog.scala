package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{Maintenance, MirrorChangelog, MorMirror, PartitionedMirror}
import graft.sources.Tables.{TableProps, Warehouse}

/** The engine's SQL lifecycle surface — a Spark `TableCatalog` +
  * `ProcedureCatalog` over a graft warehouse, registered per session:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/wh")
  *   spark.sql("SELECT * FROM graft.events_changelog")
  *   spark.sql("SELECT * FROM graft.t VERSION AS OF 3")        // time travel
  *   spark.sql("CALL graft.system.merge_changes('chg','mirror','id','ts')")
  * }}}
  *
  * This is the SQL face the reference's users get free from their managed
  * Iceberg substrate (snapshot reads, `VERSION AS OF`, maintenance
  * procedures — `/root/reference/batch_bootstrapper/tabular.py` delegates
  * all of it): here it rides Spark 4's own connector hooks —
  * `TableCatalog.loadTable(ident, version)` for `VERSION AS OF` /
  * `TIMESTAMP AS OF`, `ProcedureCatalog` for `CALL` — no parser
  * extension, the stock analyzer resolves everything.
  *
  * Tables served: flat/versioned tables, append-batch changelogs, feed
  * view tables, clustered tables and materialized projections — anything
  * whose on-disk parquet IS its visible state. A hidden-time-partitioned
  * changelog serves through PARTITION DISCOVERY, so its `p_day`/`p_batch`
  * layout columns are queryable and a SQL `WHERE p_day BETWEEN ...`
  * prunes whole day dirs as real PartitionFilters. Merge-on-read and
  * key-bucketed mirrors are REFUSED loudly: their raw files are a fold
  * input (deltas, tombstones), not the table — serving them as rows
  * would silently expose deleted keys. Their SQL face is a read-optimized
  * materialized projection ([[Maintenance.materializeProjection]], kept
  * fresh by maintenance), or the `merge_changes` procedure's flat target.
  *
  * The DDL/DML face routes through the engine's committed paths, so a
  * plain-SQL user gets the same atomicity the API gives:
  *   - `CREATE TABLE` / `CREATE TABLE AS SELECT` — an atomic versioned
  *     create (`PARTITIONED BY (days(ts))` declares the hidden
  *     time-partition layout, the Iceberg transform spelling);
  *   - `INSERT INTO` — [[Tables.Warehouse.appendVersioned]], the
  *     hard-link fast append (O(new data), old snapshot retained);
  *   - `INSERT OVERWRITE` — [[Tables.Warehouse.overwrite]]'s pointer CAS;
  *   - `DELETE FROM ... WHERE` — copy-on-write rewrite behind the same
  *     CAS (the Iceberg v2 row-level delete, COW flavor);
  *   - `ALTER TABLE SET/UNSET TBLPROPERTIES` — the TableProps sidecar
  *     (schema changes refuse, pointing at the declared-evolution
  *     registry); `DROP TABLE` — [[Tables.Warehouse.drop]].
  * Tables whose layout IS a contract refuse writes loudly: MOR and
  * key-bucketed mirrors (fold inputs), changelog feeds (consumer hops),
  * materialized projections (maintenance-owned), time-partitioned
  * changelogs (batch-granular appendBatch), and version-pinned
  * time-travel reads.
  *
  * Iceberg-style metadata tables ride the same identifiers:
  * `SELECT * FROM graft.t.snapshots` (retained published versions +
  * publish stamps) and `graft.t.files` (data-file census: path, bytes,
  * footer row count).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = _
  private var wh: Warehouse = _

  /** The warehouse root this catalog serves (exposed for tooling). */
  def warehouse: Warehouse = wh

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val root = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at a graft warehouse root"))
    val retain = Option(options.get("retain")).map(_.toInt)
    // io=objectstore runs this catalog's commit protocol on the
    // object-store primitive set (conditional-PUT CAS, pointer objects,
    // no rename/links — see WarehouseIO); default follows the fleet env
    val io = Option(options.get("io")) match {
      case Some("objectstore") => ObjectStoreIO
      case Some("local") => LocalWarehouseIO
      case Some(other) => throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.io must be 'local' or 'objectstore', got '$other'")
      case None => Tables.io
    }
    wh = Warehouse(root, retain = retain.getOrElse(2), io = io)
    // the pending-sidecar plan split must be UNCONDITIONAL on session
    // wiring (the I15 discipline): a runtime-registered catalog has no
    // GraftExtensions injection point, so its post-pushdown twin rides
    // extraOptimizations — registered HERE, before any query against
    // this catalog can optimize. Idempotent; no-op when the extension's
    // pre-pushdown rule already split the relation.
    scala.util.Try(SparkSession.active).foreach(
      GraftCatalog.registerExtraRule(_, SplitEqDeleteScanRelations))
  }

  override def name(): String = catalogName

  // ------------------------------------------------------------------
  // namespaces: data tables live in the root (or `default`); `system`
  // holds the lifecycle procedures — the Iceberg `catalog.system.*` shape
  // ------------------------------------------------------------------

  private val SystemNs = Array("system")
  private def isDataNs(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("default"))

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"), SystemNs)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (isDataNs(namespace) || namespace.sameElements(SystemNs))
      Array.empty
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    isDataNs(namespace) || namespace.sameElements(SystemNs)
  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      "CREATE NAMESPACE is not supported: graft tables live in the root")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE is not supported: graft tables live in the root")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "DROP NAMESPACE is not supported: graft tables live in the root")

  // ------------------------------------------------------------------
  // tables
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!isDataNs(namespace) && !namespace.sameElements(SystemNs))
      throw new NoSuchNamespaceException(namespace)
    if (namespace.sameElements(SystemNs)) Array.empty
    else graft.MaintenanceMain.discover(wh)
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isDataNs(ident.namespace) && wh.exists(ident.name)

  private def resolved(ident: Identifier): String = {
    if (!isDataNs(ident.namespace) || !wh.exists(ident.name))
      throw new NoSuchTableException(ident)
    val t = ident.name
    // raw MOR/bucketed files are a FOLD INPUT (deltas, tombstones), not
    // the table — refuse rather than silently expose deleted keys
    if (MorMirror.storedConfig(wh, t).isDefined ||
        PartitionedMirror.storedBuckets(wh, t).isDefined)
      throw new UnsupportedOperationException(
        s"'$t' is a merge-on-read/key-bucketed mirror; its raw layout is " +
          "not row-visible. Query a read-optimized materialized projection " +
          "(Maintenance.materializeProjection) or fold through " +
          s"CALL $catalogName.system.merge_changes(...) instead.")
    t
  }

  /** Layout-CONTRACT refusals: tables whose files are owned by another
    * mechanism outright — no write face at all, batch or streaming.
    */
  private def contractRefusal(t: String): Option[String] = {
    val props = TableProps.read(wh, t)
    if (props.contains("changelog.last-version"))
      Some(s"'$t' is a changelog feed view; its hop subdirs are the " +
        "consumer contract (written only by emit_changelog)")
    // the reference's own changelog marker (dependent-tables, C2): its
    // per-batch subdirs are the stream's replay-idempotence unit and its
    // IN-PLACE layout must never migrate to a version pointer under the
    // ingest stream's feet — a SQL INSERT would do exactly that
    else if (props.contains("dependent-tables"))
      Some(s"'$t' is a CDC changelog written by the ingest pipeline; " +
        "appends are batch-granular and replay-idempotent " +
        "(Warehouse.appendBatch)")
    else if (props.contains(Maintenance.ProjectionSourceProp))
      Some(s"'$t' is a materialized projection refreshed from " +
        s"'${props(Maintenance.ProjectionSourceProp)}' by maintenance; " +
        "write to the source instead")
    else None
  }

  /** How BATCH SQL writes resolve: contract refusals, plus the
    * time-partitioned layout (its appends are batch-granular — exactly
    * what a row-level INSERT is not, and exactly what a STREAMING write
    * is: see [[GraftTable.newWriteBuilder]]'s streaming carve-out).
    */
  private def writePolicy(t: String): Either[String, Unit] =
    contractRefusal(t).orElse {
      if (wh.timePartitionCol(t).isDefined)
        Some(s"'$t' is a hidden-time-partitioned changelog; appends are " +
          "batch-granular and replay-idempotent (Warehouse.appendBatch / " +
          "the ingest pipeline / writeStream.toTable), not row-level " +
          "SQL inserts")
      else None
    }.toLeft(())

  private def mkParquet(t: String, path: String): ParquetTable = {
    // a MID-EVOLUTION tree (either direction) has two partition schemas
    // at once; unified discovery cannot serve it — refuse with the
    // migration mechanism named (readTimePruned handles mixed exactly;
    // SQL serves again once the background rewrite catches up)
    locally {
      val grain = wh.timeGranularity(t)
      if (grain == "hour" || grain == "day") {
        val (dayEra, hourEra) = wh.classifyDayDirs(path)
        val oldSpec = if (grain == "hour") dayEra else hourEra
        if (dayEra.nonEmpty && hourEra.nonEmpty)
          throw new UnsupportedOperationException(
            s"'$t' is mid spec evolution to $grain grain " +
              s"(${oldSpec.size} day dirs still in the old spec): SQL " +
              s"serves a single partition schema. CALL $catalogName" +
              s".system.migrate_time_granularity('$t') to finish the " +
              "rewrite, or read through Warehouse.readTimePruned " +
              "meanwhile.")
      }
    }
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", path)
    opts.put("mergeSchema", "true")
    // a hidden-time-partitioned changelog serves with partition DISCOVERY
    // (p_day/p_batch queryable, day filters prune as PartitionFilters);
    // every other layout reads recursively (batch subdirs, flat versions)
    val recursive = wh.timePartitionCol(t).isEmpty
    if (recursive) opts.put("recursiveFileLookup", "true")
    // a just-created empty table has no footers to infer from: serve the
    // declared schema recorded at CREATE TABLE time
    // declared type PROMOTIONS (ALTER COLUMN TYPE — metadata-only, the
    // Iceberg int->long/float->double) must override footer inference:
    // the scan requests the WIDE schema and narrow files promote
    // natively. Eager inference here is amortized by the per-version
    // resolution cache (promotions only apply to pointer layouts) AND the
    // census-keyed schema memo: a commit that only hard-link-carries the
    // same data files (sidecar DML, props, time travel back to a cached
    // set) reuses the inferred schema instead of re-running the
    // footer-merge job. Recursive-lookup layouts only — partition
    // discovery keeps the plain path.
    val widens = SchemaEvolution.declaredWidens(wh, t)
    // partition-discovery layouts memo too (round 21): their schema —
    // footer-merged data columns plus the dir-name-derived partition
    // columns — is a pure function of the same (file census, confs) key;
    // an in-place changelog resolving between appends hits the memo
    // instead of re-running the footer-merge inference job per query
    val census = GraftCatalog.schemaCensus(path)
    val memoKey: Option[AnyRef] = census.map { c =>
      (wh.root, t,
        widens.toSeq.map { case (k, v) => s"$k:$v" }.sorted.mkString(","),
        GraftCatalog.schemaConfFp(spark), c)
    }
    val memoHit = memoKey.flatMap(GraftCatalog.schemaMemoGet)
    val declared = memoHit.orElse {
      if (census.fold(hasParquetFiles(path))(_.nonEmpty)) {
        if (widens.isEmpty)
          // memo miss on a flat layout: when every footer agrees, the
          // schema is computed DRIVER-SIDE (memoized footer opens, no
          // Spark inference job — round 21); partition-discovery
          // layouts and heterogeneous dirs decline to the normal
          // ParquetTable inference
          (if (recursive)
            SchemaEvolution.uniformFooterSchema(spark, path, census)
          else None)
        else Some(SchemaEvolution.applyWidens(
          SchemaEvolution.readTableWidened(spark, path).schema, widens))
      } else TableProps.read(wh, t).get(GraftCatalog.SqlSchemaProp)
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .map(SchemaEvolution.applyWidens(_, widens))
    }
    val pt = ParquetTable(t, spark, new CaseInsensitiveStringMap(opts),
      Seq(path), declared, classOf[ParquetFileFormat])
    if (memoHit.isEmpty && census.exists(_.nonEmpty))
      memoKey.foreach(k => GraftCatalog.schemaMemoPut(k, pt.schema))
    pt
  }

  private def hasParquetFiles(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) return false
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.exists(f =>
      f.getFileName.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith(".") &&
        // a file under a hidden dir (_zonemap) is not table data
        !p.relativize(f).iterator().asScala.exists(
          c => c.toString.startsWith("_") || c.toString.startsWith(".")))
    finally s.close()
  }

  private def mkTable(t: String, path: String, policy: Either[String, Unit],
      streamPolicy: Option[Either[String, Unit]] = None): Table = {
    GraftCatalog.tableBuilds.incrementAndGet() // spec counter: one per VERSION
    new GraftTable(wh, t, mkParquet(t, path), policy,
      streamPolicy.getOrElse(policy))
  }

  /** Resolved-table cache, keyed by (table, CURRENT version dir): the
    * pointer path changes on every commit, so a CAS invalidates the
    * entry for free, and a cached entry's lazy file listing + schema
    * inference (the per-query `hasParquetFiles` walk and footer reads —
    * round-12 verdict item 8) run once per VERSION instead of once per
    * query. Only POINTER layouts cache: an in-place layout (time-
    * partitioned / batch changelog, feed views) has a constant path but
    * a live listing — caching it would hide freshly appended batches.
    * DDL (create/alter/drop) evicts by name; stale-version entries of
    * the same table evict on the next resolution.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Table]()

  private def evictTable(t: String): Unit =
    tableCache.keySet.removeIf(_._1 == t)

  override def loadTable(ident: Identifier): Table =
    metaTable(ident).getOrElse {
      val t = resolved(ident)
      val snap = wh.snapshotPath(t)
      // streaming writes into a time-partitioned table ride appendBatch
      // (epochs ARE batches), so only the CONTRACT refusals apply there
      def streamPol = Some(contractRefusal(t).toLeft(()))
      if (wh.currentVersion(t).isDefined) {
        val key = (t, snap)
        val hit = tableCache.get(key)
        if (hit != null) hit
        else {
          tableCache.keySet.removeIf(k => k._1 == t && k._2 != snap)
          tableCache.computeIfAbsent(key,
            _ => mkTable(t, snap, writePolicy(t), streamPol))
        }
      } else mkTable(t, snap, writePolicy(t), streamPol)
    }

  /** `VERSION AS OF <v|'tag'>` — served straight from the retained
    * published version dir (fails loudly when GC'd, same contract as
    * [[Tables.Warehouse.readVersion]]). A non-numeric version string
    * resolves through the table's TAGS (named GC-pinned refs,
    * `CALL <cat>.system.create_tag`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    refuseViewTimeTravel(ident)
    val t = resolved(ident)
    // a BRANCH name serves its head snapshot — the audit face of
    // write-audit-publish: branch commits are invisible to plain reads
    // (main's pointer gates publication) but fully readable here
    if (version.toLongOption.isEmpty && wh.branches(t).contains(version))
      return mkTable(t, wh.branchSnapshotDir(t, version).toString,
        Left(s"'$t' VERSION AS OF '$version' is the branch audit read; " +
          s"branch writes go through spark.graft.wap.branch"))
    val v = version.toLongOption
      .orElse(wh.tags(t).get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a version number, a tag, nor a branch " +
          s"of '$t' (tags: ${wh.tags(t).keys.toSeq.sorted.mkString(", ")}; " +
          s"branches: ${wh.branches(t).keys.toSeq.sorted.mkString(", ")})"))
    val dir = wh.publishedVersions(t).collectFirst { case (`v`, p) => p }
      .getOrElse(throw new NoSuchTableException(ident))
    mkTable(t, dir.toString,
      Left(s"'$t' VERSION AS OF $v is a pinned historical snapshot"))
  }

  /** `TIMESTAMP AS OF <ts>` — the version with the LATEST PUBLISH STAMP
    * at or before the asked instant (micros, per the connector contract).
    * Latest-by-stamp, not highest-version-number: racing no-CAS
    * publishers can publish out of numeric order (publishStage's own
    * documented window), and the snapshot-log contract is "what was
    * current at that time" (advice finding). Stamp ties break to the
    * higher version — the one the pointer ended on.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    refuseViewTimeTravel(ident)
    val t = resolved(ident)
    val asOfMillis = timestamp / 1000L
    val dir = wh.publishedVersions(t)
      .filter { case (_, p) => wh.publishTimeMillis(p) <= asOfMillis }
      .maxByOption { case (v, p) => (wh.publishTimeMillis(p), v) }
      .map(_._2)
      .getOrElse(throw new NoSuchTableException(ident))
    mkTable(t, dir.toString,
      Left(s"'$t' TIMESTAMP AS OF is a pinned historical snapshot"))
  }

  // ------------------------------------------------------------------
  // metadata tables: graft.<table>.snapshots / graft.<table>.files —
  // the Iceberg metadata-table shape on the plain-parquet substrate
  // ------------------------------------------------------------------

  /** Resolve `<table>.<meta>` identifiers (optionally under `default.`).
    * Served as LocalScan rows: both tables are planning-scale by
    * construction (one row per retained version / per data file — the
    * same ~1e5-at-100TB census the zone-map planner already walks).
    */
  private def metaTable(ident: Identifier): Option[Table] = {
    val baseNs = ident.namespace match {
      case Array(t) => Some(t)
      case Array("default", t) => Some(t)
      case _ => None
    }
    baseNs.filter(wh.exists).flatMap { t =>
      ident.name match {
        case "snapshots" => Some(GraftCatalog.localTable(s"$t.snapshots",
          StructType(Seq(StructField("version", LongType, nullable = false),
            StructField("published_at", TimestampType),
            StructField("path", StringType))),
          () => wh.publishedVersions(t).map { case (v, p) =>
            new GenericInternalRow(Array[Any](v,
              wh.publishTimeMillis(p) * 1000L,
              UTF8String.fromString(p.toString)))
          }))
        case "files" => Some(GraftCatalog.localTable(s"$t.files",
          StructType(Seq(StructField("file_path", StringType, nullable = false),
            StructField("size_bytes", LongType, nullable = false),
            StructField("record_count", LongType, nullable = false))),
          () => GraftCatalog.fileCensus(spark, wh.snapshotPath(t))))
        // the Iceberg `refs` metadata-table shape: every named ref —
        // main, branches (head + fork base), tag pins — as rows, so a
        // WAP audit never has to spelunk the props sidecar. `base` is
        // NULL for main and tags (only branches record ancestry).
        case "refs" => Some(GraftCatalog.localTable(s"$t.refs",
          StructType(Seq(StructField("name", StringType, nullable = false),
            StructField("type", StringType, nullable = false),
            StructField("version", LongType, nullable = false),
            StructField("base", LongType))),
          () => {
            val main = wh.currentVersion(t).map(v =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString("main"),
                UTF8String.fromString("BRANCH"), v, null)): InternalRow).toSeq
            val branches = wh.branches(t).toSeq.sortBy(_._1).map {
              case (b, (head, base)) =>
                new GenericInternalRow(Array[Any](UTF8String.fromString(b),
                  UTF8String.fromString("BRANCH"), head, base)): InternalRow
            }
            val tags = wh.tags(t).toSeq.sortBy(_._1).map { case (tag, v) =>
              new GenericInternalRow(Array[Any](UTF8String.fromString(tag),
                UTF8String.fromString("TAG"), v, null)): InternalRow
            }
            main ++ branches ++ tags
          }))
        // the Iceberg `delete_files` metadata-table shape (round 17):
        // every PENDING merge-on-read sidecar of the current snapshot —
        // equality (key-frame records, census width) and positional
        // (tombstone ordinals, touched files) — so an operator can see
        // the read debt `CALL compact` would fold without spelunking
        // `_eqdeletes`/`_posdeletes`. Planning-scale: one row per
        // pending sidecar, counts from footers/byte sizes, no data read.
        case "delete_files" => Some(GraftCatalog.localTable(
          s"$t.delete_files",
          StructType(Seq(StructField("sidecar", StringType, nullable = false),
            StructField("kind", StringType, nullable = false),
            StructField("records", LongType, nullable = false),
            StructField("applies_to_files", LongType, nullable = false))),
          () => {
            val snap = wh.snapshotPath(t)
            val hconf = spark.sessionState.newHadoopConf()
            val eq = EqDeletes.pending(snap).map { sc =>
              // footer record counts (memoized, sidecars immutable) —
              // the "no data read" promise; the old spark.read.count
              // paid one Spark JOB per pending sidecar
              val kd = java.nio.file.Paths.get(sc.keysPath)
              val s = java.nio.file.Files.list(kd)
              val keys =
                try {
                  import scala.jdk.CollectionConverters._
                  s.iterator().asScala
                    .filter(_.getFileName.toString.endsWith(".parquet"))
                    .map(f => graft.plans.ZoneMap
                      .footerStats(f.toString, hconf).records)
                    .sum
                } finally s.close()
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(sc.dir.getFileName.toString),
                UTF8String.fromString("equality"), keys,
                sc.census.size.toLong)): InternalRow
            }
            val pos = PosDeletes.pending(snap).map { d =>
              import scala.jdk.CollectionConverters._
              val s = java.nio.file.Files.list(d)
              val posFiles = try s.iterator().asScala
                .filter(_.getFileName.toString.endsWith(".pos")).toList
                finally s.close()
              val tombstones = posFiles
                .map(java.nio.file.Files.size(_) / 8).sum
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(d.getFileName.toString),
                UTF8String.fromString("positional"), tombstones,
                posFiles.size.toLong)): InternalRow
            }
            eq ++ pos
          }))
        // the Iceberg `history` metadata-table shape (round 18): the
        // snapshot lineage in PUBLISH-STAMP order — which the rollback
        // story needs, because this engine's rollback is a roll-forward
        // (a new version whose content links an old one's) and the
        // append-only version log alone cannot say so. `operation`
        // distinguishes plain commits, `rollback(vX)` (the
        // RollbackMarker lineage), and `fast_forward` promotions (a
        // branch-marked dir later stamped published); `parent` is the
        // previously-current RETAINED version (null past the retention
        // horizon, the Iceberg contract).
        case "history" => Some(GraftCatalog.localTable(s"$t.history",
          StructType(Seq(StructField("version", LongType, nullable = false),
            StructField("made_current_at", TimestampType),
            StructField("parent", LongType),
            StructField("operation", StringType, nullable = false),
            StructField("is_current", BooleanType, nullable = false))),
          () => {
            val cur = wh.currentVersion(t)
            val vs = wh.publishedVersions(t)
              .map { case (v, p) => (v, p, wh.publishTimeMillis(p)) }
              .sortBy { case (v, _, ms) => (ms, v) }
            vs.zipWithIndex.map { case ((v, p, ms), i) =>
              // STORED parent when the snapshot recorded one (exact —
              // the version current at its swap; promoted chains record
              // their branch ancestry); stamp-order derivation only for
              // grandfathered pre-marker history. A stored parent that
              // aged out of retention reports null (the Iceberg
              // contract), never a mis-attributed survivor.
              val stored = p.resolve(Tables.ParentMarker)
              val parent: Any =
                if (java.nio.file.Files.exists(stored)) {
                  val sp = java.nio.file.Files.readString(stored)
                    .trim.toLong
                  if (vs.exists(_._1 == sp)) java.lang.Long.valueOf(sp)
                  else null
                }
                else if (i == 0) null
                else java.lang.Long.valueOf(vs(i - 1)._1)
              val rb = p.resolve(Tables.RollbackMarker)
              val pm = p.resolve(Tables.PromotedMarker)
              val cm = p.resolve(Tables.CherrypickMarker)
              val op =
                if (java.nio.file.Files.exists(rb))
                  s"rollback(v${java.nio.file.Files.readString(rb).trim})"
                else if (java.nio.file.Files.exists(pm))
                  s"fast_forward(" +
                    s"${java.nio.file.Files.readString(pm).trim})"
                else if (java.nio.file.Files.exists(cm))
                  s"cherrypick(" +
                    s"${java.nio.file.Files.readString(cm).trim})"
                else "commit"
              new GenericInternalRow(Array[Any](v, ms * 1000L, parent,
                UTF8String.fromString(op),
                cur.contains(v))): InternalRow
            }
          }))
        // the Iceberg `partitions` metadata-table shape (round 18): the
        // per-partition file/row/byte census, answered from listings +
        // parquet FOOTERS only (the delete_files discipline — planning
        // scale, no data pages). Hidden-time layouts report their
        // declared grain (day, or day/hour), the bucketed MOR base its
        // `_kb=` buckets, a flat snapshot one unpartitioned row.
        case "partitions" => Some(GraftCatalog.localTable(s"$t.partitions",
          StructType(Seq(StructField("partition", StringType, nullable = false),
            StructField("file_count", LongType, nullable = false),
            StructField("record_count", LongType, nullable = false),
            StructField("size_bytes", LongType, nullable = false))),
          () => {
            def row(part: String,
                dirs: Seq[java.nio.file.Path]): InternalRow = {
              val (files, records, bytes) =
                GraftCatalog.dirFooterStats(spark, dirs)
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(part), files, records, bytes))
            }
            if (wh.timePartitionCol(t).isDefined &&
                wh.timeGranularity(t) == "month") {
              // month grain: one row per p_month=<months-since-epoch>
              // dir (pre-19 this fell through the day listing and the
              // census came back EMPTY for month layouts)
              val base = java.nio.file.Paths.get(wh.tablePath(t))
              wh.childDirs(base, s"${Tables.PartMonthCol}=")
                .sortBy(_.getFileName.toString)
                .map(m => row(m.getFileName.toString, Seq(m)))
            } else if (wh.timePartitionCol(t).isDefined) {
              val base = java.nio.file.Paths.get(wh.tablePath(t))
              val days = wh.childDirs(base, s"${Tables.PartDayCol}=")
              if (wh.timeGranularity(t) == "hour")
                days.flatMap { d =>
                  val hours = wh.childDirs(d, s"${Tables.PartHourCol}=")
                  // day-era batches (pre-evolution straddlers) report at
                  // day grain beside the hour rows
                  val dayEra = wh.childDirs(d, s"${Tables.PartBatchCol}=")
                  hours.sortBy(_.getFileName.toString).map(h => row(
                    s"${d.getFileName}/${h.getFileName}", Seq(h))) ++
                    (if (dayEra.nonEmpty)
                       Seq(row(s"${d.getFileName}", dayEra))
                     else Nil)
                }
              else days.map(d => row(d.getFileName.toString, Seq(d)))
            } else {
              val snap = java.nio.file.Paths.get(wh.snapshotPath(t))
              val buckets = wh.childDirs(snap,
                s"${graft.plans.PartitionedMirror.BucketCol}=")
              if (buckets.nonEmpty)
                buckets.sortBy(_.getFileName.toString)
                  .map(b => row(b.getFileName.toString, Seq(b)))
              else Seq(row("<unpartitioned>", Seq(snap)))
            }
          }))
        // the feed-consumer lag view (round 19): same rows as
        // `CALL consumers(t)` — see
        // [[graft.plans.MirrorChangelog.consumerStates]]. Empty for a
        // table with no registered consumers (incl. non-feed tables).
        case "consumers" => Some(GraftCatalog.localTable(s"$t.consumers",
          StructType(Seq(StructField("consumer", StringType, nullable = false),
            StructField("cursor", LongType, nullable = false),
            StructField("hops_behind", LongType, nullable = false),
            StructField("blocking_retention", BooleanType, nullable = false))),
          () => graft.plans.MirrorChangelog.consumerStates(wh, t).map {
            case (id, cur, behind, blocking) =>
              new GenericInternalRow(Array[Any](UTF8String.fromString(id),
                cur, behind, blocking)): InternalRow
          }))
        case _ => None
      }
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (!isDataNs(ident.namespace)) throw new NoSuchNamespaceException(ident.namespace)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // a table shadowing a VIEW would silently change what the name
    // serves (same one-name-one-thing guard as createView)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val t = ident.name
    evictTable(t) // a re-created name must never serve the dropped table
    require(!t.contains("/") && !t.startsWith("_") && !t.startsWith("."),
      s"illegal graft table name '$t'")
    // the supported partition transforms: days/hours/months(ts) — the
    // hidden time-partition layouts (Iceberg's transforms, appendBatch's
    // dirs at the declared grain)
    val grains = Map("days" -> "day", "hours" -> "hour", "months" -> "month")
    val timeCol: Option[(String, String)] = partitions.toList match {
      case Nil => None
      case d :: Nil if grains.contains(d.name) =>
        val col = d.references.headOption.map(_.fieldNames.mkString("."))
          .getOrElse(throw new IllegalArgumentException(
            s"${d.name}() needs a column reference, got $d"))
        require(schema.fieldNames.contains(col),
          s"${d.name}($col) references no column of the declared schema")
        Some((col, grains(d.name)))
      case other => throw new UnsupportedOperationException(
        s"graft partitioning is hidden time partitioning — " +
          s"PARTITIONED BY (days(ts_col) | hours(ts_col) | months(ts_col)); " +
          s"got ${other.mkString(", ")}. " +
          "Key-bucketed layouts are pipeline-managed (Tables.saveBucketed / " +
          "the MOR mirror), not DDL-declared.")
    }
    val userProps = properties.asScala.toMap --
      Seq("provider", "location", "owner", "external", "comment")
    require(!userProps.contains(Tables.TimePartitionProp),
      s"${Tables.TimePartitionProp} is a physical layout, not a free " +
        "property - declare it as PARTITIONED BY (days(ts_col))")
    timeCol match {
      case Some((tc, grain)) =>
        // metadata-only creation: the appendBatch layout is IN-PLACE (day
        // dirs under the plain table path), so there is no version to
        // commit yet — record existence (_SUCCESS), the declared layout,
        // and the declared schema (served until the first batch lands)
        val dir = java.nio.file.Paths.get(wh.tablePath(t))
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), "")
        TableProps.write(wh, t, userProps +
          (Tables.TimePartitionProp -> tc) +
          (Tables.TimeGranularityProp -> grain) +
          (Tables.TimePartitionZoneProp -> "UTC") +
          (GraftCatalog.SqlSchemaProp -> schema.json))
      case None =>
        // an atomic versioned create: v1 is one empty part file carrying
        // the declared schema (repartition(1) forces the file to exist)
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
          .repartition(1)
        wh.overwrite(empty, t)
        if (userProps.nonEmpty) TableProps.write(wh, t,
          TableProps.read(wh, t) ++ userProps)
    }
    loadTable(ident)
  }

  /** `ALTER TABLE`: `SET/UNSET TBLPROPERTIES` edits the TableProps
    * sidecar (the layout prop `partition.time-column` is immutable after
    * creation — flipping it under existing batches would corrupt every
    * time-pruned read). `RENAME COLUMN` / `DROP COLUMN` are the SQL face
    * of the DECLARED-evolution registry: the change is registered in
    * [[SchemaEvolution]] (so every fold/changelog/restart path rejoins
    * old-name history exactly as API-declared evolution does — and
    * protected key columns refuse there) and the CURRENT snapshot is
    * rewritten normalized behind the commit CAS, so plain SQL reads see
    * the new shape immediately. Plain parquet has no Iceberg field IDs —
    * the metadata-only rename is not expressible; the registry + one COW
    * rewrite of the current version is the honest equivalent (history
    * versions keep their bytes and rejoin through the registry).
    * `ADD COLUMN` appends a nullable column by the same one-rewrite
    * move; retype changes refuse toward the structural-widening path.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = resolved(ident)
    evictTable(t) // props/policy feed the cached table; re-resolve fresh
    changes.foreach {
      case s: TableChange.SetProperty =>
        require(s.property != Tables.TimePartitionProp,
          s"${Tables.TimePartitionProp} is the table's physical layout " +
            "— declared at CREATE time, immutable after")
        // declaring merge-on-read promotes the key to REQUIRED — refuse
        // when the declared key is missing or existing data violates it
        // (a NULL key under the non-nullable schema corrupts silently)
        if (s.property == EqDeletes.ModeProp && s.value == "merge-on-read") {
          val declared = changes.collectFirst {
            case k: TableChange.SetProperty
              if k.property == EqDeletes.KeyProp => k.value
          }.orElse(TableProps.read(wh, t).get(EqDeletes.KeyProp))
            .getOrElse(throw new UnsupportedOperationException(
              s"merge-on-read on '$t' needs ${EqDeletes.KeyProp} " +
                "(set it in the same ALTER)"))
          val keyCols = EqDeletes.keyColsOf(
            Map(EqDeletes.KeyProp -> declared)).get
          // every declared component must exist — a typo'd column would
          // otherwise surface as "all rows NULL" from the footer walk
          val fields = loadTable(ident).schema().fieldNames.toSet
          val missing = keyCols.filterNot(fields)
          require(missing.isEmpty,
            s"merge-on-read key column(s) ${missing.mkString(", ")} do " +
              s"not exist on '$t'")
          EqDeletes.requireNullFreeKeys(spark, wh.snapshotPath(t), keyCols,
            s"cannot declare ${EqDeletes.ModeProp}=merge-on-read on '$t'")
        }
        // RE-KEYING while equality sidecars pend would rebind the stored
        // key frames to different columns — foldedRead renames the
        // sidecar frame POSITIONALLY to the declared names, so a
        // same-arity re-key silently deletes wrong rows (review finding)
        if (s.property == EqDeletes.KeyProp &&
            !TableProps.read(wh, t).get(EqDeletes.KeyProp).contains(s.value))
          require(wh.publishedVersions(t).forall { case (_, dir) =>
            EqDeletes.pending(dir.toString).isEmpty
          }, s"'$t' has equality-delete sidecars in retained history " +
            "bound to the current key declaration; CALL " +
            s"$catalogName.system.compact('$t') and expire the " +
            "sidecar-bearing snapshots before re-keying")
        require(!s.property.startsWith(Tables.TagPropPrefix),
          "tags pin retained versions and must validate against the " +
            s"snapshot log — CALL $catalogName.system.create_tag instead")
        require(!s.property.startsWith(Tables.BranchPropPrefix),
          "branch refs are commit-lock-managed state — CALL " +
            s"$catalogName.system.create_branch/fast_forward/drop_branch")
        TableProps.write(wh, t, TableProps.read(wh, t) + (s.property -> s.value))
      case r: TableChange.RemoveProperty =>
        require(r.property != Tables.TimePartitionProp,
          s"${Tables.TimePartitionProp} is the table's physical layout " +
            "— declared at CREATE time, immutable after")
        // the scan path trusts the ABSENCE of the MOR prop to skip the
        // pending-sidecar probe — unsetting it with sidecars live in ANY
        // retained version (time travel pins old snapshots, which keep
        // their sidecars after a fold) would silently resurrect every
        // deleted key on the next read of that snapshot
        require(r.property != EqDeletes.ModeProp ||
          wh.publishedVersions(t).forall { case (_, dir) =>
            !EqDeletes.anyPending(dir.toString)
          },
          s"'$t' has merge-on-read sidecars (equality or positional) in " +
            s"retained history; CALL $catalogName.system.compact('$t') " +
            "and expire the sidecar-bearing snapshots before unsetting " +
            s"${EqDeletes.ModeProp}")
        TableProps.write(wh, t, TableProps.read(wh, t) - r.property)
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "graft columns are top-level; nested renames are not supported")
        requireEvolvable(t, "RENAME COLUMN")
        SchemaEvolution.declareRename(wh, t, rc.fieldNames()(0), rc.newName)
        rewriteNormalized(t)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "graft columns are top-level; nested drops are not supported")
        requireEvolvable(t, "DROP COLUMN")
        SchemaEvolution.declareDrop(wh, t, dc.fieldNames()(0))
        rewriteNormalized(t)
      // ADD COLUMN: one COW rewrite appending the (nullable) column —
      // plain parquet has no field-ID metadata edit, so materializing
      // NULLs into the current snapshot is the honest equivalent (same
      // rationale as RENAME's rewrite); history versions keep their own
      // narrower schema, and every fold path already merges additive
      // evolution. Defaults/positions would need a metadata layer the
      // substrate does not have — refused explicitly, not ignored.
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          "graft columns are top-level; nested adds are not supported")
        require(ac.isNullable,
          "ADD COLUMN must be nullable: existing rows have no value for it")
        require(ac.defaultValue() == null,
          "column DEFAULTs need a metadata layer plain parquet lacks; " +
            "add the column nullable and backfill with UPDATE")
        require(ac.position() == null,
          "column position is cosmetic; graft appends new columns")
        requireEvolvable(t, "ADD COLUMN")
        val colName = ac.fieldNames()(0)
        wh.retryingConflicts(maxAttempts = 10) {
          val expected = wh.currentVersion(t)
          // root markers (streaming epoch positions, cursors) must ride
          // every snapshot rewrite — captured before commit (legacy
          // migration moves the dir aside inside it)
          val markers = Tables.readRootMarkers(wh.snapshotPath(t))
          // widened read: a promoted table's version dir mixes widths
          val cur = SchemaEvolution.readTableWidened(spark, wh.snapshotPath(t))
          require(!cur.columns.exists(_.equalsIgnoreCase(colName)),
            s"column '$colName' already exists on '$t'")
          val widened = cur.withColumn(colName,
            org.apache.spark.sql.functions.lit(null).cast(ac.dataType()))
          wh.commit(t, expectCurrent = expected) { p =>
            widened.write
              .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
            Tables.writeRootMarkers(markers, p)
          }
        }
      // ALTER COLUMN TYPE: the Iceberg metadata-only promotion —
      // int->bigint / float->double declare a widen in the evolution
      // registry; NO data rewrites (history keeps its narrow bytes) and
      // the resolved schema serves wide (narrow files promote natively
      // in the scan). Anything else still refuses below.
      case uc: TableChange.UpdateColumnType
          if uc.fieldNames.length == 1 && widensTo(t, uc).isDefined =>
        requireEvolvable(t, "ALTER COLUMN TYPE")
        val (colName, target) = widensTo(t, uc).get
        SchemaEvolution.declareWiden(wh, t, colName, target)
        // an EMPTY table's declared-at-CREATE schema is authoritative —
        // promote it in place so the first write already lands wide
        TableProps.read(wh, t).get(GraftCatalog.SqlSchemaProp).foreach { j =>
          val widened = SchemaEvolution.applyWidens(
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType],
            Map(colName -> target))
          TableProps.write(wh, t, TableProps.read(wh, t) +
            (GraftCatalog.SqlSchemaProp -> widened.json))
        }
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${other.getClass.getSimpleName} is not supported: " +
          "only int->bigint/float->double promote (ALTER COLUMN TYPE — " +
          "metadata-only, lossless), and key columns are protected " +
          "by the evolution registry")
    }
    loadTable(ident)
  }

  /** The (column, target) of a LOSSLESS type promotion, or None when
    * the requested retype is not one (the refusal path).
    */
  private def widensTo(t: String,
      uc: TableChange.UpdateColumnType): Option[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val colName = uc.fieldNames()(0)
    val cur = currentSchemaOf(t).fields
      .find(_.name.equalsIgnoreCase(colName)).map(_.dataType)
    (cur, uc.newDataType()) match {
      case (Some(ByteType | ShortType | IntegerType), LongType) =>
        Some((colName, LongType))
      case (Some(FloatType), DoubleType) => Some((colName, DoubleType))
      case _ => None
    }
  }

  /** The table's CURRENT resolved schema (footer-inferred under declared
    * evolutions, or the declared-at-CREATE schema for an empty table).
    */
  private def currentSchemaOf(t: String): org.apache.spark.sql.types.StructType = {
    val path = wh.snapshotPath(t)
    val widens = SchemaEvolution.declaredWidens(wh, t)
    if (hasParquetFiles(path))
      SchemaEvolution.applyWidens(
        SchemaEvolution.readTableWidened(spark, path).schema, widens)
    else TableProps.read(wh, t).get(GraftCatalog.SqlSchemaProp)
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .map(SchemaEvolution.applyWidens(_, widens))
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))
  }

  private def requireEvolvable(t: String, what: String): Unit =
    writePolicy(t) match {
      case Left(reason) => throw new UnsupportedOperationException(
        s"$what on '$t' refused: $reason")
      case Right(_) => ()
    }

  /** One COW rewrite of the current snapshot through the evolution
    * registry ([[SchemaEvolution.normalize]]), CAS-guarded — the step
    * that makes a just-declared rename/drop visible to plain SQL reads
    * immediately (fold paths re-normalize old batches on every read; a
    * flat table's files ARE its read, so they rewrite once).
    */
  private def rewriteNormalized(t: String): Unit =
    wh.retryingConflicts(maxAttempts = 10) {
      val expected = wh.currentVersion(t)
      require(!EqDeletes.anyPending(wh.snapshotPath(t)),
        s"'$t' has pending merge-on-read sidecars; CALL " +
          s"$catalogName.system.compact('$t') before ALTER")
      val markers = Tables.readRootMarkers(wh.snapshotPath(t))
      val normalized = SchemaEvolution.normalize(
        SchemaEvolution.readTableWidened(spark, wh.snapshotPath(t)), wh, t)
      wh.commit(t, expectCurrent = expected) { p =>
        normalized.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
        Tables.writeRootMarkers(markers, p)
      }
    }

  override def dropTable(ident: Identifier): Boolean =
    if (!isDataNs(ident.namespace)) false
    else {
      evictTable(ident.name)
      wh.drop(ident.name)
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported: version dirs, props, and feed " +
        "cursors all key on the table name; rename is a catalog-level " +
        "migration, not a pointer move")

  // ------------------------------------------------------------------
  // SQL views (round 20): Spark 4's ViewCatalog over the props-sidecar
  // substrate — `CREATE VIEW graft.v AS SELECT ...` stores the SQL text
  // (plus its resolution context and analyzed schema) in
  // `_metadata/<name>.view.json`; resolution re-analyzes the text in
  // that context, so a view always serves the CURRENT underlying
  // snapshots. A feed "view" is a different thing — a TABLE with an
  // emission cursor — and keeps its name-collision guard below.
  // ------------------------------------------------------------------

  private val ViewSqlKey = "view.sql"
  private val ViewSep = "\u001F" // unit separator: never in identifiers
  private val ViewNull = "\u0000" // per-element null sentinel (comments)
  private def viewPropsName(view: String) = s"$view.view"

  private def viewStored(ident: Identifier): Map[String, String] =
    if (!isDataNs(ident.namespace)) Map.empty
    else TableProps.read(wh, viewPropsName(ident.name))

  override def viewExists(ident: Identifier): Boolean =
    viewStored(ident).contains(ViewSqlKey)

  /** Time-travel refusal for views, by mechanism: a view is stored SQL
    * text with NO snapshot lineage of its own — `VERSION AS OF` /
    * `TIMESTAMP AS OF` pin published version dirs, which a view does
    * not have. The remedy is time-travelling the TABLES inside the
    * view's query.
    */
  private def refuseViewTimeTravel(ident: Identifier): Unit =
    if (viewExists(ident)) throw new UnsupportedOperationException(
      s"time travel through view '${ident.name}' is not supported: a " +
        "view is stored SQL text with no snapshot lineage (nothing to " +
        "pin). Time-travel the underlying tables inside the view query " +
        "instead (VERSION AS OF / TIMESTAMP AS OF on them)")

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!isDataNs(ns)) throw new NoSuchNamespaceException(ns)
    val dir = java.nio.file.Paths.get(wh.root, "_metadata")
    if (!java.nio.file.Files.isDirectory(dir)) return Array.empty
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.endsWith(".view.json") =>
        Identifier.of(ns, n.stripSuffix(".view.json")) }
      .toArray.sortBy(_.name)
    finally s.close()
  }

  override def loadView(ident: Identifier): View = {
    val p = viewStored(ident)
    if (!p.contains(ViewSqlKey))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    def arr(key: String): Array[String] = p.get(key) match {
      case None | Some("") => Array.empty
      case Some(v) => v.split(ViewSep, -1)
    }
    val viewIdent = ident
    new View {
      override def name(): String = viewIdent.name
      override def query(): String = p(ViewSqlKey)
      override def currentCatalog(): String =
        p.getOrElse("view.catalog", catalogName)
      override def currentNamespace(): Array[String] = arr("view.namespace")
      override def schema(): StructType =
        p.get("view.schema").map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(new StructType())
      override def queryColumnNames(): Array[String] = arr("view.query-cols")
      override def columnAliases(): Array[String] = arr("view.aliases")
      override def columnComments(): Array[String] =
        arr("view.comments").map(c => if (c == ViewNull) null else c)
      override def properties(): JMap[String, String] =
        p.collect { case (k, v) if k.startsWith("view.prop.") =>
          k.stripPrefix("view.prop.") -> v }.asJava
    }
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (!isDataNs(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val v = ident.name
    require(!v.contains("/") && !v.startsWith("_") && !v.startsWith("."),
      s"illegal graft view name '$v'")
    // one namespace, one resolution order: a name must mean ONE thing —
    // a view shadowing a table (or a feed-view TABLE) would silently
    // change every existing query against it
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    def join(a: Array[String]): Option[String] =
      if (a == null || a.isEmpty) None else Some(a.mkString(ViewSep))
    val stored = Map(ViewSqlKey -> info.sql,
      "view.catalog" -> info.currentCatalog) ++
      join(info.currentNamespace).map("view.namespace" -> _) ++
      Option(info.schema).map(s => "view.schema" -> s.json) ++
      join(info.queryColumnNames).map("view.query-cols" -> _) ++
      join(info.columnAliases).map("view.aliases" -> _) ++
      join(Option(info.columnComments).map(_.map(c =>
        if (c == null) ViewNull else c)).orNull).map("view.comments" -> _) ++
      Option(info.properties).map(_.asScala).getOrElse(Map.empty)
        .map { case (k, s) => s"view.prop.$k" -> s }
    TableProps.write(wh, viewPropsName(v), stored)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val before = viewStored(ident)
    if (!before.contains(ViewSqlKey))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val after = changes.foldLeft(before) {
      case (p, set: ViewChange.SetProperty) =>
        p + (s"view.prop.${set.property}" -> set.value)
      case (p, rm: ViewChange.RemoveProperty) =>
        p - s"view.prop.${rm.property}"
      case (_, other) => throw new IllegalArgumentException(
        s"unsupported view change $other: a graft view's QUERY is " +
          "immutable — CREATE OR REPLACE VIEW to change it")
    }
    TableProps.write(wh, viewPropsName(ident.name), after)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExists(ident) && {
      TableProps.delete(wh, viewPropsName(ident.name))
      true
    }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (!isDataNs(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    TableProps.write(wh, viewPropsName(newIdent.name), viewStored(oldIdent))
    TableProps.delete(wh, viewPropsName(oldIdent.name))
  }

  // ------------------------------------------------------------------
  // procedures: CALL graft.system.<name>(...)
  // ------------------------------------------------------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(SystemNs))
      procedures.keys.toArray.sorted.map(Identifier.of(SystemNs, _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(SystemNs),
      s"procedures live under $catalogName.system; got ${ident.namespace.mkString(".")}")
    procedures.getOrElse(ident.name, throw new NoSuchElementException(
      s"unknown procedure '${ident.name}' " +
        s"(available: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  private def param(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()
  private def paramDefault(n: String, dt: DataType, sql: String) =
    ProcedureParameter.in(n, dt).defaultValue(sql).build()

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray)

  private def procedure(pname: String, desc: String,
      params: Seq[ProcedureParameter], outSchema: StructType)(
      body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = pname
          override def description(): String = desc
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val out = body(input).toArray
            val scan: Scan = new LocalScan {
              override def readSchema(): StructType = outSchema
              override def rows(): Array[InternalRow] = out
            }
            java.util.List.of(scan).iterator()
          }
        }
    }

  private lazy val procedures: Map[String, UnboundProcedure] = Seq(

    // The MERGE INTO-shaped entry for the CDC fold (q18 semantics): fold
    // `source`'s change rows into flat/versioned `target`, latest-wins
    // by (ts, ingest order), tombstones retained for late arrivals.
    procedure("merge_changes",
      "Fold CDC change rows from SOURCE into flat mirror TARGET " +
        "(latest-wins by ts; exactly the streaming fold's semantics)",
      Seq(param("source", StringType), param("target", StringType),
        param("key_col", StringType), param("ts_col", StringType)),
      StructType(Seq(StructField("target", StringType),
        StructField("rows_after", LongType)))) { in =>
      val (source, target) = (str(in, 0), str(in, 1))
      val cfg = graft.CdcConfig(str(in, 2), str(in, 3))
      if (MorMirror.storedConfig(wh, target).isDefined ||
          PartitionedMirror.storedBuckets(wh, target).isDefined)
        throw new UnsupportedOperationException(
          s"'$target' is a MOR/bucketed mirror maintained by the " +
            "streaming ingest path; merge_changes targets flat mirrors")
      // CAS discipline (deleteWhere's ordering): capture the expected
      // version BEFORE reading the target — a concurrent INSERT INTO the
      // same target landing between the read and the publish flips the
      // commit into a retryable conflict instead of a lost update (the
      // old overwrite path was last-wins; advice finding)
      wh.retryingConflicts(maxAttempts = 10) {
        val expected = wh.currentVersion(target)
        // expected=None performs no compare — a FIRST merge must demand
        // the target still absent at publish, or two concurrent first
        // merges are last-wins (advice finding)
        val targetExists = wh.exists(target)
        require(!EqDeletes.anyPending(wh.snapshotPath(target)),
          s"'$target' has pending merge-on-read sidecars; CALL " +
            s"$catalogName.system.compact('$target') before merging")
        val changes = wh.read(spark, source, mergeSchema = true)
        val stored =
          if (targetExists)
            graft.operators.Cdc.applyBatch(
              SchemaEvolution.readTableWidened(spark, wh.snapshotPath(target)),
              changes, cfg)
          else graft.operators.Cdc.fold(changes, cfg)
        val pinned = stored.localCheckpoint(true)
        val markers = Tables.readRootMarkers(wh.snapshotPath(target))
        wh.commit(target, expectCurrent = expected,
          expectAbsent = expected.isEmpty && !targetExists) { p =>
          pinned.write
            .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
          Tables.writeRootMarkers(markers, p)
        }
        Seq(row(target, pinned.count()))
      }
    },

    procedure("compact",
      "Layout-aware compaction (MOR delta fold / flat-bucketed rewrite / " +
        "time-partitioned in-place merge). target_files > 0 pins a file " +
        "count; otherwise bin-packs to target_bytes (Iceberg's 512 MB " +
        "default) — right-sized files carry by hard link, the count " +
        "derives from data volume",
      Seq(param("table", StringType),
        paramDefault("target_files", IntegerType, "0"),
        paramDefault("target_bytes", LongType,
          graft.plans.Maintenance.DefaultTargetBytes.toString)),
      StructType(Seq(StructField("table", StringType),
        StructField("files_before", LongType),
        StructField("files_after", LongType)))) { in =>
      val t = str(in, 0)
      val before = Maintenance.dataFiles(spark, wh, t).size.toLong
      val n = in.getInt(1)
      if (n > 0) Maintenance.compact(spark, wh, t, n)
      else Maintenance.compactToSize(spark, wh, t, in.getLong(2))
      Seq(row(t, before, Maintenance.dataFiles(spark, wh, t).size.toLong))
    },

    procedure("cluster",
      "Sort-order rewrite + zone-map manifest per the table's DECLARED " +
        "clustering; churn-proportional incremental path when possible",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("mode", StringType)))) { in =>
      val t = str(in, 0)
      val (dims, bloomKeys, declaredFiles) =
        Maintenance.declaredClustering(wh, t).getOrElse(
          throw new IllegalStateException(
            s"'$t' declares no clustering (Maintenance.declareClustering)"))
      val mode =
        if (Maintenance.clusterIncremental(spark, wh, t, dims, bloomKeys))
          "incremental"
        else {
          Maintenance.cluster(spark, wh, t, dims,
            declaredFiles.getOrElse(8), bloomKeys = bloomKeys)
          "full"
        }
      Seq(row(t, mode))
    },

    // Time-grain spec evolution, as SQL (round 19 — was API-only): the
    // metadata-only flip; days keep their recorded spec until the
    // background rewrite below migrates them.
    procedure("evolve_time_granularity",
      "Flip a time-partitioned changelog's declared grain (day<->hour, " +
        "metadata-only); existing days keep their recorded spec until " +
        "migrate_time_granularity rewrites them",
      Seq(param("table", StringType), param("target", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("granularity", StringType)))) { in =>
      val (t, target) = (str(in, 0), str(in, 1))
      wh.evolveTimeGranularity(t, target)
      evictTable(t) // the cached table serves the old grain's layout
      Seq(row(t, target))
    },

    // The background rewrite of a grain evolution, as SQL: the mid-flip
    // refusal in table resolution names exactly this call. Dispatches
    // on the DECLARED grain (day->hour splits, hour->day merges).
    procedure("migrate_time_granularity",
      "Rewrite a grain-evolved changelog's remaining old-spec day dirs " +
        "into the declared spec (day-dir-atomic, churn-proportional; " +
        "day->hour splits batches under p_hour, hour->day merges them " +
        "back into p_batch)",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("days_migrated", IntegerType)))) { in =>
      val t = str(in, 0)
      evictTable(t) // the mid-flip refusal may be cached
      Seq(row(t, Maintenance.migrateTimeGranularity(spark, wh, t)))
    },

    procedure("expire_tombstones",
      "Drop delete markers older than the lateness horizon (time-" +
        "partitioned changelogs take the day-pruned path)",
      Seq(param("table", StringType), param("horizon", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("expired", BooleanType)))) { in =>
      val t = str(in, 0)
      val cfg = MorMirror.storedConfig(wh, t).map(_._1).orElse {
        val p = TableProps.read(wh, t)
        for (k <- p.get("cdc.key-column"); ts <- p.get("cdc.ts-column"))
          yield graft.CdcConfig(k, ts)
      }.getOrElse(throw new IllegalStateException(
        s"'$t' records no cdc.* properties — nothing to expire"))
      Maintenance.expireTombstones(spark, wh, t, cfg, str(in, 1))
      Seq(row(t, true))
    },

    procedure("remove_orphans",
      "Age-guarded reachability sweep of crashed stages, stale locks and " +
        "task debris; returns each deleted path",
      Seq(param("table", StringType),
        paramDefault("older_than_ms", LongType, (24L * 3600 * 1000).toString)),
      StructType(Seq(StructField("deleted_path", StringType)))) { in =>
      Maintenance.removeOrphans(wh, str(in, 0), in.getLong(1)).map(row(_))
    },

    procedure("expire_consumed_hops",
      "Cursor-aware feed retention: sweep hop subdirs every registered " +
        "consumer has absorbed, behind the age guard",
      Seq(param("table", StringType),
        paramDefault("older_than_ms", LongType, (24L * 3600 * 1000).toString)),
      StructType(Seq(StructField("deleted_hop", StringType)))) { in =>
      MirrorChangelog.expireConsumedHops(wh, str(in, 0), in.getLong(1)).map(row(_))
    },

    // the feed-consumer operator surface (round 19): registration and
    // lag are SQL-visible, so the "dead consumer blocks retention
    // LOUDLY" contract is observable without spelunking the props
    // sidecar. Also readable as the `<view>.consumers` metadata table.
    procedure("register_consumer",
      "Register (or advance) consumer ID's durably-absorbed cursor on " +
        "feed view TABLE; retention only sweeps hops EVERY registered " +
        "consumer is past. Write it AFTER the consumer's own state " +
        "commit (a stale-low cursor is safe; a stale-high one drops " +
        "hops). Remove a dead consumer by UNSETting its " +
        "consumer.<id>.cursor property",
      Seq(param("table", StringType), param("id", StringType),
        param("cursor", LongType)),
      StructType(Seq(StructField("table", StringType),
        StructField("id", StringType),
        StructField("cursor", LongType)))) { in =>
      val (t, id, cur) = (str(in, 0), str(in, 1), in.getLong(2))
      require(MirrorChangelog.isFeedView(wh, t),
        s"'$t' is not a changelog feed view (no emission cursor): a " +
          "consumer registered here would never gate retention. Feed " +
          s"views are written by CALL $catalogName.system.emit_changelog")
      require(id.nonEmpty, "consumer id must be non-empty")
      // upper bound: nothing above the feed's emission cursor has been
      // materialized, so nothing above it can have been absorbed — a
      // typo'd stale-HIGH cursor here would silently mark unemitted hops
      // as consumed and let retention drop hops no consumer ever saw.
      // The stale-LOW direction stays legal (it is the safe one).
      val emitted = MirrorChangelog.emissionCursor(wh, t).get
      require(cur <= emitted,
        s"cursor $cur is above feed '$t''s emission cursor $emitted — " +
          "nothing past the emission cursor exists to absorb. A " +
          "stale-HIGH registration would let retention drop hops no " +
          "consumer saw; register the version the consumer has DURABLY " +
          "absorbed (stale-low is safe)")
      MirrorChangelog.registerConsumer(wh, t, id, cur)
      Seq(row(t, id, cur))
    },

    procedure("consumers",
      "Per-consumer lag of feed view TABLE: absorbed-through cursor, " +
        "retained hops above it, and whether this consumer is the " +
        "retention laggard (its cursor is the minimum with hops piling " +
        "above — revive it or drop its registration)",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("consumer", StringType),
        StructField("cursor", LongType),
        StructField("hops_behind", LongType),
        StructField("blocking_retention", BooleanType)))) { in =>
      MirrorChangelog.consumerStates(wh, str(in, 0)).map {
        case (id, cur, behind, blocking) => row(id, cur, behind, blocking)
      }
    },

    // The changelog FEED face: emit pending snapshot diffs of `source`
    // into hop subdirs of `view` (then SELECT the view table itself).
    procedure("emit_changelog",
      "Emit pending snapshot-diff hops of SOURCE into feed view table " +
        "VIEW (consume them by querying the view table)",
      Seq(param("source", StringType), param("view", StringType),
        param("key_col", StringType)),
      StructType(Seq(StructField("from_version", LongType),
        StructField("to_version", LongType)))) { in =>
      MirrorChangelog.emitPending(spark, wh, str(in, 0), str(in, 1), str(in, 2))
        .map { case (f, t) => row(f, t) }
    },

    // the write-audit-publish AUDIT face (round 17): the row-level
    // changes fast_forward WOULD apply to main, materialized into a
    // queryable view table (delta-sized; before/after images) — the
    // returned rows are the per-change-type census
    procedure("branch_diff",
      "Audit changelog of BRANCH vs its fork base (what would " +
        "fast_forward change?) written into view table VIEW; returns " +
        "per-change-type row counts. KEY_COL '' selects the table's " +
        "declared cdc.key-column; explicit keys must exist in the schema",
      Seq(param("table", StringType), param("branch", StringType),
        param("key_col", StringType), param("view", StringType)),
      StructType(Seq(StructField("change_type", StringType),
        StructField("n_rows", LongType)))) { in =>
      val (srcT, view) = (str(in, 0), str(in, 3))
      // the view overwrites: refuse names that would clobber real data
      // (including the audited table itself) — only a fresh name or a
      // prior branch_diff view (self-marked) may be replaced
      require(view != srcT,
        s"branch_diff view '$view' must not be the audited table")
      require(!wh.exists(view) ||
        TableProps.read(wh, view).contains(GraftCatalog.AuditViewProp),
        s"'$view' already exists and is not a branch_diff view; " +
          "overwriting it would destroy its data — pick a fresh name")
      val d = MirrorChangelog.branchDiff(spark, wh, srcT,
        str(in, 1), str(in, 2)).localCheckpoint(true)
      wh.overwrite(d, view)
      TableProps.write(wh, view,
        TableProps.read(wh, view) + (GraftCatalog.AuditViewProp -> srcT))
      d.groupBy(MirrorChangelog.ChangeTypeCol).count()
        .orderBy(MirrorChangelog.ChangeTypeCol)
        .collect().map(r => row(r.getString(0), r.getLong(1))).toSeq
    },

    // the diverged-branch remedy fast_forward refuses (round 18):
    // row-level replay of the branch's audit diff onto current main as
    // one staged CAS commit, refusing on key-level conflicts
    procedure("cherrypick",
      "Replay BRANCH's row-level changes (vs its fork base) onto " +
        "CURRENT main as one staged commit — the diverged-branch " +
        "remedy; refuses when both sides changed a key. KEY_COL '' " +
        "selects the declared cdc.key-column. The branch ref rebases " +
        "to the published version",
      Seq(param("table", StringType), param("branch", StringType),
        paramDefault("key_col", StringType, "''")),
      StructType(Seq(StructField("change_type", StringType),
        StructField("n_rows", LongType),
        StructField("new_version", LongType)))) { in =>
      val (census, newV) = MirrorChangelog.cherrypick(spark, wh,
        str(in, 0), str(in, 1), str(in, 2))
      census.map { case (t, c) => row(t, c, newV) }
    },

    // The manifest-credited exact interval count (Snowflake-style
    // pruning+metadata count): files whose stats PROVE containment
    // contribute their manifest row counts without opening; only
    // boundary-straddling files scan.
    procedure("count_fast",
      "Exact count of rows with LO <= col <= HI, answered from the " +
        "zone-map manifest where containment is provable",
      Seq(param("table", StringType), param("column", StringType),
        param("lo", StringType), param("hi", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("rows", LongType)))) { in =>
      val t = str(in, 0)
      val path = wh.snapshotPath(t)
      val dt = spark.read.parquet(path).schema(str(in, 1)).dataType
      def parse(s: String): Any = {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
        Cast(Literal(UTF8String.fromString(s), StringType), dt,
          Some(spark.sessionState.conf.sessionLocalTimeZone)).eval() match {
          case null => throw new IllegalArgumentException(
            s"'$s' does not parse as $dt")
          case v => org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(v, dt)
        }
      }
      val n = graft.plans.ZoneMap.countFast(spark, path,
        Seq(graft.plans.ZoneMap.Bound(str(in, 1),
          Some(parse(str(in, 2))), Some(parse(str(in, 3))))))
      Seq(row(t, n))
    },

    // The recovery move the retained history exists for: restore an old
    // snapshot as current (Iceberg's rollback_to_snapshot). Roll-FORWARD
    // semantics — a new version hard-links the target's content, so the
    // snapshot log stays append-only and TIMESTAMP AS OF history never
    // rewrites ([[Tables.Warehouse.rollbackTo]]).
    procedure("rollback_to_version",
      "Restore retained VERSION of TABLE as the current state (committed " +
        "as a new roll-forward snapshot; history stays readable)",
      Seq(param("table", StringType), param("version", LongType)),
      StructType(Seq(StructField("table", StringType),
        StructField("restored_version", LongType),
        StructField("new_version", LongType)))) { in =>
      val t = str(in, 0)
      val v = in.getLong(1)
      if (MorMirror.storedConfig(wh, t).isDefined ||
          PartitionedMirror.storedBuckets(wh, t).isDefined ||
          wh.timePartitionCol(t).isDefined)
        throw new UnsupportedOperationException(
          s"'$t' is a fold-input/in-place layout; rollback applies to " +
            "versioned snapshot tables")
      val rolled = wh.retryingConflicts(maxAttempts = 10) {
        wh.rollbackTo(t, v)
      }
      Seq(row(t, v, rolled))
    },

    // Explicit retention: drop published snapshots beyond the newest
    // keep_last (never the current one, whatever its number).
    procedure("expire_snapshots",
      "Delete retained published snapshots of TABLE beyond the newest " +
        "KEEP_LAST; with OLDER_THAN_MS > 0, only snapshots whose publish " +
        "stamp (t.history.made_current_at) predates that epoch-millis " +
        "cutoff expire (Iceberg's primary expiry axis; KEEP_LAST stays " +
        "the retained floor). The current snapshot, tags and branch pins " +
        "are always kept",
      Seq(param("table", StringType),
        paramDefault("keep_last", IntegerType, "2"),
        paramDefault("older_than_ms", LongType, "0")),
      StructType(Seq(StructField("expired_version", LongType)))) { in =>
      val cutoff = Option(in.getLong(2)).filter(_ > 0L)
      wh.expireSnapshots(str(in, 0), in.getInt(1), cutoff).map(v => row(v))
    },

    // Named snapshot refs (Iceberg tags): pin a retained version by
    // name — protected from retention GC and explicit expiry until
    // dropped; readable as VERSION AS OF '<tag>'.
    procedure("create_tag",
      "Pin retained VERSION of TABLE under TAG (GC-protected; read via " +
        "VERSION AS OF '<tag>')",
      Seq(param("table", StringType), param("tag", StringType),
        param("version", LongType)),
      StructType(Seq(StructField("table", StringType),
        StructField("tag", StringType),
        StructField("version", LongType)))) { in =>
      val (t, tag, v) = (str(in, 0), str(in, 1), in.getLong(2))
      wh.createTag(t, tag, v)
      Seq(row(t, tag, v))
    },

    procedure("drop_tag",
      "Drop TAG from TABLE: the pinned version re-enters the normal " +
        "retention window",
      Seq(param("table", StringType), param("tag", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("existed", BooleanType)))) { in =>
      Seq(row(str(in, 0), wh.dropTag(str(in, 0), str(in, 1))))
    },

    procedure("tags",
      "Tags of TABLE with their pinned versions",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("tag", StringType),
        StructField("version", LongType)))) { in =>
      wh.tags(str(in, 0)).toSeq.sortBy(_._1).map { case (tg, v) => row(tg, v) }
    },

    procedure("create_branch",
      "Fork BRANCH at TABLE's current version (write-audit-publish: " +
        "INSERTs land on it under spark.graft.wap.branch, audit via " +
        "VERSION AS OF '<branch>', publish with fast_forward)",
      Seq(param("table", StringType), param("branch", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("branch", StringType),
        StructField("forked_at", LongType)))) { in =>
      val (t, b) = (str(in, 0), str(in, 1))
      evictTable(t)
      Seq(row(t, b, wh.createBranch(t, b)))
    },

    procedure("fast_forward",
      "Publish BRANCH into main with one pointer CAS (refused when main " +
        "moved since the fork — not fast-forwardable)",
      Seq(param("table", StringType), param("branch", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("branch", StringType),
        StructField("main_at", LongType)))) { in =>
      val (t, b) = (str(in, 0), str(in, 1))
      evictTable(t) // main's resolution changes under the reader
      Seq(row(t, b, wh.fastForward(t, b)))
    },

    procedure("drop_branch",
      "Drop BRANCH from TABLE: its unmerged versions re-enter the " +
        "normal retention window",
      Seq(param("table", StringType), param("branch", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("existed", BooleanType)))) { in =>
      Seq(row(str(in, 0), wh.dropBranch(str(in, 0), str(in, 1))))
    },

    procedure("branches",
      "Branches of TABLE with their head and fork-base versions",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("branch", StringType),
        StructField("head", LongType),
        StructField("base", LongType)))) { in =>
      wh.branches(str(in, 0)).toSeq.sortBy(_._1).map {
        case (b, (h, base)) => row(b, h, base)
      }
    },

    // The snapshot log as rows — what VERSION AS OF / TIMESTAMP AS OF
    // resolve against.
    procedure("snapshots",
      "Retained published versions of TABLE with their publish stamps",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("version", LongType),
        StructField("published_at", TimestampType)))) { in =>
      wh.publishedVersions(str(in, 0)).map { case (v, p) =>
        row(v, wh.publishTimeMillis(p) * 1000L)
      }
    }
  ).map(p => p.name() -> p).toMap
}

object GraftCatalog {
  /** Table-build counter (one increment per [[GraftCatalog]] table
    * materialization — the walk + schema-inference unit the
    * version-pointer cache amortizes). Spec-facing.
    */
  private[graft] val tableBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Marks a table as a `branch_diff` audit view (value = the audited
    * table) — the ONLY kind of existing table the procedure will
    * overwrite (review finding: an unguarded overwrite could clobber a
    * real table, including the audited one).
    */
  private[sources] val AuditViewProp = "audit.branch-diff-source"

  /** Idempotent, SYNCHRONIZED registration into
    * `spark.experimental.extraOptimizations` — the field is a plain var,
    * so two catalogs initializing concurrently on one session would
    * read-modify-write each other's rule away (review finding).
    */
  private val extraRulesLock = new Object
  private[sources] def registerExtraRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit =
    extraRulesLock.synchronized {
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }

  /** Declared-schema sidecar prop: serves a just-created table's schema
    * until its first data file exists (parquet has no footer to infer
    * from). Never authoritative once files land — the files are.
    */
  val SqlSchemaProp = "sql.schema"

  /** JVM-wide schema memo for FLAT (recursive-lookup) snapshot layouts,
    * keyed by the snapshot's DATA-FILE CENSUS (relative path + size) plus
    * the widen-declaration and inference-conf fingerprints. Published
    * version dirs are immutable and sidecar-only commits hard-link the
    * SAME data files, so successive versions often share a census — the
    * footer-merge inference (one Spark job per VERSION since the round-12
    * pointer cache) collapses to one per DISTINCT FILE SET. The memo never
    * caches RESULTS, only the schema the same inference would recompute
    * from the identical immutable files. Bounded LRU; oversized censuses
    * skip the memo rather than hold multi-thousand-entry keys.
    */
  private val SchemaMemoMax = 512
  private val schemaMemo =
    new java.util.LinkedHashMap[AnyRef, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, StructType]): Boolean =
        size() > SchemaMemoMax
    }
  private[sources] def schemaMemoGet(k: AnyRef): Option[StructType] =
    schemaMemo.synchronized(Option(schemaMemo.get(k)))
  private[sources] def schemaMemoPut(k: AnyRef, s: StructType): Unit =
    schemaMemo.synchronized { schemaMemo.put(k, s); () }

  /** Census cap: beyond this many files the memo key itself gets heavy —
    * skip memoization (inference still runs, exactly as before). */
  private val SchemaMemoMaxFiles = 1024

  /** Sorted (relative path, size) census of the snapshot's VISIBLE data
    * files — the same visibility rules as `hasParquetFiles`. None when the
    * dir is missing or the census exceeds [[SchemaMemoMaxFiles]]. With
    * `partitionDirs`, a `_`-prefixed component containing `=` (a
    * partition dir such as `_kb=3`) counts as visible, Spark's own
    * listing rule for partition discovery. */
  private[sources] def schemaCensus(path: String,
      partitionDirs: Boolean = false): Option[Seq[(String, Long)]] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) return Some(Seq.empty)
    // a concurrent retention GC deleting a version mid-walk throws from
    // the walk or the per-file size stat — degrade to the un-memoized
    // path (advice finding), exactly like the >1024-file case
    try schemaCensusWalk(p, partitionDirs)
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException =>
      None }
  }

  private def schemaCensusWalk(p: java.nio.file.Path, partitionDirs: Boolean)
      : Option[Seq[(String, Long)]] = {
    val s = java.nio.file.Files.walk(p)
    try {
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        val nm = f.getFileName.toString
        if (nm.endsWith(".parquet") && !nm.startsWith("_") &&
            !nm.startsWith(".") &&
            !p.relativize(f).iterator().asScala.exists { c =>
              val n = c.toString
              n.startsWith(".") ||
                (n.startsWith("_") && !(partitionDirs && n.contains("=")))
            }) {
          if (out.size >= SchemaMemoMaxFiles) return None
          out += ((p.relativize(f).toString, java.nio.file.Files.size(f)))
        }
      }
      Some(out.sortBy(_._1).toSeq)
    } finally s.close()
  }

  /** The session-conf axes parquet schema inference depends on —
    * including (advice finding) mergeSchema and the datetime-rebase
    * modes, and (round 21, partition-discovery memoization) partition
    * column type inference.
    */
  private[sources] def schemaConfFp(spark: SparkSession): String =
    Seq("spark.sql.caseSensitive", "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.fieldId.read.enabled",
      "spark.sql.parquet.mergeSchema",
      "spark.sql.parquet.datetimeRebaseModeInRead",
      "spark.sql.parquet.int96RebaseModeInRead",
      "spark.sql.sources.partitionColumnTypeInference.enabled")
      .map(k => spark.conf.getOption(k).getOrElse("")).mkString("|")

  /** A planning-scale metadata table: rows computed at scan-build time,
    * served via LocalScan (the procedures' result mechanism).
    */
  private[sources] def localTable(tname: String, outSchema: StructType,
      compute: () => Seq[InternalRow]): Table =
    new Table with SupportsRead {
      override def name(): String = tname
      override def schema(): StructType = outSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): Scan = new LocalScan {
            private val out = compute().toArray
            override def readSchema(): StructType = outSchema
            override def rows(): Array[InternalRow] = out
          }
        }
    }

  /** One row per data file under `path`: absolute path, bytes, footer
    * record count (exact, no data pages read). Hidden components
    * (`_zonemap`, markers) are excluded — same listing contract as the
    * reads. Record counts are MANIFEST-SERVED when a fresh `_zonemap`
    * covers the census exactly (the same zero-footer discipline as
    * `t.partitions` — round 19); a stale/absent manifest footer-walks
    * in parallel.
    */
  private[sources] def fileCensus(spark: SparkSession,
      path: String): Seq[InternalRow] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) return Seq.empty
    val conf = spark.sessionState.newHadoopConf()
    val s = java.nio.file.Files.walk(p)
    val files =
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .filterNot(f => p.relativize(f).iterator().asScala.exists(
          c => c.toString.startsWith("_") || c.toString.startsWith(".")))
        .toList
      finally s.close()
    val counts: Map[String, Long] =
      manifestPerFileCounts(spark, p, files).getOrElse {
        // footer reads are ~1ms each but the census is O(files): at the
        // documented 1e5-file ceiling a serial walk is minutes of driver
        // time, a parallel one is seconds (footers only — no data pages)
        import scala.collection.parallel.CollectionConverters._
        files.par.map { f =>
          f.toString -> graft.plans.ZoneMap.footerStats(f.toString, conf).records
        }.toList.toMap
      }
    files.map { f =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(f.toString),
        java.nio.file.Files.size(f), counts(f.toString))): InternalRow
    }.sortBy(_.getUTF8String(0).toString)
  }

  /** Per-file record counts keyed by ABSOLUTE path when `d`'s
    * `_zonemap` manifest covers exactly the walked files — None
    * otherwise (the caller footer-walks; a mismatch must degrade to
    * exact, never to a wrong count).
    */
  private def manifestPerFileCounts(spark: SparkSession,
      d: java.nio.file.Path, files: Seq[java.nio.file.Path])
      : Option[Map[String, Long]] = {
    val zm = d.resolve(graft.plans.ZoneMap.ManifestDir)
    if (!java.nio.file.Files.isDirectory(zm)) return None
    try {
      val m = graft.plans.ZoneMap.manifest(spark, d.toString)
        .select("file", "rows").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val rel = files.map(f =>
        f -> d.relativize(f).iterator().asScala.mkString("/")).toMap
      if (m.keySet == rel.values.toSet)
        Some(files.map(f => f.toString -> m(rel(f))).toMap)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (file count, footer record count, bytes) of the data files under
    * `dirs` — the `t.partitions` census (same exclusion contract as
    * [[fileCensus]]; no data pages ever).
    *
    * MANIFEST-SERVED when possible (round-19 verdict item 1): a dir
    * whose `_zonemap` manifest is FRESH (its file census exactly matches
    * the dir's current data files — the [[graft.plans.ZoneMap.countFast]]
    * staleness discipline) answers record counts from the manifest's
    * per-file `rows` and bytes from the listing, opening ZERO footers —
    * an operator dashboard polling `t.partitions` on a 100k-file
    * clustered table reads one tiny manifest instead of 100k footers,
    * every call. Stale or absent manifests fall back to the parallel
    * footer walk (exact, just O(files) driver I/O). The two paths agree
    * by construction: the manifest's `rows` IS each written file's
    * footer count.
    */
  private[sources] def dirFooterStats(spark: SparkSession,
      dirs: Seq[java.nio.file.Path]): (Long, Long, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val perDir = dirs.map { d =>
      if (!java.nio.file.Files.isDirectory(d)) (0L, 0L, 0L)
      else {
        val s = java.nio.file.Files.walk(d)
        val files =
          try s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .filterNot(f => d.relativize(f).iterator().asScala.exists(
              c => c.toString.startsWith("_") || c.toString.startsWith(".")))
            .toList
          finally s.close()
        val bytes = files.map(java.nio.file.Files.size(_)).sum
        manifestRecordCounts(spark, d, files) match {
          case Some(records) => (files.size.toLong, records, bytes)
          case None =>
            import scala.collection.parallel.CollectionConverters._
            val records = files.par.map(f =>
              graft.plans.ZoneMap.footerStats(f.toString, conf).records).sum
            (files.size.toLong, records, bytes)
        }
      }
    }
    (perDir.map(_._1).sum, perDir.map(_._2).sum, perDir.map(_._3).sum)
  }

  /** Total manifest `rows` for `d` when its `_zonemap` covers EXACTLY
    * the walked data files — None on absent/stale manifests or any read
    * failure (the caller footer-walks; a census mismatch must degrade
    * to exact, never to a wrong count).
    */
  private def manifestRecordCounts(spark: SparkSession,
      d: java.nio.file.Path, files: Seq[java.nio.file.Path]): Option[Long] =
    manifestPerFileCounts(spark, d, files).map(_.values.sum)
}

/** A warehouse table served through the catalog: reads delegate to the
  * stock parquet connector (vectorized scan, pushdown, pruning — all of
  * Catalyst's machinery applies unchanged); writes route through the
  * engine's COMMITTED paths, so plain SQL gets the same snapshot
  * atomicity as the API:
  *
  *   - `INSERT INTO` → [[Tables.Warehouse.appendVersioned]] — the
  *     hard-link fast append (O(new data); the old snapshot stays
  *     readable through VERSION AS OF; conflicts CAS-retry);
  *   - `INSERT OVERWRITE` → [[Tables.Warehouse.overwrite]]'s pointer CAS;
  *   - `DELETE FROM ... WHERE` → copy-on-write rewrite behind the same
  *     CAS (survivors = rows where the predicate is FALSE or NULL, the
  *     SQL DELETE contract), pushed as a V2 [[SupportsDelete]] so the
  *     analyzer plans it as a metadata operation, not a rewrite query.
  *
  * The write plumbing is Spark's V1 fallback ([[V1Write]]): the exec
  * hands over the fully-resolved DataFrame and the engine's own write —
  * a distributed parquet write into an exclusively-allocated stage dir,
  * published by one atomic pointer swap — IS the physical plan. A custom
  * per-task DataWriter would re-implement exactly that staging with no
  * added parallelism: the data plane is already `df.write.parquet`.
  *
  * `policy` carries a refusal reason for tables whose layout is a
  * contract (fold inputs, feed hops, projections, pinned snapshots);
  * refusals surface at write-plan time with the owning mechanism named.
  */
private[sources] class GraftTable(wh: Warehouse, tableName: String,
    delegate: ParquetTable, policy: Either[String, Unit],
    streamPolicy: Either[String, Unit])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations
  with org.apache.spark.sql.GraftV1FallbackTable {

  override def name(): String = tableName
  /** A merge-on-read table's key column(s) report REQUIRED (the Iceberg
    * identifier-field contract): every row-identity mechanism — the
    * equality-delete sidecars and Spark's delta-write rowId validation
    * (`NULLABLE_ROW_ID_ATTRIBUTES`) — is undefined for NULL keys. Data
    * violating the declaration (the expert TableProps path; the DDL
    * guard refuses it) still cannot corrupt silently: morDelete routes
    * NULL-key matches to POSITIONAL tombstones (the remedial tool —
    * "delete the NULL-key rows" works) and the delta writer refuses
    * them loudly. Known limit of the violated state: Catalyst trusts
    * the declared non-nullability, so `count(key)` / `key IS NULL`
    * constant-fold over the violating rows until they are repaired.
    */
  override def schema(): StructType = {
    val base = delegate.schema
    val props = TableProps.read(wh, tableName)
    if (!EqDeletes.morEnabled(props)) base
    else EqDeletes.keyColsOf(props)
      .map(_.filter(base.fieldNames.contains)).filter(_.nonEmpty)
      .fold(base) { ks =>
        StructType(base.fields.map(f =>
          if (ks.contains(f.name)) f.copy(nullable = false) else f))
      }
  }
  /** Declared hidden-time-partition column (drives
    * [[DeriveHiddenDayFilters]]' transform-aware day pruning). */
  private[sources] lazy val hiddenTimeColumn: Option[String] =
    wh.timePartitionCol(tableName)
  /** The zone the layout's day derivation was written in (`UTC` for
    * zone-prop tables, None = legacy session-zone layout) — every
    * read-side day-bound derivation must use the same zone or pruning
    * can drop rows (advice finding). */
  private[sources] lazy val hiddenTimeZone: Option[String] =
    wh.timePartitionZone(tableName)
  override def properties(): JMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    TableProps.read(wh, tableName).foreach { case (k, v) => m.put(k, v) }
    m.put("provider", "parquet")
    m
  }

  // write capabilities are declared even for refused tables: the
  // analyzer's capability check runs before any writer is built, and a
  // bare "does not support append" names no mechanism — declaring and
  // then refusing in newWriteBuilder/deleteWhere puts the OWNING
  // mechanism (feed contract, projection source, appendBatch) in the
  // error the user actually sees
  override def capabilities(): java.util.Set[TableCapability] = {
    import TableCapability._
    java.util.EnumSet.of(BATCH_READ, V1_BATCH_WRITE, TRUNCATE, STREAMING_WRITE)
  }

  /** `spark.readStream.table("graft.t")` — streaming reads ride Spark's
    * V1 streaming fallback onto the stock file stream source, whose
    * checkpointed file log gives new-file detection, exactly-once and
    * restart/replay natively (the same machinery the ingest pipeline's
    * own stream uses). Served for IN-PLACE append layouts, where the
    * directory IS an append log and a file, once written, never
    * rewrites: time-partitioned changelogs (partition-parsed, `p_day`/
    * `p_batch` in the streamed schema exactly as in batch SQL),
    * batch-subdir changelogs, and changelog FEED views — the
    * subscribe-to-a-mirror's-changes surface. A VERSIONED snapshot
    * table refuses loudly: its commits rewrite file sets atomically
    * (overwrite, COW, compaction), which a file-tailing source would
    * re-ingest as duplicate rows — its streaming face is the feed view
    * (`CALL <cat>.system.emit_changelog` + readStream.table the view).
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    if (wh.currentVersion(tableName).isDefined)
      throw new UnsupportedOperationException(
        s"streaming read of '$tableName' refused: a versioned snapshot " +
          "table rewrites its file set atomically (overwrite/COW/" +
          "compaction), which a file-tailing stream would re-ingest as " +
          "duplicates. Subscribe to its changelog feed instead: CALL " +
          "<catalog>.system.emit_changelog(source, view, key) and " +
          "readStream.table the feed view.")
    val path = delegate.paths.head
    val props =
      if (hiddenTimeColumn.isDefined) Map("mergeSchema" -> "true")
      else Map("mergeSchema" -> "true", "recursiveFileLookup" -> "true")
    CatalogTable(
      // UnresolvedCatalogRelation asserts a database-qualified identifier;
      // the fallback resolves entirely from this metadata (provider +
      // location), never by name lookup, so "default" is a label only
      identifier = TableIdentifier(tableName, Some("default")),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat(
        locationUri = Some(java.nio.file.Paths.get(path).toUri),
        inputFormat = None, outputFormat = None, serde = None,
        compressed = false, properties = props),
      schema = delegate.schema,
      provider = Some("parquet"))
  }

  /** Pending equality-delete sidecars of the served snapshot. Gated on
    * the cached MOR prop: sidecars only ever exist under it (morDelete
    * checks it first, and UNSET refuses while any are pending), so the
    * common non-MOR path pays a map lookup, not a directory stat.
    */
  private[sources] def eqDeletePending: Seq[EqDeletes.Sidecar] =
    if (!EqDeletes.morEnabled(TableProps.read(wh, tableName))) Seq.empty
    else EqDeletes.pending(delegate.paths.head)

  private def eqDeleteKeyCols: Seq[String] = {
    val declared = EqDeletes.keyColsOf(TableProps.read(wh, tableName))
      .getOrElse(throw new IllegalStateException(
        s"'$tableName' has pending equality deletes but no " +
          s"'${EqDeletes.KeyProp}'"))
    // defense-in-depth for API-level re-keys (advice finding, round 19):
    // the reader-level filter probes sidecar key frames by the DECLARED
    // columns, so a sidecar WRITTEN under a different signature would
    // silently delete by the wrong columns. The ALTER path already
    // refuses re-keying over pending sidecars; this guard catches the
    // raw-TableProps bypass at scan time, loudly.
    val mismatched = eqDeletePending.flatMap(sc =>
      sc.storedKeyCols.filter(_ != declared)
        .map(k => s"${sc.dir.getFileName} (written under " +
          s"'${k.mkString(",")}')"))
    if (mismatched.nonEmpty) throw new IllegalStateException(
      s"'$tableName' declares '${EqDeletes.KeyProp}'=" +
        s"'${declared.mkString(",")}' but pending equality sidecar(s) " +
        s"${mismatched.mkString("[", "; ", "]")} are bound to a " +
        "different key — a scan probing them by the declared columns " +
        "would delete the wrong rows. CALL compact to fold them, then " +
        "re-key")
    declared
  }

  /** Pending POSITIONAL delete sidecars ([[PosDeletes]]) of the served
    * snapshot — gated on the MOR prop like [[eqDeletePending]].
    */
  private[sources] def posDeletePending: Seq[java.nio.file.Path] =
    if (!EqDeletes.morEnabled(TableProps.read(wh, tableName))) Seq.empty
    else PosDeletes.pending(delegate.paths.head)

  /** The LOGICAL read of a posdelete-bearing snapshot (tombstones probed
    * per task, equality sidecars composed) — the plan the split rules
    * splice in place of this table's relation.
    */
  private[sources] def posDeleteLogical(): Option[DataFrame] =
    if (posDeletePending.isEmpty) None
    else Some(PosDeletes.logicalRead(SparkSession.active,
      delegate.paths.head, delegate.schema,
      EqDeletes.keyColsOf(TableProps.read(wh, tableName))))

  /** The [[SplitEqDeleteScans]] seam: when sidecars pend AND the census
    * splits into both unaffected and affected files, return
    * (unaffectedFiles, affectedFiles, sidecars, keyCols, snapshotDir) so
    * the rule can plan the unaffected side as a stock columnar relation.
    * None = nothing to split (no sidecars, or every file on one side) —
    * the single-scan shape stands.
    */
  private[sources] def eqDeleteSplit(): Option[(Seq[String], Seq[String],
      Seq[EqDeletes.Sidecar], Seq[String], String)] = {
    val sidecars = eqDeletePending
    if (sidecars.isEmpty) return None
    val baseDir = delegate.paths.head
    val all = graft.plans.ZoneMap.dataFileCensus(
      org.apache.spark.sql.SparkSession.active, baseDir)
    val groups = EqDeletes.bySignature(all, sidecars)
    val unaffected = groups.collect { case (fs, a) if a.isEmpty => fs }.flatten
    val affected = groups.collect { case (fs, a) if a.nonEmpty => fs }.flatten
    if (unaffected.isEmpty || affected.isEmpty) None
    else Some((unaffected, affected, sidecars, eqDeleteKeyCols, baseDir))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // PENDING positional deletes read through the LOGICAL rewrite (the
    // split rules splice [[posDeleteLogical]] in place of this
    // relation); the marker scan below exists so a session that somehow
    // carries NEITHER rule fails loudly instead of resurrecting
    // tombstoned rows through a raw scan
    if (posDeletePending.nonEmpty)
      return new ScanBuilder {
        override def build(): Scan =
          new PosDeletePendingScan(GraftTable.this)
      }
    // PENDING equality deletes (merge-on-read DELETE sidecars) fold at
    // read time — unconditional on session wiring, same discipline as
    // hidden-day pruning (time-partitioned tables never carry sidecars,
    // so the two faces are disjoint).
    val sidecars = eqDeletePending
    if (sidecars.nonEmpty)
      return new EqDeleteScanBuilder(tableName, delegate.paths.head,
        schema(), eqDeleteKeyCols, options, sidecars)
    hiddenTimeColumn match {
      // derive the implied p_day conjuncts at PUSHDOWN time — pruning is
      // unconditional on session wiring (round-12 verdict item 3); only
      // when the layout's partition column was actually discovered (an
      // empty table's derived conjunct would be unresolvable residual)
      case Some(tc) =>
        val fsb = delegate.newScanBuilder(options)
          .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder]
        new DayDerivingScanBuilder(fsb, tc, hiddenTimeZone,
          wh.timeGranularity(tableName), delegate.fileIndex.partitionSchema)
      case None => delegate.newScanBuilder(options)
    }
  }

  private def refused: String = policy.left.getOrElse("")
  private def requireWritable(op: String): Unit = policy match {
    case Left(reason) => throw new UnsupportedOperationException(
      s"$op on '$tableName' refused: $reason")
    case Right(_) => ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a table refused for BOTH faces fails at plan time with the owning
    // mechanism named; a time-partitioned table (batch-refused only)
    // must reach toStreaming — its streaming face IS appendBatch
    if (streamPolicy.isLeft) requireWritable("write")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = {
          requireWritable("write") // batch face: time-partitioned refuses
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              GraftTable.wapBranch match {
                // write-audit-publish: the session conf routes the write
                // onto the branch's own ref — main's pointer never moves
                // until CALL fast_forward publishes the audited head.
                // OVERWRITE stages the full replacement content (no
                // carry) and CASes the branch head, the same
                // one-commit-one-CAS shape as the append.
                case Some(b) =>
                  wh.retryingConflicts(maxAttempts = 10) {
                    if (replace || overwrite) {
                      val expectHead = wh.branches(tableName).getOrElse(b,
                        throw new NoSuchElementException(
                          s"'$tableName' has no branch '$b'"))._1
                      // root markers (stream-epoch replay positions,
                      // substrate/layout markers) must survive the
                      // overwrite like they do on main (wh.overwrite) —
                      // a fast-forwarded snapshot that lost its epoch
                      // markers would re-ingest replayed epochs
                      val markers = Tables.readRootMarkers(
                        wh.branchSnapshotDir(tableName, b).toString)
                      val staged = wh.allocateStage(tableName)
                      try {
                        data.write
                          .mode(org.apache.spark.sql.SaveMode.Overwrite)
                          .parquet(staged.toString)
                        Tables.writeRootMarkers(markers, staged.toString)
                      } catch { case t: Throwable =>
                        wh.discardStage(staged); throw t
                      }
                      wh.publishStageToBranch(tableName, staged, b,
                        expectHead)
                    } else wh.appendToBranch(data, tableName, b)
                  }
                case None =>
                  if (replace || overwrite) wh.overwrite(data, tableName)
                  // a generous retry budget: SQL INSERTs are external
                  // writers with no coordination, so N-way contention
                  // where every rival wins once each is NORMAL
                  else wh.retryingConflicts(maxAttempts = 10) {
                    wh.appendVersioned(data, tableName)
                  }
              }
          }
        }
        /** `df.writeStream.toTable("graft.t")`: every micro-batch is a
          * committed snapshot ([[GraftStreamingWrite]] — per-query
          * epoch-marker exactly-once, hard-link fast append per epoch;
          * complete mode overwrites) — or, for a hidden-time-partitioned
          * table, an [[Tables.Warehouse.appendBatch]] whose batch id IS
          * the epoch ([[GraftAppendBatchStreamingWrite]], replay-exact
          * by the layout's own dynamic-overwrite contract).
          */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          streamPolicy.left.foreach(reason =>
            throw new UnsupportedOperationException(
              s"streaming write to '$tableName' refused: $reason"))
          // write-audit-publish (round 17): under the WAP conf the
          // stream's epochs commit to the BRANCH head — stage a day of
          // ingest, audit it, fast_forward publishes every epoch with
          // its replay markers. Captured at stream-build time (the WAP
          // binding discipline); unknown branches refuse loudly, and a
          // time-partitioned table refuses (its in-place layout has no
          // branch refs — branches need the versioned pointer).
          val wapBranch = GraftTable.wapBranch
          wapBranch.foreach { b =>
            if (hiddenTimeColumn.isDefined)
              throw new UnsupportedOperationException(
                s"streaming write to time-partitioned '$tableName' under " +
                  s"spark.graft.wap.branch refused: the in-place " +
                  "partition layout has no branch refs (branches need " +
                  "the versioned pointer layout)")
            if (!wh.branches(tableName).contains(b))
              throw new NoSuchElementException(
                s"'$tableName' has no branch '$b' " +
                  "(spark.graft.wap.branch routing): CALL " +
                  "<catalog>.system.create_branch first")
          }
          hiddenTimeColumn match {
            case Some(tc) if !replace =>
              new GraftAppendBatchStreamingWrite(wh, tableName, tc,
                info.schema(), info.queryId())
            case Some(_) => throw new UnsupportedOperationException(
              s"complete-mode streaming into time-partitioned " +
                s"'$tableName' would overwrite only the LAST epoch's " +
                "partitions; use append mode (the layout is an append log)")
            case None =>
              new GraftStreamingWrite(wh, tableName, info.schema(),
                info.queryId(), replace, wapBranch)
          }
        }
      }
    }
  }

  /** `DELETE FROM ... WHERE`: survivors rewrite as a new version behind
    * the commit CAS — the read pins the pre-delete snapshot (versioned
    * reads resolve the pointer at open), so the rewrite is consistent
    * even while it reads the table it replaces. NULL predicate rows
    * SURVIVE (SQL deletes only where the predicate is TRUE).
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE")
    GraftTable.wapBranch match {
      // write-audit-publish: the delete commits as the BRANCH's new head
      // (MOR sidecar over linked head files when declared, COW survivor
      // rewrite otherwise) — main's pointer never moves
      case Some(b) => branchDelete(b, filters)
      case None =>
        if (EqDeletes.morEnabled(TableProps.read(wh, tableName)) &&
            morDelete(filters)) return
        cowDelete(filters)
    }
  }

  /** Branch-routed DELETE (the WAP DML face): reads the branch HEAD
    * (folded when it carries sidecars), commits via the branch-head CAS.
    * Same plan split as main: merge-on-read tables get the O(keys)
    * equality sidecar (census narrowed through the head's zone-map
    * evidence), NULL-key/MaxKeys matches take the POSITIONAL sidecar
    * (round 17 — same O(changed) contract as main), nested layouts
    * fall back to the COW survivor rewrite; a delete matching nothing
    * commits nothing.
    */
  private def branchDelete(branch: String, filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val spark = SparkSession.active
    val pred = filters.map(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val props = TableProps.read(wh, tableName)
    val morKeys =
      if (EqDeletes.morEnabled(props)) EqDeletes.keyColsOf(props) else None
    wh.retryingConflicts(maxAttempts = 10) {
      val expectHead = wh.branches(tableName).getOrElse(branch,
        throw new NoSuchElementException(
          s"'$tableName' has no branch '$branch'"))._1
      val headDir = wh.branchSnapshotDir(tableName, branch)
      val head = headDir.toString
      val base =
        if (EqDeletes.anyPending(head))
          EqDeletes.logicalMorRead(spark, head, props)
        else SchemaEvolution.readTableWidened(spark, head)
      val sidecarSettled = morKeys.exists { ks =>
        val matchedRows = base.filter(coalesce(pred, lit(false)))
          .select(ks.map(col): _*).localCheckpoint(true)
        val anyNull = ks.map(c => col(c).isNull).reduce(_ || _)
        val nullMatched = matchedRows.filter(anyNull).count()
        val matched = matchedRows.filter(!anyNull).dropDuplicates(ks)
        val n = matched.count()
        if (nullMatched > 0 || n > EqDeletes.MaxKeys) {
          // NULL key components / oversize matched sets take the
          // POSITIONAL sidecar on the branch exactly as on main (round
          // 17 — the branch face kept paying a COW rewrite); a nested
          // layout falls through to the COW arm below
          PosDeletes.matchedPositions(spark, head, pred) match {
            case None => false // nested layout: COW arm below
            case Some(positions) =>
              val staged = wh.allocateStage(tableName)
              try {
                wh.carryVersionInto(headDir, staged)
                PosDeletes.write(spark, staged.toString, positions)
              } catch { case t: Throwable =>
                wh.discardStage(staged); throw t
              }
              wh.publishStageToBranch(tableName, staged, branch, expectHead)
              true
          }
        }
        else if (n == 0) true // no-op: commit nothing
        else {
          val all = graft.plans.ZoneMap.dataFileCensus(spark, head)
          val census = EqDeletes.narrowedCensus(spark, head, ks,
            ks.map(schema()(_).dataType),
            matched.collect().map(r => ks.indices.map(r.get)).toIndexedSeq,
            n, all)
          val staged = wh.allocateStage(tableName)
          try {
            wh.carryVersionInto(headDir, staged)
            EqDeletes.write(staged.toString, matched, census)
          } catch { case t: Throwable =>
            wh.discardStage(staged); throw t
          }
          wh.publishStageToBranch(tableName, staged, branch, expectHead)
          true
        }
      }
      if (!sidecarSettled) {
        // FILE-GRANULAR on the branch too (the main deleteWhere shape):
        // stats-admitted head files rewrite minus matched rows, the rest
        // hard-link from the head; a stats-proven no-match or a
        // matched-nothing predicate commits nothing
        val census = graft.plans.ZoneMap.dataFileCensus(spark, head)
        val affectedOpt =
          if (EqDeletes.anyPending(head) ||
              census.exists(_.contains("/"))) None
          else GraftTable.selectCowGroups(spark, head, filters)
            .filter(_.size < census.size)
        if (affectedOpt.exists(_.isEmpty)) return // proven no match
        if (affectedOpt.isEmpty &&
            base.filter(coalesce(pred, lit(false))).limit(1).count() == 0L)
          return
        val markers = Tables.readRootMarkers(head)
        val (survivors, carried) = affectedOpt match {
          case Some(affected) =>
            (spark.read.schema(base.schema)
              .parquet(affected.map(f => s"$head/$f"): _*)
              .filter(not(coalesce(pred, lit(false)))),
              (census.toSet -- affected.toSet).toSeq)
          case None =>
            (base.filter(not(coalesce(pred, lit(false)))), Nil)
        }
        val staged = wh.allocateStage(tableName)
        try {
          survivors.write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(staged.toString)
          carried.foreach(f => wh.io.linkOrCopy(
            java.nio.file.Paths.get(head, f),
            staged.resolve(f)))
          // a version dir needs at least one footer to serve its schema
          val hasFiles = {
            val s = java.nio.file.Files.list(staged)
            try s.iterator().asScala.exists(
              _.getFileName.toString.endsWith(".parquet"))
            finally s.close()
          }
          if (!hasFiles)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              base.schema).repartition(1).write
              .mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(staged.toString)
          Tables.writeRootMarkers(markers, staged.toString)
        } catch { case t: Throwable =>
          wh.discardStage(staged); throw t
        }
        wh.publishStageToBranch(tableName, staged, branch, expectHead)
      }
    }
  }

  /** Merge-on-read DELETE: commit an O(deleted-keys) equality-delete
    * sidecar over hard-linked base files instead of rewriting them (see
    * [[EqDeletes]]). Returns false to fall back to the COW rewrite when
    * the matched key set is past [[EqDeletes.MaxKeys]] (a rewrite IS
    * the better plan there) or the table has no versioned pointer.
    */
  private def morDelete(filters: Array[Filter]): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = SparkSession.active
    val props = TableProps.read(wh, tableName)
    val keyCols = EqDeletes.keyColsOf(props)
      .getOrElse(throw new UnsupportedOperationException(
        s"'$tableName' declares ${EqDeletes.ModeProp}=merge-on-read but " +
          s"no ${EqDeletes.KeyProp}: equality deletes identify rows by " +
          "the table's key"))
    val pred = filters.map(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    var applied = true
    wh.retryingConflicts(maxAttempts = 10) {
      val expected = wh.currentVersion(tableName).getOrElse(
        throw new UnsupportedOperationException(
          s"merge-on-read DELETE needs '$tableName' in the versioned " +
            "pointer layout"))
      val snap = wh.snapshotPath(tableName)
      // match against the LOGICAL view: earlier pending deletes (both
      // sidecar kinds) respected
      val matchedRows = EqDeletes.logicalMorRead(spark, snap, props)
        .filter(coalesce(pred, lit(false)))
        .select(keyCols.map(col): _*).localCheckpoint(true)
      // a matched row with a NULL key (any component) cannot be
      // identified by an equality-delete sidecar (the reader filter
      // deliberately keeps null-key rows), and a matched set past
      // MaxKeys stops being a broadcastable fold side — both route to
      // the POSITIONAL sidecar ([[PosDeletes]]): (file, ordinal)
      // tombstones keep the commit O(changed) where the old fallback
      // paid a COW rewrite of the table
      val anyNull = keyCols.map(c => col(c).isNull).reduce(_ || _)
      val nullMatched = matchedRows.filter(anyNull).count()
      val matched = matchedRows.filter(!anyNull)
        .dropDuplicates(keyCols)
      val n = matched.count()
      if (nullMatched > 0 || n > EqDeletes.MaxKeys)
        applied = posDelete(spark, snap, expected, pred)
      else if (n == 0) applied = true // nothing matched: delete is a no-op
      else {
        val all = graft.plans.ZoneMap.dataFileCensus(spark, snap)
        // CENSUS NARROWING (round-15 verdict item 1, round-16 footer
        // fallback): scope the sidecar to the files that CAN contain a
        // matched key — exclusion is proof of absence, so the plan-level
        // scan split's read tax tracks affected bytes: one point-delete
        // on a 100 TB table devectorizes ~one file, not the table.
        val census = EqDeletes.narrowedCensus(spark, snap, keyCols,
          keyCols.map(schema()(_).dataType),
          matched.collect().map(r => keyCols.indices.map(r.get)).toIndexedSeq,
          n, all)
        wh.commit(tableName, expectCurrent = Some(expected)) { staged =>
          wh.carryPreviousInto(tableName, java.nio.file.Paths.get(staged))
          // the zone-map manifest CARRIES: a pure delete changes no file
          // names, so the per-file min/max/bloom evidence stays exactly
          // valid (and keeps narrowing STACKED deletes). Only its `rows`
          // overcount now — countFast refuses sidecar-bearing snapshots
          // for precisely that reason.
          EqDeletes.write(staged, matched, census)
        }
        applied = true
      }
    }
    applied
  }

  /** POSITIONAL-delete commit (Iceberg v2 position deletes — round 17):
    * the matched rows' `(file, row ordinal)` tombstones land as one
    * [[PosDeletes]] sidecar over hard-linked base files — O(changed)
    * commit bytes for the two shapes an equality sidecar cannot carry
    * (matched set past MaxKeys; NULL key components). Positions come
    * from a RAW scan of the census files (parquet's native
    * `_metadata.row_index`): a row already hidden by a pending sidecar
    * that matches the predicate is re-tombstoned harmlessly. Returns
    * false (→ the COW rewrite) on a nested (bucketed) layout, whose
    * file names the flat ordinal keying cannot address.
    */
  private def posDelete(spark: SparkSession, snap: String, expected: Long,
      pred: org.apache.spark.sql.Column): Boolean = {
    val positions = PosDeletes.matchedPositions(spark, snap, pred)
      .getOrElse(return false) // nested layout: COW owns it
    wh.commit(tableName, expectCurrent = Some(expected)) { staged =>
      wh.carryPreviousInto(tableName, java.nio.file.Paths.get(staged))
      // the zone-map manifest CARRIES (no file names change; min/max/
      // bloom stay conservative) — countFast refuses sidecar-bearing
      // snapshots, same contract as the equality path
      PosDeletes.write(spark, staged, positions)
    }
    true
  }

  /** Copy-on-write DELETE (the default): survivors rewrite as a new
    * version behind the commit CAS.
    */
  private def cowDelete(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val spark = SparkSession.active
    val pred = filters.map(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    wh.retryingConflicts(maxAttempts = 10) {
      // CAS expectation FIRST, read second: a rival landing between the
      // two flips the CAS red (retry, re-read) — the reverse order would
      // let the CAS pass while the survivors were read from the OLD
      // snapshot, silently discarding the rival's rows (lost update)
      val expected = wh.currentVersion(tableName)
      val snap = wh.snapshotPath(tableName)
      val markers = Tables.readRootMarkers(snap)
      // FILE-GRANULAR groups (round 16): on a clustered table whose
      // zone-map stats bound the predicate, only the files that CAN
      // contain a match rewrite — everything else carries as a hard
      // link, the same per-file COW the row-level UPDATE path does. A
      // point DELETE on a 100 TB table stops costing a table rewrite.
      // Keep-conservative: an unbounded predicate, a stale/missing
      // manifest, pending sidecars (the folded read below owns those),
      // or a nested (bucketed) layout all fall back to the full rewrite.
      val sidecarsPending = EqDeletes.anyPending(snap)
      val census =
        if (sidecarsPending) Nil
        else graft.plans.ZoneMap.dataFileCensus(spark, snap)
      val affectedOpt =
        if (sidecarsPending || census.exists(_.contains("/"))) None
        else GraftTable.selectCowGroups(spark, snap, filters)
          .filter(_.size < census.size)
      affectedOpt match {
        case Some(affected) if affected.isEmpty =>
          // the stats PROVE no row matches: the delete is a no-op and
          // commits nothing (no version bump — the morDelete discipline)
          ()
        case Some(affected) =>
          val schema = SchemaEvolution.readTableWidened(spark, snap).schema
          val survivors = spark.read.schema(schema)
            .parquet(affected.map(f => s"$snap/$f"): _*)
            .filter(not(coalesce(pred, lit(false))))
          val carried = census.toSet -- affected.toSet
          wh.commit(tableName, expectCurrent = expected) { staged =>
            survivors.write
              .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
            carried.foreach(f => wh.io.linkOrCopy(
              java.nio.file.Paths.get(snap, f),
              java.nio.file.Paths.get(staged, f)))
            // no manifest carry: the rewritten affected files invalidate
            // their census rows (same contract as the row-level COW)
            Tables.writeRootMarkers(markers, staged)
          }
        case None =>
          // FOLDED base when sidecars are pending (the huge-delete
          // fallback from morDelete): a raw read would resurrect the
          // deleted keys
          val base =
            if (sidecarsPending)
              EqDeletes.logicalMorRead(spark, snap,
                TableProps.read(wh, tableName))
            else SchemaEvolution.readTableWidened(spark, snap)
          val survivors = base.filter(not(coalesce(pred, lit(false))))
          wh.commit(tableName, expectCurrent = expected) { staged =>
            survivors.write
              .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
            Tables.writeRootMarkers(markers, staged)
          }
      }
    }
  }

  // refused tables claim deletability so deleteWhere can name the owning
  // mechanism (same reasoning as capabilities above)
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    policy.isLeft || filters.forall(GraftTable.translatable)

  /** `MERGE INTO` / `UPDATE` (and the rewrite-flavor `DELETE`): Spark's
    * group-based copy-on-write row-level operations, with the whole
    * table as the one group — the analyzer reads the current snapshot
    * through the operation's scan, applies the merge/update logic, and
    * [[GraftCowBatchWrite]] streams the post-operation rows into an
    * exclusively-allocated stage published by the pointer CAS. The CAS
    * expectation binds HERE, before the scan is built (the deleteWhere
    * ordering discipline): a rival landing mid-operation flips the
    * publish into a conflict, never a lost update. Whole-table-as-group
    * is the honest COW granularity for this layout (a version dir is
    * one snapshot); per-file groups would need runtime group filtering
    * against the zone-map census — named as the optimization path, not
    * silently approximated. Row-granular churn belongs on the MOR
    * mirror; this is the Iceberg-COW-flavor SQL correction tool.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable(info.command.toString)
    // write-audit-publish routing: under `spark.graft.wap.branch` the
    // operation READS the branch head and COMMITS via the branch-head
    // CAS — main's pointer never moves until CALL fast_forward.
    // (branchName, expectedHead, headDir) captured at PLAN time, the
    // same binding discipline as the main-path `expected` below.
    val branchCtx: Option[(String, Long, String)] =
      GraftTable.wapBranch.map { b =>
        val head = wh.branches(tableName).getOrElse(b,
          throw new NoSuchElementException(
            s"'$tableName' has no branch '$b'"))._1
        (b, head, wh.branchSnapshotDir(tableName, b).toString)
      }
    val branchPublish = branchCtx.map { case (b, h, _) => (b, h) }
    // merge-on-read UPDATE / MERGE: a DELTA-BASED operation
    // ([[MorDeltaOperation]]) — O(changed rows) sidecar + fast-append
    // commit instead of the whole-group COW rewrite below. DELETE stays
    // on the deleteWhere path (metadata-only, with its own MOR arm and
    // COW fallbacks); pending sidecars are fine here — deltas STACK by
    // the census rule, and the operation's scan reads through them.
    val morProps = TableProps.read(wh, tableName)
    if (EqDeletes.morEnabled(morProps) &&
        info.command != org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE) {
      val keyCols = EqDeletes.keyColsOf(morProps).getOrElse(
        throw new UnsupportedOperationException(
          s"'$tableName' declares ${EqDeletes.ModeProp}=merge-on-read " +
            s"but no ${EqDeletes.KeyProp}: delta writes identify rows " +
            "by the table's key"))
      val deltaExpected = wh.currentVersion(tableName)
      val pinned = branchCtx.map(_._3).getOrElse(delegate.paths.head)
      // POSITIONAL tombstones pending (round 18 — deltas STACK over
      // them, same census rule as equality): the operation's scan routes
      // through [[PosDeletes.logicalRead]] (the [[PosDeltaTargetScan]]
      // marker spliced by the catalog-registered rule), so tombstoned
      // rows never re-match as live; the new equality sidecar stays
      // census-scoped to the pinned snapshot and ordinals stay valid
      // because carried files keep their names. The pre-round-18 refusal
      // froze the write surface after one oversized DELETE until a fold.
      val posPending = PosDeletes.pending(pinned).nonEmpty
      // expert-path defense (TableProps.write bypasses the DDL guard):
      // a NULL key under the required-key schema corrupts silently, so
      // verify the pinned snapshot before planning — footer-stat cheap,
      // cached per immutable version dir. With positional tombstones
      // pending the footer counts include rows already deleted (the
      // NULL-key repair path IS a positional DELETE), so the check runs
      // against the LOGICAL content instead.
      if (posPending)
        EqDeletes.requireNullFreeKeysLogical(SparkSession.active, pinned,
          morProps, keyCols, s"merge-on-read ${info.command} on '$tableName'")
      else
        EqDeletes.requireNullFreeKeys(SparkSession.active, pinned, keyCols,
          s"merge-on-read ${info.command} on '$tableName'")
      // runtime target narrowing for delta MERGE: Spark's own row-level
      // group filtering matches only ReplaceData, so the engine's
      // [[DeltaRuntimeGroupFiltering]] (registered here, post-pushdown
      // batch) plans the source's matched keys as a dynamic-pruning
      // subquery on the target scan — which must therefore be the
      // runtime-filterable file-granular [[GroupCowScan]], not the
      // stock parquet scan. UPDATE keeps the stock scan: its predicate
      // narrows STATICALLY through ordinary pushdown.
      GraftCatalog.registerExtraRule(SparkSession.active,
        DeltaRuntimeGroupFiltering)
      val isMerge = info.command ==
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE
      return new RowLevelOperationBuilder {
        override def build(): RowLevelOperation = new MorDeltaOperation(
          wh, tableName, GraftTable.this.schema(), keyCols, info.command,
          pinned,
          opts => {
            val sidecars = EqDeletes.pending(pinned)
            if (posPending)
              // both sidecar kinds read through the logical splice
              // (equality composes beneath the ordinal probe)
              new ScanBuilder {
                override def build(): Scan = new PosDeltaTargetScan(
                  tableName, pinned, GraftTable.this.schema(), keyCols)
              }
            else if (sidecars.nonEmpty)
              new EqDeleteScanBuilder(tableName, pinned,
                GraftTable.this.schema(), keyCols, opts, sidecars)
            else if (isMerge)
              new ScanBuilder {
                override def build(): Scan = new GroupCowScan(tableName,
                  pinned, GraftTable.this.schema(), opts, None,
                  sel => MorDeltaOperation.lastScanSelection = sel)
              }
            else if (branchCtx.isDefined)
              GraftTable.parquetTableOver(tableName, pinned,
                GraftTable.this.schema()).newScanBuilder(opts)
            else delegate.newScanBuilder(opts)
          },
          deltaExpected, branchPublish)
      }
    }
    // the group scan reads RAW files; pending eq-delete sidecars would
    // resurrect their keys through the rewrite — fold first, loudly.
    // DELETE defers the check into the group scan's build: Spark's
    // RewriteDeleteFromTable constructs this operation for EVERY SQL
    // DELETE at analysis, and only the optimizer's metadata-only rule
    // (which runs BEFORE scan planning) decides whether deleteWhere —
    // whose MOR/folded paths handle sidecars correctly — takes over.
    // An eager throw here would refuse the stacked merge-on-read
    // DELETE that never touches this scan.
    val cowPinned = branchCtx.map(_._3).getOrElse(delegate.paths.head)
    val morPending = EqDeletes.anyPending(cowPinned)
    def refusePending(): Unit = require(!morPending,
      s"'$tableName' has pending merge-on-read sidecars (equality or " +
        s"positional); CALL <catalog>.system.compact('$tableName') " +
        "to fold them before a group-based rewrite")
    if (info.command != org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
      refusePending()
    val expected = wh.currentVersion(tableName)
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command

        /** The operation's scan defines the REPLACED GROUPS — Spark
          * rewrites exactly what the scan read. Two granularities:
          *
          *  - FILE-GRANULAR (UPDATE/DELETE with literal predicates on a
          *    table whose `_zonemap` manifest is fresh): the builder
          *    RECORDS the pushed condition without pushing it (returned
          *    whole as residual — pushing it would let the parquet
          *    reader skip row groups whose rows must be copied
          *    verbatim), conservatively selects the files whose stats
          *    admit a match ([[graft.plans.ZoneMap.survivingFiles]]),
          *    scans ONLY those in full, and the write hard-links every
          *    excluded file into the new version — maintenance cost
          *    tracks the matched region, not the table.
          *  - WHOLE-TABLE otherwise (no/stale manifest, untranslatable
          *    predicates, or MERGE, whose group filter is runtime
          *    data-dependent — `SupportsRuntimeV2Filtering` against the
          *    manifest is the named next step). The first pushed-filter
          *    variant of this scan silently dropped untouched rows
          *    (caught by spec): group semantics, not row semantics.
          */
        @volatile private var scannedRel: Option[Seq[String]] = None
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
            private var recorded: Array[Filter] = Array.empty
            override def pushFilters(filters: Array[Filter]): Array[Filter] = {
              recorded = filters
              filters // ALL residual: nothing is pushed into the reader
            }
            override def pushedFilters(): Array[Filter] = Array.empty
            override def build(): Scan = {
              refusePending() // a DELETE that reached the group scan
              // static selection (UPDATE/DELETE literal predicates);
              // runtime narrowing (MERGE matched keys) arrives through
              // the scan's SupportsRuntimeV2Filtering face
              scannedRel = GraftTable.selectCowGroups(
                SparkSession.active, cowPinned, recorded)
              new GroupCowScan(tableName, cowPinned,
                GraftTable.this.schema(), options, scannedRel,
                sel => scannedRel = sel)
            }
          }

        // the TABLE schema, not winfo.schema: ReplaceData's projections
        // reduce the physical rows to exactly the table's columns before
        // they reach the writer (winfo.schema can carry the operation
        // metadata column and would mis-size the row accessor)
        override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
          new WriteBuilder {
            override def build(): org.apache.spark.sql.connector.write.Write =
              new GraftCowBatchWrite(wh, tableName, GraftTable.this.schema(),
                expected, Some(cowPinned),
                () => scannedRel match {
                  case Some(scanned) =>
                    val all = graft.plans.ZoneMap.dataFileCensus(
                      SparkSession.active, cowPinned)
                    (all.toSet -- scanned.toSet).toSeq.sorted
                  case None => Nil
                }, branchPublish)
          }
      }
    }
  }
}

private[sources] object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{sources => f}

  /** The session's write-audit-publish branch (`spark.graft.wap.branch`,
    * the Iceberg `spark.wap.branch` pattern): when set, every write face
    * — SQL INSERT/OVERWRITE/DELETE/UPDATE/MERGE and (round 17) streaming
    * epochs — lands on that branch's ref; a write silently hitting MAIN
    * while the session believes it is staging on a branch would be the
    * worst kind of publish, so faces that cannot route refuse loudly.
    */
  private[sources] def wapBranch: Option[String] =
    Option(SparkSession.active)
      .map(_.conf.get("spark.graft.wap.branch", ""))
      .map(_.trim).filter(_.nonEmpty)

  /** A stock parquet table over one snapshot dir — the branch-head scan
    * face for row-level operations (the table's own `delegate` is pinned
    * to MAIN's snapshot).
    */
  private[sources] def parquetTableOver(name: String, dir: String,
      schema: StructType): org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("mergeSchema", "true")
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name, SparkSession.active,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts),
      Seq(dir), Some(schema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
  }

  /** Conservative file-group selection for a row-level rewrite: the
    * recorded (NOT pushed) condition translates conjunct-wise into
    * min/max [[graft.plans.ZoneMap.Bound]]s — a conjunct that cannot
    * bound (OR, functions, nulls, unstatted columns) simply constrains
    * nothing, which only ever KEEPS more files. Returns the relative
    * paths of files that may contain a match, or None for whole-table
    * granularity (no usable bound, no manifest, or a stale one).
    */
  private[sources] def selectCowGroups(spark: SparkSession, baseDir: String,
      filters: Array[Filter]): Option[Seq[String]] = {
    import graft.plans.ZoneMap
    def statable(v: Any): Boolean = v match {
      case null => false
      case _: Number | _: String | _: java.math.BigDecimal |
           _: java.sql.Date | _: java.sql.Timestamp |
           _: java.time.LocalDate | _: java.time.Instant => true
      case _ => false
    }
    def toBounds(flt: Filter): Seq[ZoneMap.Bound] = flt match {
      case f.And(l, r) => toBounds(l) ++ toBounds(r)
      case f.EqualTo(a, v) if statable(v) =>
        Seq(ZoneMap.Bound(a, Some(v), Some(v)))
      case f.GreaterThan(a, v) if statable(v) =>
        Seq(ZoneMap.Bound(a, Some(v), None)) // >= is keep-conservative for >
      case f.GreaterThanOrEqual(a, v) if statable(v) =>
        Seq(ZoneMap.Bound(a, Some(v), None))
      case f.LessThan(a, v) if statable(v) =>
        Seq(ZoneMap.Bound(a, None, Some(v)))
      case f.LessThanOrEqual(a, v) if statable(v) =>
        Seq(ZoneMap.Bound(a, None, Some(v)))
      case f.In(a, vs) if vs.nonEmpty && vs.forall(statable) &&
          vs.forall(_.isInstanceOf[Comparable[_]]) &&
          vs.map(_.getClass: Any).distinct.length == 1 =>
        val sorted = vs.map(_.asInstanceOf[AnyRef]).sortWith((x, y) =>
          x.asInstanceOf[Comparable[AnyRef]].compareTo(y) < 0)
        Seq(ZoneMap.Bound(a, Some(sorted.head), Some(sorted.last)))
      case _ => Nil // unbounded conjunct: conservative, keeps files
    }
    val bounds = filters.toSeq.flatMap(toBounds)
    if (bounds.isEmpty) None
    else ZoneMap.survivingFiles(spark, baseDir, bounds)
  }

  private def translatable(flt: Filter): Boolean = flt match {
    case a: f.And => translatable(a.left) && translatable(a.right)
    case o: f.Or => translatable(o.left) && translatable(o.right)
    case n: f.Not => translatable(n.child)
    case _: f.EqualTo | _: f.EqualNullSafe | _: f.GreaterThan |
         _: f.GreaterThanOrEqual | _: f.LessThan | _: f.LessThanOrEqual |
         _: f.In | _: f.IsNull | _: f.IsNotNull | _: f.StringStartsWith |
         _: f.StringEndsWith | _: f.StringContains | _: f.AlwaysTrue |
         _: f.AlwaysFalse => true
    case _ => false
  }

  /** V2 pushed-filter → Column, for the COW delete. Total over
    * [[translatable]] filters; anything else was refused at
    * `canDeleteWhere` and the analyzer fell back to an error, never a
    * silent partial delete.
    */
  private def filterToColumn(flt: Filter): Column = flt match {
    case f.EqualTo(a, v) => col(a) === lit(v)
    case f.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case f.GreaterThan(a, v) => col(a) > lit(v)
    case f.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case f.LessThan(a, v) => col(a) < lit(v)
    case f.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case f.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case f.IsNull(a) => col(a).isNull
    case f.IsNotNull(a) => col(a).isNotNull
    case f.And(l, r) => filterToColumn(l) && filterToColumn(r)
    case f.Or(l, r) => filterToColumn(l) || filterToColumn(r)
    case f.Not(c) => !filterToColumn(c)
    case f.StringStartsWith(a, v) => col(a).startsWith(v)
    case f.StringEndsWith(a, v) => col(a).endsWith(v)
    case f.StringContains(a, v) => col(a).contains(v)
    case _: f.AlwaysTrue => lit(true)
    case _: f.AlwaysFalse => lit(false)
    case other => throw new UnsupportedOperationException(
      s"DELETE predicate $other is not translatable; rewrite the delete " +
        "as INSERT OVERWRITE ... SELECT survivors")
  }
}

/** The row-level operation's scan: serves the pinned snapshot restricted
  * to the SELECTED group files, and narrows that selection at RUNTIME
  * through [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
  * — for a `MERGE INTO`, Spark's row-level group-filter rule executes
  * the matching-keys subquery and hands the matched key VALUES here as
  * an IN predicate; the keys probe the zone-map manifest's per-file
  * Bloom bitsets ([[graft.plans.ZoneMap.keyedSurvivors]] — min/max
  * ranges cannot serve scattered keys), so a MERGE rewrites only the
  * files that can hold a matched row and the write hard-links the rest.
  * Every fallback is whole-snapshot, never a wrong subset: no manifest,
  * stale census, unstatted attribute, untranslatable predicate.
  *
  * The underlying parquet scan is (re)built lazily AFTER runtime
  * filtering (`dirty` flag): BatchScanExec calls `filter(...)` and then
  * re-plans partitions, so the batch must reflect the narrowed file set
  * at `planInputPartitions` time, not at plan construction.
  */
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Literal => V2Literal}

private class GroupCowScan(tableName: String, baseDir: String,
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    initial: Option[Seq[String]],
    onSelection: Option[Seq[String]] => Unit)
  extends Scan with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}

  private var selected: Option[Seq[String]] = initial
  @volatile private var cached: Scan = _
  @volatile private var dirty = true

  override def readSchema(): StructType = tableSchema
  override def description(): String =
    s"GroupCowScan($tableName, groups=${selected.fold("whole-table")(_.size + " files")})"

  private def spark = SparkSession.active

  private def underlying(): Scan = synchronized {
    if (dirty || cached == null) {
      val opts = new java.util.HashMap[String, String]()
      opts.put("mergeSchema", "true")
      val paths = selected match {
        case Some(rel) => rel.map(f => s"$baseDir/$f")
        case None => Seq(baseDir)
      }
      // an empty selection still needs a well-formed scan: zero paths
      // with the declared schema plans zero partitions
      cached = ParquetTable(tableName, spark,
        new CaseInsensitiveStringMap(opts), paths, Some(tableSchema),
        classOf[ParquetFileFormat]).newScanBuilder(options).build()
      dirty = false
    }
    cached
  }

  /** Forward the wrapped file scan's (pruning-prorated) size estimate —
    * without it the relation reports `spark.sql.defaultSizeInBytes`
    * (effectively infinite) and a dimension-sized catalog table can
    * never sit on the broadcast side of a join (round 20).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    underlying() match {
      case r: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        r.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      underlying().toBatch.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      underlying().toBatch.createReaderFactory()
  }

  /** Runtime-filterable attributes: exactly the columns the manifest
    * carries file-skipping evidence for. Empty (rule skips) when the
    * table has no zone map.
    */
  override def filterAttributes(): Array[NamedReference] =
    graft.plans.ZoneMap.stattedColumns(spark, baseDir)
      .filter(tableSchema.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    predicates.foreach { p =>
      val keyed: Option[(String, Seq[Any])] = p.name() match {
        case "IN" | "in" => p.children() match {
          case Array(ref: NamedReference, rest @ _*)
              if ref.fieldNames.length == 1 &&
                rest.nonEmpty && rest.forall(_.isInstanceOf[V2Literal[_]]) =>
            Some((ref.fieldNames()(0), rest.map { lv =>
              val l = lv.asInstanceOf[V2Literal[_]]
              CatalystTypeConverters.convertToScala(l.value, l.dataType)
            }.toSeq))
          case _ => None
        }
        case "=" => p.children() match {
          case Array(ref: NamedReference, l: V2Literal[_])
              if ref.fieldNames.length == 1 =>
            Some((ref.fieldNames()(0),
              Seq(CatalystTypeConverters.convertToScala(l.value, l.dataType))))
          case _ => None
        }
        case _ => None
      }
      keyed.filter { case (_, vs) => vs.forall(_ != null) }.foreach {
        case (colName, values) =>
          graft.plans.ZoneMap.keyedSurvivors(spark, baseDir, colName, values,
            keyTypeHint = Some(tableSchema(colName).dataType))
            .foreach { survivors =>
              selected = Some(selected match {
                case Some(prev) => prev.intersect(survivors)
                case None => survivors
              })
              dirty = true
              onSelection(selected)
            }
      }
    }
  }
}
