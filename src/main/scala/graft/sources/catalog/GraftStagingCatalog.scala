package graft.sources.catalog

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces,
  SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITABLE companion of [[GraftCatalog]]: a DataSource V2 `TableCatalog`
  * over a staging directory, supporting `CREATE NAMESPACE`, `CREATE TABLE`,
  * `CREATE TABLE AS SELECT`, `INSERT INTO`, `DROP TABLE`, and table rename
  * through SQL —
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_stage", classOf[GraftStagingCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_stage.root", "/scratch/stage")
  *   spark.sql("CREATE TABLE graft_stage.work.t AS SELECT * FROM src")
  *   spark.sql("INSERT INTO graft_stage.work.t SELECT * FROM more")
  * }}}
  *
  * This is the catalog face of the reference's create/write surface
  * (`CephRgwFileSystem.create/mkdirs/rename/delete`, `/root/reference/src/
  * main/java/org/apache/hadoop/fs/cephrgw/CephRgwFileSystem.java:216-289`,
  * and the buffered object writer `CephRgwOutputStream.java:35-63`), where
  * [[GraftCatalog]] mirrors only its read side. Layout: `root/<ns>/<table>/`
  * is a directory of parquet part files. Both reads and writes delegate to
  * Spark's native `ParquetTable` (a DSv2 `FileTable`, which implements
  * `SupportsWrite`), so catalog-addressed writes get the real committer
  * protocol — task-attempt staging, job commit, no torn tables on failure —
  * and reads keep the vectorized scan + pushdown stack.
  *
  * ALL metadata I/O goes through the Hadoop `FileSystem` API resolved from
  * the root path's scheme — the exact contract the reference implements for
  * object storage (`CephRgwFileSystem.java:42` registers `cephrgw://`) — so
  * the catalog can be pointed at `file://`, HDFS, or a `cephrgw://`-style
  * store unchanged. Crucially, the version-manifest commit does NOT depend
  * on atomic rename (the reference's own rename is S3A copy-then-delete,
  * `CephRgwFileSystem.java:310-313` — not atomic): a commit is
  * `FileSystem.create(vN.json, overwrite = false)` — CREATE-EXCLUSIVE — so
  * version N either exists complete under exactly one writer or does not
  * exist. Losing the create race means another writer committed N first;
  * append commits recompute and retry as N+1, rewrite commits (OPTIMIZE /
  * DELETE / UPDATE / MERGE) abort with a conflict instead of silently
  * dropping the racer's rows (optimistic concurrency — the lost-update
  * guard).
  *
  * The declared schema and every other table declaration (partitioning,
  * sort order, merge-on-read mode, CHECK, maintenance knobs) travel in one
  * [[TableMeta]] record, `_graft_table.json`: `createTable` writes it,
  * `alterTable` edits it, and `loadTable` reads it once and hands it to
  * the table object, which answers its schema, properties, partitioning
  * and every scan and write build from it. An empty just-created table has
  * no parquet footers to infer from, and the leading underscore keeps the
  * record invisible to Spark's file listing. DDL is intentionally
  * single-level (`root/<ns>/<table>`) to match the reference's
  * bucket/pseudo-directory nesting.
  *
  * Executors reach storage through the driver's Hadoop configuration
  * (credentials, file-system bindings), about a thousand settings. Catalog
  * scans, current and `VERSION AS OF` alike, and every deletion-vector
  * reader, delta writer and executor-side maintenance job ship it through
  * [[ScanConf]]: one broadcast per session, and one parquet reader factory
  * per scan shape, reused until a setting changes. No factory embeds a
  * Configuration, so a task does not deserialize one.
  */
class GraftStagingCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: Path = _
  private var fs: FileSystem = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val rootStr = Option(options.get("root")).getOrElse {
      // Throwaway-session fallback; announce it LOUDLY so a typo'd
      // `spark.sql.catalog.<name>.root` conf key (which lands here and
      // "loses" previously staged tables in a fresh temp dir) is visible in
      // the first lines of any log rather than silently absorbed.
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage_").toString
      System.err.println(
        s"[GraftStagingCatalog:$name] WARNING: option 'root' not set " +
          s"(spark.sql.catalog.$name.root) — staging tables go to throwaway " +
          s"temp dir $tmp and will NOT survive this session")
      tmp
    }
    val raw = new Path(rootStr)
    fs = raw.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    root = fs.makeQualified(raw)
    fs.mkdirs(root)
  }

  override def name(): String = catalogName

  private def isDir(p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory catch { case _: FileNotFoundException => false }

  private def nsDir(namespace: Array[String]): Path = namespace match {
    case Array(ns) => new Path(root, ns)
    case _         => null
  }

  private def requireNs(namespace: Array[String]): Path = {
    val d = nsDir(namespace)
    if (d == null || !isDir(d)) throw new NoSuchNamespaceException(namespace)
    d
  }

  private def listDirs(p: Path): Seq[FileStatus] =
    (try fs.listStatus(p).toIndexedSeq catch { case _: FileNotFoundException => Seq.empty })
      .filter(_.isDirectory)

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    listDirs(root).map(d => Array(d.getPath.getName)).sortBy(_.head).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { requireNs(namespace); Array.empty } // single-level hierarchy

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    d != null && isDir(d)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val d = requireNs(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> d.toString).asJava
  }

  override def createNamespace(ns: Array[String], meta: util.Map[String, String]): Unit = {
    val d = nsDir(ns)
    if (d == null) throw new IllegalArgumentException(
      s"$catalogName supports single-level namespaces, got ${ns.mkString(".")}")
    fs.mkdirs(d)
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catalogName: namespace properties are immutable")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val d = requireNs(ns)
    if (listDirs(d).nonEmpty && !cascade)
      throw new IllegalStateException(s"namespace ${ns.mkString(".")} is not empty")
    fs.delete(d, true)
  }

  // ---- tables ------------------------------------------------------------

  private def tableDir(ident: Identifier): Path = {
    val ns = nsDir(ident.namespace())
    if (ns == null) null else new Path(ns, ident.name())
  }

  /** DEFAULT column values: Spark encodes `DEFAULT <expr>` into StructField
    * metadata (CURRENT_DEFAULT / EXISTS_DEFAULT); the table record
    * persists metadata verbatim, so declaring the capability is the whole
    * create-side story — INSERTs that omit the column get CURRENT_DEFAULT
    * filled by the analyzer, and files written before an ADD COLUMN surface
    * EXISTS_DEFAULT instead of NULL at read time.
    */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = requireNs(namespace)
    listDirs(d).map(_.getPath.getName)
      .filterNot(_.startsWith("_")) // sidecar dirs (_graft_views) are not tables
      .map(Identifier.of(namespace, _)).sortBy(_.name).toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val d = tableDir(ident)
    d != null && !ident.name().startsWith("_") && isDir(d)
  }

  private def qualified(ident: Identifier): String =
    s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}"

  private def parquetTable(name: String, paths: Seq[String],
      declared: Option[StructType]): ParquetTable =
    ParquetTable(name, SparkSession.active, CaseInsensitiveStringMap.empty(),
      paths, declared, classOf[ParquetFileFormat])

  /** Branch-face identifier (`cat.ns.t.branch_<name>` — the Iceberg
    * multipart-branch syntax): namespace = [ns, table], name = branch_x.
    */
  private def branchFace(ident: Identifier): Option[(Identifier, String)] =
    if (ident.namespace().length == 2 && ident.name().startsWith("branch_") &&
        ident.name().length > "branch_".length)
      Some((Identifier.of(ident.namespace().take(1), ident.namespace()(1)),
        ident.name().stripPrefix("branch_")))
    else None

  override def loadTable(ident: Identifier): Table = {
    import GraftStagingCatalog._
    branchFace(ident) match {
      case Some((base, bname)) => return loadBranchTable(base, bname)
      case None => ()
    }
    // `cat.ns.t.changes` — the streaming row-level change-feed face
    // ([[ChangeFeedTable]]): same multipart-identifier convention as the
    // branch face, Delta's `table_changes` equivalent
    if (ident.namespace().length == 2 && ident.name() == "changes") {
      val base = Identifier.of(ident.namespace().take(1), ident.namespace()(1))
      val bd = tableDir(base)
      if (bd == null || !isDir(bd)) throw new NoSuchTableException(base)
      val meta = TableMeta.read(fs, bd)
      val schema0 = meta.schema.getOrElse(
        throw new IllegalStateException(
          s"$catalogName: ${base.name()} has no declared schema — the change feed " +
            "needs one (create the table through this catalog)"))
      // lineage tables: the feed's rows carry `_row_id` — the identity a
      // downstream applier pairs update pre/post images (or applies rows)
      // by, with no merge key required
      val schema =
        if (!meta.rowLineage) schema0
        else StructType(schema0.fields :+
          org.apache.spark.sql.types.StructField("_row_id",
            org.apache.spark.sql.types.LongType, nullable = true))
      return new ChangeFeedTable(bd.toString, schema)
    }
    // `cat.ns.t.files` / `.partitions` / `.snapshots` — METADATA TABLE
    // faces (Iceberg's metadata tables / Delta's DESCRIBE surfaces as
    // queryable relations): the table's own manifests exposed to plain
    // SQL, so the operational questions a 100 TB admin asks — small-file
    // skew, layout completeness, commit cadence, per-partition balance —
    // are joins and aggregations, not bespoke tooling. Driver-computed
    // [[org.apache.spark.sql.connector.read.LocalScan]]s: manifests are
    // control-plane-sized by construction (files per SNAPSHOT, not rows).
    if (ident.namespace().length == 2 && MetadataFaces.contains(ident.name())) {
      val base = Identifier.of(ident.namespace().take(1), ident.namespace()(1))
      val bd = tableDir(base)
      if (bd == null || !isDir(bd)) throw new NoSuchTableException(base)
      return new MetadataFaceTable(bd, ident.name(), s"${qualified(base)}.${ident.name()}")
    }
    val d = tableDir(ident)
    if (d == null || !isDir(d)) throw new NoSuchTableException(ident)
    // CURRENT reads resolve through the latest manifest when one exists —
    // after an OPTIMIZE rewrite the directory holds both the compacted
    // files and the originals (retained for time travel), and only the
    // manifest knows which set is current. A table with no commits yet
    // (just created, or pre-versioning) falls back to the directory. The
    // resolved version number is the SNAPSHOT this table object reads; a
    // row-level rewrite through it commits against exactly that base
    // (optimistic concurrency).
    // the table's declarations are read ONCE, by resolveCurrent, and pinned
    // with its snapshot: every scan, write and property answer comes from them
    val (meta, snapshotVersion, snapshot) = resolveCurrent(d)
    val readPaths = snapshot.fold(Seq(d.toString))(_.files.map(f => new Path(d, f).toString))
    new VersionedStagingTable(
      parquetTable(qualified(ident), readPaths, meta.schema),
      parquetTable(qualified(ident), Seq(d.toString), meta.schema),
      d, meta, snapshotVersion, snapshot)
  }

  /** CURRENT-snapshot resolution shared by the plain read face and the
    * metadata faces: (record, version, manifest). No manifest = a table
    * with no commits, read from its directory; a commit-group pin at
    * version 0 reads as an empty manifest. The record is read AFTER the
    * head probe: a merge-on-read commit
    * marks its delta files unsorted in the record before it publishes its
    * manifest ([[GraftStagingCatalog.markUnsorted]]), so a record read after
    * the head lists every unsorted file the resolved snapshot can hold —
    * read before it, a commit landing in between would leave fresh delta
    * files in the snapshot that the ordering gate does not know about.
    */
  private def resolveCurrent(d: Path): (TableMeta, Long, Option[Manifest]) = {
    import GraftStagingCatalog._
    val head = headManifest(fs, d)
    val meta = TableMeta.read(fs, d)
    val (v, snapshot) = head match {
        case Some((v, mf)) =>
          // COMMIT-GROUP members resolve through their group's latest
          // published vector, not the table head (CommitGroups): member
          // commits beyond the pin are phase-1 work an unfinished
          // multi-table publication hasn't flipped visible yet — reading
          // them would be exactly the torn combination groups exist to
          // prevent. The pin is an override with head fallback (a missing
          // or vacuumed pin never bricks the table), and a pinned snapshot
          // also anchors row-level ops' optimistic base: DML racing an
          // in-flight group publication surfaces as a version conflict
          // instead of silently rewriting unpublished state.
          CommitGroups.pinnedVersion(fs, d, meta.group).filter(_ < v) match {
            case Some(pv) if pv <= 0L => (0L, Some(Manifest(0L)))
            case Some(pv) => readVersion(fs, d, pv).map(pv -> Some(_))
              .getOrElse(v -> Some(Manifest.read(fs, mf)))
            case None => (v, Some(Manifest.read(fs, mf)))
          }
        case None => (0L, None)
      }
    (meta, v, snapshot)
  }

  /** The writable face of a BRANCH (`cat.ns.t.branch_<name>`): reads the
    * branch head's snapshot (fork manifest until the branch commits),
    * appends land on the branch log — main is never consulted nor
    * advanced. Append-only by construction (capabilities + row-level
    * refusal): WAP ingest writes, audits read, publish/drop decide.
    */
  private def loadBranchTable(ident: Identifier, bname: String): Table = {
    import GraftStagingCatalog._
    val d = tableDir(ident)
    if (d == null || !isDir(d)) throw new NoSuchTableException(ident)
    val branches = readBranches(fs, d)
    if (!branches.contains(bname))
      throw new IllegalArgumentException(
        s"$catalogName: ${ident.name()} has no branch '$bname'" +
          (if (branches.isEmpty) " (no branches exist — CALL branch(ns, tbl, name))"
           else s" (branches: ${branches.keys.toSeq.sorted.mkString(", ")})"))
    // a branch forked at an empty table reads as an empty manifest
    val (v, snapshot) = readHead(fs, d, Some(bname)).getOrElse((0L, Manifest(0L)))
    val label = s"${qualified(ident)}@branch_$bname"
    val meta = TableMeta.read(fs, d)
    new VersionedStagingTable(
      parquetTable(label, snapshot.files.map(f => new Path(d, f).toString), meta.schema),
      parquetTable(label, Seq(d.toString), meta.schema),
      d, meta, v, Some(snapshot), branch = Some(bname))
  }

  // ---- time travel -------------------------------------------------------
  //
  // Every committed batch write (CTAS, INSERT INTO) also records a version
  // manifest `_graft_versions/v<N>.json` = {"ts": <commit millis>, "files":
  // [<current file names at commit>]} — written AFTER the delegate committer
  // succeeds, so an aborted job leaves no version. INSERT OVERWRITE (r8)
  // replaces purely by manifest arithmetic and OPTIMIZE
  // rewrites never delete, so every manifest's file set remains readable
  // until VACUUM explicitly drops its version — what makes `VERSION AS OF`
  // sound without Delta-style tombstone tracking. `SELECT … FROM
  // graft_stage.ns.t VERSION AS OF 2` resolves through loadTable(ident,
  // version); `TIMESTAMP AS OF` picks the latest manifest at-or-before the
  // requested time. The reproducible-training story: a run pins the corpus
  // version it trained on and can re-read that exact file set while
  // ingestion keeps appending. Maintenance (file compaction + version
  // retention) lives in [[StagingMaintenance]].

  private def manifestTable(ident: Identifier, d: Path, mf: Path, label: String,
      version: Long): Table = {
    import GraftStagingCatalog._
    // read only when the version needs it: no schema era covers it, or a
    // scan is built (deletion vectors, the stats flag, partition specs)
    lazy val meta = TableMeta.read(fs, d)
    val m = Manifest.read(fs, mf)
    val pt = parquetTable(s"${qualified(ident)}$label",
      m.files.map(f => new Path(d, f).toString),
      schemaAtVersion(fs, d, version, meta))
    // a pinned MOR version reads under ITS deletion vectors — without this,
    // time travel would resurrect rows a MERGE had deleted by that version
    new PinnedTable(pt, d, meta, m.dvs)
  }

  /** Read-only face of a time-travel-pinned version: the delegate's parquet
    * stack behind the same zone-map scan the current face uses, so a pinned
    * read prunes by the table's stats and ships the session's one Hadoop
    * configuration ([[ScanConf]]). A merge-on-read version's deletion
    * vectors apply in the scan: keyed DVs filter on the merge key, position
    * DVs on a row-index-widened delegate (pushdown kept, as on the current
    * face).
    */
  private class PinnedTable(delegate: ParquetTable, dir: Path, meta: => TableMeta,
      dvNames: Seq[String]) extends Table with SupportsRead {
    private val tableFs = fs
    private lazy val mode =
      if (dvNames.isEmpty) DeletionVectors.MorMode.Off else meta.mor
    private lazy val keyField = mode match {
      case DeletionVectors.MorMode.Key(k) =>
        delegate.schema.fields.find(_.name.equalsIgnoreCase(k))
      case _ => None
    }
    private lazy val deletes =
      if (mode == DeletionVectors.MorMode.Off) DeletionVectors.Deletes.none
      else DeletionVectors.Deletes.load(tableFs, dir, mode, dvNames)
    override def name(): String = delegate.name
    override def schema(): StructType = delegate.schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val posCapable = mode == DeletionVectors.MorMode.Pos &&
        delegate.userSpecifiedSchema.isDefined
      val scanSrc =
        if (!posCapable) delegate
        else delegate.copy(userSpecifiedSchema = delegate.userSpecifiedSchema.map(
          s => StructType(s.fields :+ DeletionVectors.RowIdxField)))
      scanSrc.newScanBuilder(options) match {
        case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
          val (stats, nulls) = StagingMaintenance.readStatsFor(tableFs, dir, meta.stats)
          val keyed = keyField.isDefined
          new ZoneMapScanBuilder(fb, stats, nulls,
            dir.toString,
            () => StagingMaintenance.readBloomsFor(tableFs, dir),
            if (keyed) deletes.inline else Map.empty,
            keyField,
            meta.partSpecsAll,
            posDvs = if (mode == DeletionVectors.MorMode.Pos) deletes.pos
                     else DeletionVectors.PosDvs.empty,
            posIdxCapable = posCapable,
            keyRuns = if (keyed) deletes.keyRuns else Nil)
        case other => other
      }
    }
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    import GraftStagingCatalog._
    // metadata faces time-travel too: `t.files VERSION AS OF 3` is that
    // version's manifest as a relation (the what-did-this-snapshot-read
    // audit); `.snapshots` pins to the history up to the version
    if (ident.namespace().length == 2 && MetadataFaces.contains(ident.name())) {
      val base = Identifier.of(ident.namespace().take(1), ident.namespace()(1))
      val bd = tableDir(base)
      if (bd == null || !isDir(bd)) throw new NoSuchTableException(base)
      val pv =
        try version.stripPrefix("v").toLong
        catch {
          case _: NumberFormatException =>
            readTags(fs, bd).getOrElse(version, throw new IllegalArgumentException(
              s"$catalogName: invalid version '$version' for ${base.name()}.${ident.name()}"))
        }
      require(probeManifest(fs, bd, pv).isDefined,
        s"$catalogName: ${base.name()} has no version $pv (vacuumed or never committed)")
      return new MetadataFaceTable(bd, ident.name(),
        s"${qualified(base)}.${ident.name()}@v$pv", pinned = Some(pv))
    }
    val d = tableDir(ident)
    if (d == null || !isDir(d)) throw new NoSuchTableException(ident)
    // numeric version first (`VERSION AS OF 2` / 'v2'), then TAG lookup
    // (`VERSION AS OF 'baseline'`) — tag names may not look numeric, which
    // the tag procedure enforces at creation
    val v =
      try version.stripPrefix("v").toLong
      catch {
        case _: NumberFormatException =>
          readTags(fs, d).getOrElse(version, {
            val tags = readTags(fs, d).keys.toSeq.sorted
            throw new IllegalArgumentException(
              s"$catalogName: invalid version '$version' for ${ident.name()} " +
                "(expected a commit number, e.g. VERSION AS OF 2, or a tag" +
                s"${if (tags.isEmpty) "; no tags exist" else s"; tags: ${tags.mkString(", ")}"})")
          })
      }
    val mf = new Path(new Path(d, VersionsDir), s"v$v.json")
    if (!isFile(fs, mf)) {
      val have = versionManifests(fs, d).map(_._1)
      throw new IllegalArgumentException(
        s"$catalogName: ${ident.name()} has no version $v " +
          s"(available: ${if (have.isEmpty) "none" else have.mkString(", ")})")
    }
    manifestTable(ident, d, mf, s"@v$v", v)
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    import GraftStagingCatalog._
    val d = tableDir(ident)
    if (d == null || !isDir(d)) throw new NoSuchTableException(ident)
    val millis = timestamp / 1000L // Spark passes microseconds since epoch
    // checkpointed (version, ts) history first: bounded resolution, no
    // O(versions) manifest reads; a missing/legacy checkpoint (or a version
    // vacuumed between the history read and the probe) falls back to the
    // listing
    val viaCkpt: Option[(Long, Path)] = boundedHistory(fs, d).flatMap { h =>
      h.takeWhile(_._2 <= millis).lastOption
        .flatMap { case (hv, _) => probeManifest(fs, d, hv).map(hv -> _) }
    }
    val at = viaCkpt.orElse {
      versionManifests(fs, d).takeWhile { case (_, f) => Manifest.read(fs, f).ts <= millis }
        .lastOption
    }
    val (v, mf) = at.getOrElse(throw new IllegalArgumentException(
      s"$catalogName: ${ident.name()} has no committed version at or before " +
        s"timestamp ${millis}ms"))
    manifestTable(ident, d, mf, s"@v$v", v)
  }

  /** A read-only METADATA FACE of a staging table (`cat.ns.t.files` /
    * `.partitions` / `.snapshots`): the manifest's control-plane view as a
    * queryable relation, computed fresh at scan build on the driver.
    *
    *  - `files`: one row per CURRENT-snapshot data file — (file,
    *    size_bytes, partition), partition = the layout dir the file lives
    *    in (NULL for flat files). Resolution honors commit-group pins the
    *    same way the data read does ([[resolveCurrent]]).
    *  - `partitions`: files grouped by layout dir — the balance/skew audit.
    *  - `snapshots`: one row per retained version — (version, kind,
    *    committed_at, n_files). Reads every retained manifest by design:
    *    this is the explicit audit surface, not the head-resolution path
    *    the checkpoint accelerates; VACUUM bounds its length.
    */
  private class MetadataFaceTable(dir: Path, face: String, label: String,
      pinned: Option[Long] = None)
      extends Table with SupportsRead {
    private val tableFs = fs
    override def name(): String = label
    override def schema(): StructType = GraftStagingCatalog.MetadataFaces.schemaOf(face)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan = {
          val rs = faceRows(dir, face, pinned)
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = rs
            override def readSchema(): StructType =
              GraftStagingCatalog.MetadataFaces.schemaOf(face)
            override def description(): String = label
          }
        }
      }
  }

  private def faceRows(d: Path, face: String,
      pinned: Option[Long] = None): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import GraftStagingCatalog._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def fileEntries(): Seq[(String, Long, String)] = {
      val files = pinned match {
        case Some(v) => readVersion(fs, d, v).map(_.files)
          .getOrElse(throw new IllegalArgumentException(
            s"$d has no version $v (vacuumed between resolution and scan)"))
        case None => resolveCurrent(d)._3.fold(dataFiles(fs, d))(_.files)
      }
      files.sorted.map { f =>
        // a concurrent VACUUM can remove a file between manifest
        // resolution and this stat — surface the race as a catalog-level
        // error (the pinned branch above already names it) rather than a
        // raw FileNotFoundException out of a plain SELECT
        val len =
          try fs.getFileStatus(new Path(d, f)).getLen
          catch {
            case _: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"$d: data file $f vanished between manifest resolution and " +
                  "the metadata-face scan (concurrent VACUUM) — re-run the query")
          }
        val i = f.lastIndexOf('/')
        (f, len, if (i > 0) f.substring(0, i) else null)
      }
    }
    face match {
      case "files" =>
        fileEntries().map { case (f, len, part) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(f), len,
            if (part == null) null else UTF8String.fromString(part)))
            : org.apache.spark.sql.catalyst.InternalRow
        }.toArray
      case "partitions" =>
        fileEntries().groupBy(_._3).toSeq
          .sortBy { case (p, _) => if (p == null) "" else p }
          .map { case (p, fsOfP) =>
            new GenericInternalRow(Array[Any](
              if (p == null) null else UTF8String.fromString(p),
              fsOfP.size, fsOfP.map(_._2).sum))
              : org.apache.spark.sql.catalyst.InternalRow
          }.toArray
      case "snapshots" =>
        versionManifests(fs, d)
          .filter { case (v, _) => pinned.forall(v <= _) }
          .map { case (v, mf) =>
            val m = Manifest.read(fs, mf)
            new GenericInternalRow(Array[Any](v,
              UTF8String.fromString(m.kind), m.ts * 1000L, m.files.size))
              : org.apache.spark.sql.catalyst.InternalRow
          }.toArray
      case other => throw new IllegalArgumentException(s"unknown metadata face $other")
    }
  }

  /** Wraps the read and write delegates so every committed batch write also
    * records a version manifest. Deliberately NOT a `FileTable`: that keeps
    * INSERTs on the pure DSv2 write path (Spark's V1 fallback rule matches
    * only FileTable relations), so the commit hook below sees every write.
    * Reads go through the manifest-pinned delegate; writes target the table
    * DIRECTORY (new part files land beside the old). The DATA layer is
    * append-only — even INSERT OVERWRITE never deletes a file, it replaces
    * by manifest arithmetic — the invariant that keeps old versions
    * readable until VACUUM.
    */
  private class VersionedStagingTable(readDelegate: ParquetTable,
      writeDelegate: ParquetTable, dir: Path, meta: TableMeta, snapshotVersion: Long,
      snapshot: Option[Manifest], branch: Option[String] = None)
      extends Table with SupportsRead with SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDelete
      with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
      with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
    private val tableFs = fs
    /** The snapshot's files; None = a table with no commits, read from its
      * directory.
      */
    private val snapshotFiles = snapshot.map(_.files)
    private val dvNames = snapshot.fold(Seq.empty[String])(_.dvs)
    /** Row lineage declared at CREATE ([[RowLineage]]): exposes the
      * `_row_id` metadata column (`SELECT _row_id FROM t` in plain SQL) and
      * routes row-level rewrites through the id-preserving write path.
      */
    private val lineageOn = meta.rowLineage
    /** This snapshot's per-file id bases (empty off-lineage). */
    private val lineageEntries = snapshot.fold(Map.empty[String, RowLineage.Entry])(_.rowIds)
    /** This table's merge-on-read declaration. */
    private val morMode = meta.mor
    /** Keyless merge-on-read (position-delete) mode for this table. */
    private lazy val morPosOn = morMode == DeletionVectors.MorMode.Pos
    override def metadataColumns()
        : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
      val lin: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
        if (lineageOn) Array(RowLineage.metaColumn) else Array.empty
      // keyless-MOR tables expose their (file, ordinal) position row id
      // (r13) — the SupportsDelta rowId of the position-delta rewrite and
      // a plain-SQL provenance surface
      if (morPosOn)
        lin ++ Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
          DeletionVectors.fileMetaColumn, DeletionVectors.posMetaColumn)
      else lin
    }
    /** Merge-on-read declaration: the merge-key field, when the table was
      * created with `'graft.write.mode'='merge-on-read'`. Reported
      * non-nullable (as declared at CREATE — [[schema]] restores what
      * FileTable's as-nullable normalization strips), which Spark's delta
      * planning requires of row-ID attributes.
      */
    private lazy val morKeyField: Option[org.apache.spark.sql.types.StructField] =
      morMode match {
        case DeletionVectors.MorMode.Key(k) =>
          readDelegate.schema.fields.find(_.name.equalsIgnoreCase(k))
            .map(_.copy(nullable = false))
        case _ => None
      }
    /** Deletes in force at this snapshot (lazy: non-MOR tables and
      * DV-free versions never pay the sidecar IO).
      */
    private lazy val deletes: DeletionVectors.Deletes =
      if (dvNames.isEmpty || morMode == DeletionVectors.MorMode.Off)
        DeletionVectors.Deletes.none
      else DeletionVectors.Deletes.load(tableFs, dir, morMode, dvNames)
    override def name(): String = readDelegate.name
    override def schema(): StructType = morKeyField match {
      case Some(key) => StructType(readDelegate.schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(key.name)) f.copy(nullable = false) else f))
      case None => readDelegate.schema
    }
    override def capabilities(): util.Set[TableCapability] = {
      val c = new util.HashSet[TableCapability](readDelegate.capabilities())
      if (branch.isEmpty) {
        c.add(TableCapability.OVERWRITE_BY_FILTER) // INSERT OVERWRITE (replace-partition)
        c.add(TableCapability.TRUNCATE)
        c.add(TableCapability.MICRO_BATCH_READ) // readStream.table tails the commit log
      }
      c
    }
    override def partitioning(): Array[Transform] = {
      import org.apache.spark.sql.connector.expressions.Expressions
      meta.partSpecs.map {
        case GraftStagingCatalog.IdentityPart(c)  => Expressions.identity(c)
        case GraftStagingCatalog.DaysPart(c)      => Expressions.days(c)
        case GraftStagingCatalog.BucketPart(n, c) => Expressions.bucket(n, c)
      }.toArray
    }
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String](readDelegate.properties())
      meta.check.foreach(m.put("check", _))
      if (meta.sortOrder.nonEmpty) m.put("graft.sort-order", meta.sortOrder.mkString(","))
      if (meta.autoAnalyze.nonEmpty) m.put("graft.auto-analyze", meta.autoAnalyze.mkString(","))
      if (meta.targetFileBytes > 0L)
        m.put("graft.target-file-size", meta.targetFileBytes.toString)
      meta.autoFold.foreach(f => m.put("graft.delta.auto-fold-fraction", f.toString))
      // partition evolution introspection: the spec families the pruner
      // still honors for old-layout files
      if (meta.retiredPartition.nonEmpty)
        m.put("graft.partition.retired", meta.retiredPartition.mkString(","))
      m
    }
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // ACTIVE position DVs: scan through a delegate whose schema carries
      // Spark's generated `_tmp_metadata_row_index` column — the parquet
      // readers fill it with TRUE file ordinals (row-group-skip-aware), so
      // the scan keeps full predicate pushdown while the readers drop
      // deleted (file, ordinal) rows and project the column back off. The
      // pre-r11 whole-file sequential-counter read (which had to surrender
      // ALL pushdown) remains only on the row-level-op path, which pushes
      // nothing by design.
      val posCapable = (deletes.pos.nonEmpty || morPosOn) &&
        readDelegate.userSpecifiedSchema.isDefined
      // lineage tables widen the delegate with the physical-id and
      // generated-row-index carriers so a `SELECT _row_id` prune can
      // request them; the row-index carrier ALSO serves position-DV
      // filtering, so lineage + keyless MOR share one widened schema (r12)
      val lineageCapable = lineageOn && readDelegate.userSpecifiedSchema.isDefined
      val scanSrc =
        if (lineageCapable)
          readDelegate.copy(userSpecifiedSchema = readDelegate.userSpecifiedSchema.map(
            s => StructType(s.fields :+ RowLineage.PhysField :+ DeletionVectors.RowIdxField)))
        else if (posCapable)
          readDelegate.copy(userSpecifiedSchema = readDelegate.userSpecifiedSchema.map(
            s => StructType(s.fields :+ DeletionVectors.RowIdxField)))
        else readDelegate
      val inner = scanSrc.newScanBuilder(options)
      // Zone-map integration with the PLAIN scan path: when the table has a
      // stats sidecar (ANALYZE ran), wrap the builder so pushed filters are
      // additionally consulted against the per-file [min,max] ranges and
      // non-intersecting files are dropped from the planned splits — plain
      // `SELECT … WHERE` gets file skipping without the prunedScan side API.
      val (stats, nulls) = StagingMaintenance.readStatsFor(tableFs, dir, meta.stats)
      val dvOn = dvNames.nonEmpty && morKeyField.isDefined
      // non-identity partition transforms prune from the file PATH alone —
      // the scan wrapper earns its keep even with no stats sidecar.
      // Pruning consults CURRENT ++ RETIRED specs (partition-spec
      // evolution: each file is judged by the spec family its path
      // carries); the SPJ candidate is the CURRENT spec only, and only
      // when no retired spec shares its layout prefix (a bucket-count
      // re-spec would otherwise alias old residue dirs into the new
      // grouping).
      val specs = meta.partSpecsAll
      val spjCandidate: Option[(GraftStagingCatalog.PartSpec,
          org.apache.spark.sql.types.DataType)] =
        meta.partSpecs match {
          case Seq(sp @ (_: GraftStagingCatalog.BucketPart |
                         _: GraftStagingCatalog.IdentityPart))
            if specs.forall(s => s == sp || s.dirPrefix != sp.dirPrefix) =>
            readDelegate.schema.fields.find(_.name.equalsIgnoreCase(sp.col))
              .map(f => (sp, f.dataType))
          case _ => None
        }
      // the wrapper is ALWAYS applied (even with nothing to prune by):
      // besides zone maps it is the table's streaming face — a fresh,
      // never-ANALYZEd table must still serve readStream.table(…)
      inner match {
        case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
          new ZoneMapScanBuilder(fb, stats, nulls,
            dir.toString,
            () => StagingMaintenance.readBloomsFor(tableFs, dir),
            if (dvOn) deletes.inline else Map.empty,
            if (dvOn) morKeyField else None,
            specs,
            scala.jdk.CollectionConverters.MapHasAsScala(options.asCaseSensitiveMap())
              .asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
              .toMap,
            deletes.pos,
            posIdxCapable = posCapable,
            lineage = if (lineageCapable) Some(lineageEntries) else None,
            spjCandidate = spjCandidate,
            // ordering is only claimable when EVERY current file is sorted
            // by the declared order — true for non-MOR tables (appends are
            // planner-sorted, rewrites re-sort; a MOR table's delta-written
            // insert files carry no such guarantee). PROVENANCE GATE
            // (r14, advice r13): a sort order SET by ALTER on a non-empty
            // table governs only files written after it — withdraw the
            // report for pre-declaration snapshots and for any snapshot
            // still holding a pre-declaration file (branch faces stay
            // conservative: their version numbering is the branch log's,
            // not main's, so the `since` comparison is meaningless there).
            sortedBy = {
              // r14 readmission: MOR tables are no longer excluded
              // wholesale — their delta-written files ride the provenance
              // marker (markUnsorted at both delta commits), every other
              // write path re-sorts, so the snapshot-intersection gate is
              // exact for them too. DV'd snapshots never SPJ-group, so no
              // report escapes through a suppressed read.
              val so = meta.sortOrder
              if (so.isEmpty) Nil
              else meta.sortUnproven match {
                case None =>
                  // upgrade guard: an unmarked delta-kind history on a MOR
                  // table predates the marker — withdraw (see
                  // hasDeltaKindHistory)
                  if ((morKeyField.isDefined || morPosOn) &&
                      GraftStagingCatalog.hasDeltaKindHistory(tableFs, dir)) Nil
                  else so
                case Some((since, unproven)) =>
                  if (branch.isEmpty && snapshotVersion >= since &&
                      snapshotFiles.exists(_.forall(f => !unproven(f)))) so
                  else Nil
              }
            },
            // r14 distributed equality-delete bins in force at this
            // snapshot (executor-resolved; see DeletionVectors.KeyRuns)
            keyRuns = if (dvOn) deletes.keyRuns else Nil)
        case other => other
      }
    }

    // `DELETE FROM <catalog table> WHERE <pred>` — copy-on-write row-level
    // delete, the lakehouse shape: the CURRENT file set is rewritten
    // without the matching rows and committed as a NEW version
    // (kind=delete); the original files stay on disk, so every earlier
    // `VERSION AS OF` still reads the pre-delete table until VACUUM
    // reclaims it. Object-store reality: files are immutable, deletion is
    // replacement — the same rule OPTIMIZE already follows for layout.
    // Only predicates expressible as V1 source filters are accepted
    // (canDeleteWhere); Spark raises a clear error otherwise.
    override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      // merge-on-read tables route EVERY row-level op through the delta
      // path: a keyed DELETE there writes one deletion vector instead of a
      // copy-on-write file rewrite. Branch faces take DML through the
      // row-level framework too (r11) — the metadata-only deleteWhere path
      // resolves "current files" from MAIN's head, so it must not answer
      // for a branch.
      branch.isEmpty && morKeyField.isEmpty &&
        filters.forall(f => GraftStagingCatalog.filterToColumn(f).isDefined)

    override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
      if (morPosOn)
        GraftStagingCatalog.posDeleteWhere(tableFs, dir, meta, filters, snapshotVersion,
          snapshotFiles, dvNames)
      else GraftStagingCatalog.deleteWhere(tableFs, dir, meta, filters, snapshotVersion)

    // SQL UPDATE / MERGE INTO (and DELETE with predicates the metadata path
    // can't translate) via Spark's GROUP-BASED row-level operation
    // framework: Spark reads the affected groups through this operation's
    // scan, computes the full replacement rows, and writes them back
    // through the write builder. The operation instance is SHARED between
    // its scan(s) and its write (that is the framework's design —
    // RowLevelOperationTable hands the same operation to both), which is
    // what makes FILE-GRANULAR grouping possible: the scan records exactly
    // which files it planned (after zone-map group pruning), and the commit
    // replaces ONLY those files, carrying every unscanned file into the new
    // version BY NAME. Old files stay on disk, so every pre-rewrite version
    // remains pinnable until VACUUM — the same copy-on-write contract as
    // the metadata DELETE path. The commit carries the snapshot version
    // this table resolved as its base: if the table advanced past it (a
    // racing append or rewrite committed), the commit ABORTS with a
    // conflict instead of replacing the current set from a stale snapshot —
    // the classic lost-update guard.
    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
      new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
        override def build(): org.apache.spark.sql.connector.write.RowLevelOperation = {
          // BRANCH faces take full DML (r11 — Iceberg-branch parity): the
          // WAP pipeline can MERGE-dedup or DELETE-fix the candidate corpus
          // ON the branch before publish instead of publishing dirty. The
          // operation reads the branch snapshot (readDelegate is built from
          // the branch head) and its commit versions in the BRANCH log.
          morKeyField match {
            case Some(key) =>
              // merge-on-read: delta writes + deletion vectors, zero rewrites
              new StagingDeltaOperation(info, readDelegate, writeDelegate, tableFs,
                dir, meta, snapshotVersion, snapshotFiles, key, dvNames, deletes, branch,
                lineage = if (lineageOn) Some(lineageEntries) else None)
            case None if morPosOn && !meta.updateCopyOnWrite =>
              // keyless merge-on-read (r13): UPDATE/MERGE (and DELETEs the
              // metadata path could not translate) are POSITION deltas —
              // replaced rows become run-encoded (file, ordinal) sidecars
              // written by the executors, replacement rows become ordinary
              // new files, nothing is rewritten. 'graft.update.mode' =
              // 'copy-on-write' (r14) opts a bulk statement out — a
              // 90%-of-table UPDATE rewrites better than it deltas
              new StagingPosDeltaOperation(info, readDelegate, writeDelegate, tableFs,
                dir, meta, snapshotVersion, snapshotFiles, dvNames, deletes.pos, branch,
                lineage = if (lineageOn) Some(lineageEntries) else None)
            case None =>
              new StagingRowLevelOperation(info, readDelegate, writeDelegate, tableFs,
                dir, meta, snapshotVersion, snapshotFiles, dvNames, deletes.pos, branch,
                lineage = if (lineageOn) Some(lineageEntries) else None)
          }
        }
      }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val inner = writeDelegate.newWriteBuilder(info)
      // Exactly-once streaming appends: a writer may tag the commit with
      // its micro-batch id (`.option("graft.batch-id", id)`). The id is
      // recorded INSIDE the version manifest — one create-exclusive file
      // write — so "data committed" and "batch recorded" cannot tear
      // apart, and a crash-redelivered batch is detected and skipped (its
      // staged task files are aborted away). This is the catalog-sink
      // analogue of the SegmentedIndex's per-batchId segments.
      val batchId = Option(info.options.get("graft.batch-id")).map(_.toLong)
      // CHECK constraint: compiled ONCE on the driver against the write
      // schema, enforced per row inside the write tasks
      val check = meta.check.map(c =>
        (c, CheckConstraint.compile(SparkSession.active, c, info.schema())))
      // INSERT OVERWRITE (SupportsOverwrite): the statement's delete-rows
      // phase and its insert phase commit as ONE manifest write — survivors
      // of the delete (computed with the same zone-map three-way split
      // DELETE uses: untouched carried by name, fully-matching files
      // dropped metadata-only, partial files rewritten) plus the fresh
      // files become the new version atomically. The inner parquet write
      // is NEVER put into overwrite mode — replacement is pure manifest
      // arithmetic, old files stay pinnable until VACUUM. On a partitioned
      // table `INSERT OVERWRITE … PARTITION (k=…)` is therefore the
      // classic replace-partition ingest: untouched partitions carry by
      // name, the target partition's files drop metadata-only.
      new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
        private var overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
        override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
            : WriteBuilder = {
          // an all-AlwaysTrue array is TRUNCATE — normalize to the empty
          // array deleteWhere treats as the metadata-only full drop
          overwriteFilters = Some(
            if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
              Array.empty
            else filters)
          this
        }
        // Declared sort order ('graft.sort-order'): the Write asks Spark
        // for an ORDERED distribution, so the planner range-partitions and
        // sorts the incoming rows before any writer runs — appended files
        // get disjoint [min,max] on the sort key with no OPTIMIZE pass.
        // Neutral defaults (unspecified distribution, empty ordering) when
        // the table declares none: Spark then adds no exchange and no sort.
        override def build(): Write = new Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          import org.apache.spark.sql.connector.{distributions, expressions => v2x}
          private val v2Order: Array[v2x.SortOrder] = meta.sortOrder.map(c =>
            v2x.Expressions.sort(v2x.Expressions.column(c),
              v2x.SortDirection.ASCENDING)).toArray
          override def requiredDistribution(): distributions.Distribution =
            if (v2Order.isEmpty) distributions.Distributions.unspecified()
            else distributions.Distributions.ordered(v2Order)
          override def requiredOrdering(): Array[v2x.SortOrder] = v2Order
          // 'graft.target-file-size': AQE sizes the ordered-write shuffle
          // partitions toward the declared bytes (0 = Spark's default).
          // INERT without a declared sort order — Spark rejects an advisory
          // size on an unspecified distribution, so a table that declares
          // (or ALTERs to) a size without an order must keep inserting
          // rather than throw; the size takes effect when an order exists.
          override def advisoryPartitionSizeInBytes(): Long =
            if (v2Order.isEmpty) 0L
            else meta.targetFileBytes
          private val innerWrite = inner.build()
          override def description(): String = innerWrite.description()
          override def toBatch: BatchWrite = new BatchWrite {
            private val d = innerWrite.toBatch
            override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
              val base = d.createBatchWriterFactory(info)
              check.fold(base) { case (text, bound) =>
                new CheckedWriterFactory(base, bound, text)
              }
            }
            override def useCommitCoordinator(): Boolean = d.useCommitCoordinator()
            override def onDataWriterCommit(message: WriterCommitMessage): Unit =
              d.onDataWriterCommit(message)
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              // exactly-once replay check against the ledger of the FACE
              // being written: a branch append records its batchId in the
              // BRANCH log, so the replay probe must union it in — a main-
              // only probe would re-commit a replayed branch batch and the
              // duplicate rows would later publish to main
              // (consulted only for a tagged batch: eta-expanding
              // `ledger.contains` would read the ledger for every INSERT)
              if (batchId.exists(b =>
                  GraftStagingCatalog.committedBatchIdsFor(tableFs, dir, branch).contains(b))) {
                d.abort(messages) // replay of a committed batch: discard staged files
                return
              }
              // Snapshot the data files BEFORE the committer moves this
              // job's task files in: the manifest then records exactly this
              // commit's delta. Files from a crashed earlier job (committer
              // succeeded, manifest write died) stay orphaned — invisible
              // to manifest-pinned reads, reclaimed by VACUUM — instead of
              // being silently absorbed into a later version, which would
              // duplicate rows when the failed statement is retried.
              val before = GraftStagingCatalog.dataFiles(tableFs, dir).toSet
              d.commit(messages)
              overwriteFilters match {
                case Some(filters) =>
                  // fresh files FIRST (filesAfterDelete may move rewritten
                  // remainders into the dir — they must not be counted as
                  // this statement's inserts)
                  val fresh = GraftStagingCatalog.dataFiles(tableFs, dir).filterNot(before)
                  // legacy un-versioned table: pre-existing data = the
                  // PRE-insert listing, never this statement's fresh files
                  val (kept, rewritten) = GraftStagingCatalog.filesAfterDelete(tableFs, dir, meta,
                    filters, noManifestCurrent = Some(before.toSeq.sorted))
                  // deletion vectors for CARRIED files stay in force
                  // (rewritten files' entries become inert — their files
                  // are no longer current); OPTIMIZE folds them away.
                  // Lineage: the rewritten remainder carries materialized
                  // ids; the overwrite's own fresh files are NEW rows and
                  // get fresh virtual bases by default.
                  GraftStagingCatalog.writeExplicitManifest(tableFs, dir, meta, kept ++ fresh,
                    kind = "overwrite", expectedBase = Some(snapshotVersion),
                    dvs = dvNames, matFiles = rewritten)
                  ()
                case None =>
                  // only a SUCCESSFUL commit becomes a version — on the
                  // BRANCH log when this is a branch face (WAP ingest)
                  GraftStagingCatalog.writeCommitManifest(tableFs, dir, meta, before, batchId,
                    branch)
              }
              // commit-time zone-map maintenance (outside the manifest
              // monitor; branch files aren't in main's current set, so the
              // branch face defers to publish-then-next-trigger). BEST
              // EFFORT by contract: the manifest is already committed, so
              // a stats-harvest failure must never fail the statement (a
              // retried INSERT would double rows) — stats are advisory and
              // self-heal at the next trigger.
              if (branch.isEmpty) {
                val dk = tableFs.makeQualified(dir).toString
                try {
                  StagingMaintenance.autoAnalyze(SparkSession.active, tableFs, dir, meta)
                  ZoneMapScan.autoAnalyzeFailures.remove(dk)
                  ()
                } catch { case e: Exception =>
                  // count CONSECUTIVE failures: a persistently-failing
                  // harvest silently degrades every future scan to
                  // unpruned — surfaced via `CALL detail`
                  val n = ZoneMapScan.autoAnalyzeFailures.merge(dk, java.lang.Long.valueOf(1L),
                    (a: java.lang.Long, b: java.lang.Long) =>
                      java.lang.Long.valueOf(a.longValue + b.longValue))
                  System.err.println(
                    s"[graft] auto-analyze after commit on $dir failed " +
                      s"($n consecutive; stats will backfill at the next trigger): $e")
                }
              }
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit =
              d.abort(messages)
          }
        }
      }
    }
  }

  /** Partitioned tables (identity transforms only): the partition columns
    * are DECLARED here (in the table record) and the layout
    * is applied by maintenance — ingest lands files flat (small-commit
    * reality on an object store), and `OPTIMIZE … partitionBy` beds the
    * current set into `k=v/` directories (the reference's readdir
    * namespace). Partition VALUES stay IN the data files (unlike Hive
    * layout, which strips them): reads never depend on directory
    * structure, a mixed flat+partitioned file set stays readable
    * mid-migration, and zone maps see each partitioned file as a CONSTANT
    * on the partition column — which makes partition pruning and
    * metadata-only partition DELETE exact through the existing stats
    * machinery rather than a parallel partition-spec layer.
    */
  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      def oneCol: String = {
        require(t.references().length == 1 && t.references()(0).fieldNames().length == 1,
          s"$catalogName: partition transform ${t.name()} takes one top-level column")
        val c = t.references()(0).fieldNames()(0)
        schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName: partition column $c is not in the table schema")).name
      }
      t.name().toLowerCase match {
        case "identity" => GraftStagingCatalog.IdentityPart(oneCol).render
        case "days" =>
          val c = oneCol
          val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
          if (dt != org.apache.spark.sql.types.TimestampType &&
              dt != org.apache.spark.sql.types.DateType)
            throw new IllegalArgumentException(
              s"$catalogName: days() partition column $c must be TIMESTAMP or DATE, got $dt")
          GraftStagingCatalog.DaysPart(c).render
        case "bucket" =>
          val c = oneCol
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] => l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"$catalogName: bucket() needs a literal bucket count"))
          require(n > 0, s"$catalogName: bucket count must be positive, got $n")
          val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
          dt match {
            case org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => ()
            case other => throw new IllegalArgumentException(
              s"$catalogName: bucket() partition column $c must be integral, got $other")
          }
          GraftStagingCatalog.BucketPart(n, c).render
        case other =>
          throw new UnsupportedOperationException(
            s"$catalogName: unsupported partition transform $other " +
              "(supported: identity, days, bucket)")
      }
    }
    requireNs(ident.namespace())
    val d = tableDir(ident)
    if (isDir(d)) throw new TableAlreadyExistsException(ident)
    // every declaration is validated NOW (a typo fails the CREATE, not the
    // first insert) by the same per-key validator ALTER uses; an absent or
    // blank property declares nothing
    def declared[A](key: String)(parse: String => A): Option[A] =
      Option(properties.get(key)).map(_.trim).filter(_.nonEmpty).map(parse)
    // CHECK constraint: validated against the declared schema, enforced on
    // every write path
    val check = declared("check")(checkOf(_, schema))
    // MERGE-ON-READ declaration: 'graft.write.mode'='merge-on-read' routes
    // row-level ops through deletion vectors ([[DeletionVectors]]); the
    // mandatory 'graft.merge-keys' names the row-identifier column (UNIQUE
    // per row — the CDC primary key; equality-delete contract).
    val mor: DeletionVectors.MorMode =
      Option(properties.get("graft.write.mode")).map(_.trim.toLowerCase) match {
        case Some("merge-on-read")
            if !Option(properties.get("graft.merge-keys")).exists(_.trim.nonEmpty) =>
          // KEYLESS merge-on-read → POSITION-delete mode (raw event ingest
          // with no natural row identifier): row-level DELETEs record
          // (file, row position) sidecars, zero rewrites
          DeletionVectors.MorMode.Pos
        case Some("merge-on-read") =>
          val k = Option(properties.get("graft.merge-keys")).map(_.trim).filter(_.nonEmpty)
            .getOrElse(throw new IllegalArgumentException(
              s"$catalogName: merge-on-read tables require 'graft.merge-keys' " +
                "(the unique row-identifier column)"))
          if (k.contains(","))
            throw new UnsupportedOperationException(
              s"$catalogName: a single merge-key column is supported, got '$k'")
          val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
            throw new IllegalArgumentException(
              s"$catalogName: merge-key column $k is not in the table schema"))
          f.dataType match {
            case org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.StringType => ()
            case other => throw new UnsupportedOperationException(
              s"$catalogName: merge-key must be INT/BIGINT/STRING, got $other")
          }
          // Spark's delta planning requires non-nullable row IDs — and a
          // nullable row identifier is a modeling bug anyway
          if (f.nullable) throw new IllegalArgumentException(
            s"$catalogName: merge-key column $k must be declared NOT NULL")
          DeletionVectors.MorMode.Key(f.name)
        case Some(other) if other != "copy-on-write" =>
          throw new IllegalArgumentException(
            s"$catalogName: unknown graft.write.mode '$other' " +
              "(copy-on-write | merge-on-read)")
        case _ => DeletionVectors.MorMode.Off
      }
    // ROW LINEAGE declaration: 'graft.row-lineage'='true' — every commit
    // manifest allocates per-file id bases ([[RowLineage]]); rewrites that
    // must preserve identity materialize. Declared at CREATE only (the
    // contract covers every version from v1; enabling mid-life would leave
    // id-less history). Combinable with merge-on-read since r12: DV
    // commits carry id bases verbatim (deletes move no rows), reads
    // resolve ids through the combined DV+lineage reader, and the delta
    // write path carries each updated row's id as a metadata projection —
    // a MOR UPDATE/MERGE preserves identity, never re-identifies.
    val rowLineage: Boolean =
      Option(properties.get("graft.row-lineage")).map(_.trim.toLowerCase) match {
        case Some("true")         => true
        case Some("false") | None => false
        case Some(other) => throw new IllegalArgumentException(
          s"$catalogName: graft.row-lineage must be true|false, got '$other'")
      }
    // 'graft.checkpoint-interval'=<n>: checkpoint the version log every nth
    // commit (default 10) — a high-frequency streamed table can trade a few
    // more checkpoint writes for an even shorter probe window. An EXPLICIT
    // value must be positive — 0 used to pass validation and silently mean
    // "default", contradicting the error message
    val ckptEvery = declared("graft.checkpoint-interval")(_.toLong)
    ckptEvery.foreach(n => require(n > 0L,
      s"$catalogName: graft.checkpoint-interval must be positive, got $n"))
    val meta = TableMeta(
      schema = Some(schema),
      partition = partCols,
      sortOrder = declared("graft.sort-order")(sortOrderOf(_, schema)).getOrElse(Nil),
      autoAnalyze = declared("graft.auto-analyze")(autoAnalyzeOf(_, schema)).getOrElse(Nil),
      targetFileBytes = declared("graft.target-file-size")(targetFileSizeOf).getOrElse(0L),
      checkpointEvery = ckptEvery.getOrElse(TableMeta.DefaultCkptInterval),
      mor = mor,
      updateCopyOnWrite = declared("graft.update.mode")(updateModeOf).getOrElse(false),
      autoFold = declared("graft.delta.auto-fold-fraction")(autoFoldOf),
      check = check,
      rowLineage = rowLineage)
    fs.mkdirs(d)
    TableMeta.update(fs, d)(_ => meta)
    loadTable(ident)
  }

  // ---- declared properties: one validator per key, shared by CREATE and
  // ALTER (each returns the value the record stores, or throws)

  /** `'graft.sort-order'='c1[,c2…]'` — DECLARED APPEND SORT ORDER: every
    * append requests an ordered distribution (range partition + sort) from
    * Spark before its files land, so per-file [min,max] on the sort key
    * are disjoint from the FIRST insert and zone maps prune plain ingested
    * data with no OPTIMIZE pass (OPTIMIZE clusterBy is the maintenance
    * half of the clustering story).
    */
  private def sortOrderOf(v: String, schema: StructType): Seq[String] =
    columnsOf("graft.sort-order", "sort-order", v, schema)

  /** `'graft.auto-analyze'='c1[,c2…]'` — COMMIT-TIME ZONE-MAP MAINTENANCE:
    * every commit extends the stats sidecar with its new files
    * (incremental footer harvest, StagingMaintenance.autoAnalyze), so
    * pruning never waits on a manual ANALYZE.
    */
  private def autoAnalyzeOf(v: String, schema: StructType): Seq[String] =
    columnsOf("graft.auto-analyze", "auto-analyze", v, schema)

  private def columnsOf(key: String, what: String, v: String,
      schema: StructType): Seq[String] = {
    val cols = v.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
    require(cols.nonEmpty, s"$catalogName: $key needs column names")
    cols.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"$catalogName: $what column $c is not in the table schema"))
    cols
  }

  /** `'graft.target-file-size'=<bytes>` — advisory append file sizing (the
    * Delta and Iceberg target-file-size knob): AQE coalesces or splits the
    * write's range partitions toward this size, so the file count tracks
    * DATA VOLUME instead of freezing at the shuffle-partition count. A
    * positive byte count; leaving the property unset means "no target".
    */
  private def targetFileSizeOf(v: String): Long = {
    val bytes =
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$catalogName: graft.target-file-size must be a byte count, got '$v'")
      }
    require(bytes > 0L, s"$catalogName: graft.target-file-size must be positive, got $bytes")
    bytes
  }

  /** `'graft.update.mode'` — keyless-MOR row-level admission (r14):
    * 'copy-on-write' routes UPDATE/MERGE/untranslatable-DELETE through the
    * group rewrite instead of position deltas (the bulk-statement escape
    * hatch); 'position-delta' is the default.
    */
  private def updateModeOf(v: String): Boolean = v.trim.toLowerCase match {
    case "copy-on-write"  => true
    case "position-delta" => false
    case other => throw new IllegalArgumentException(
      s"$catalogName: unknown graft.update.mode '$other' (copy-on-write | position-delta)")
  }

  /** `'graft.delta.auto-fold-fraction'=f` — broad-statement auto-fold
    * (r14): a position-delta statement that covered ≥ f of the snapshot's
    * files AND suppressed ≥ f of the covered rows triggers an immediate
    * scoped fold (optimize scope='deltas') after its own commit.
    */
  private def autoFoldOf(v: String): Double = {
    val f =
      try v.trim.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$catalogName: graft.delta.auto-fold-fraction must be a " +
            s"fraction in (0, 1], got '$v'")
      }
    require(f > 0.0 && f <= 1.0,
      s"$catalogName: graft.delta.auto-fold-fraction must be in (0, 1], got $f")
    f
  }

  /** `'check'` — the CHECK constraint, compiled against `schema` so an
    * unknown column or a non-boolean expression fails the DDL.
    */
  private def checkOf(v: String, schema: StructType): String = {
    val c = v.trim
    CheckConstraint.compile(SparkSession.active, c, schema)
    c
  }

  /** Schema evolution, the object-store way (no Iceberg field IDs, no file
    * rewrites where projection can do the job):
    *
    *  - '''ADD COLUMN''' (nullable, top-level): the DECLARED schema (in the
    *    table record) widens; existing parquet files are untouched and the
    *    reader surfaces NULL for the new column on old files (Spark's
    *    parquet reader fills missing read-schema columns with null).
    *  - '''DROP COLUMN''': the declared schema shrinks; files are
    *    untouched — every read projects through the declared schema, so the
    *    physical column in old files is simply never requested. The
    *    column's zone-map stats drop with it.
    *  - '''RENAME COLUMN''': parquet matches columns BY NAME and this
    *    catalog deliberately has no field-ID layer (the reference's store
    *    has none), so a metadata-only rename would silently read NULLs
    *    from every pre-rename file. Rename therefore REWRITES the current
    *    file set under the new name — an explicit, versioned
    *    (kind=rename) copy-on-write commit, the documented trade for
    *    field-ID-free storage. Stats for the renamed column drop
    *    (re-ANALYZE re-harvests under the new name).
    *
    * Every alter snapshots the PRE-ALTER schema as
    * `_graft_versions/schema_upto_v<latest>.json`, so `VERSION AS OF` on
    * an old version reads with the schema OF ITS ERA — a dropped column is
    * still visible when pinning a pre-drop snapshot.
    *
    * Table properties are record edits: each is validated NOW and governs
    * writes and commits from here on, minting no version. All of the
    * statement's edits land in ONE read-modify-write of the record at the
    * end ([[TableMeta.update]]), so a concurrent commit's provenance edit
    * is never lost.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = tableDir(ident)
    if (d == null || !isDir(d)) throw new NoSuchTableException(ident)
    val meta = TableMeta.read(fs, d)
    val before: StructType =
      meta.schema.getOrElse(SparkSession.active.read.parquet(d.toString).schema)
    var schema = before
    var renames = Seq.empty[(String, String)]
    var edits = Seq.empty[TableMeta => TableMeta]
    def edit(f: TableMeta => TableMeta): Unit = edits :+= f
    def isProp(c: TableChange, key: String): Boolean = c match {
      case sp: TableChange.SetProperty    => sp.property().equalsIgnoreCase(key)
      case rp: TableChange.RemoveProperty => rp.property().equalsIgnoreCase(key)
      case _                              => false
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: only top-level ADD COLUMN is supported, " +
              s"got ${add.fieldNames().mkString(".")}")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(add.fieldNames()(0))))
          throw new IllegalArgumentException(
            s"$catalogName: column ${add.fieldNames()(0)} already exists in ${ident.name()}")
        val default = Option(add.defaultValue())
        if (!add.isNullable && default.isEmpty)
          throw new UnsupportedOperationException(
            s"$catalogName: added columns must be nullable or carry a DEFAULT " +
              "(existing files must surface SOMETHING for them)")
        // DEFAULT: the SQL text goes into the standard metadata keys —
        // CURRENT_DEFAULT fills future INSERTs that omit the column,
        // EXISTS_DEFAULT is what pre-ADD files surface instead of NULL
        val colMeta = default.fold(org.apache.spark.sql.types.Metadata.empty) { dv =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", dv.getSql)
            .putString("EXISTS_DEFAULT", dv.getSql)
            .build()
        }
        schema = StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
          add.fieldNames()(0), add.dataType(), add.isNullable, colMeta))
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: only top-level DROP COLUMN is supported")
        val name = del.fieldNames()(0)
        if (!schema.fieldNames.exists(_.equalsIgnoreCase(name)))
          throw new IllegalArgumentException(
            s"$catalogName: no column $name in ${ident.name()}")
        if (schema.length <= 1)
          throw new UnsupportedOperationException(
            s"$catalogName: cannot drop the last column of ${ident.name()}")
        schema = StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
        StagingMaintenance.dropColumnStats(fs, d, name)
      case rn: TableChange.RenameColumn =>
        if (rn.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: only top-level RENAME COLUMN is supported")
        val from = rn.fieldNames()(0)
        if (!schema.fieldNames.exists(_.equalsIgnoreCase(from)))
          throw new IllegalArgumentException(
            s"$catalogName: no column $from in ${ident.name()}")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(rn.newName())))
          throw new IllegalArgumentException(
            s"$catalogName: column ${rn.newName()} already exists in ${ident.name()}")
        schema = StructType(schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = rn.newName()) else f))
        renames :+= (from, rn.newName())
        StagingMaintenance.dropColumnStats(fs, d, from)
      case up: TableChange.UpdateColumnType =>
        // TYPE WIDENING — the schema-evolution face files can satisfy by
        // PROJECTION alone: Spark 4's vectorized parquet reader promotes
        // int32→int64, int32→double, and float→double at read time
        // (SPARK-40876), so ALTER COLUMN … TYPE BIGINT/DOUBLE is a pure
        // record edit — zero file rewrites on a 100 TB table. Anything
        // that would narrow, re-interpret, or change kind is refused. Era
        // snapshots (below) keep pre-widen versions readable under the
        // narrow schema of their day.
        if (up.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: only top-level ALTER COLUMN TYPE is supported")
        val name = up.fieldNames()(0)
        val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName: no column $name in ${ident.name()}"))
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        val widening = (field.dataType, up.newDataType()) match {
          case (IntegerType, LongType)   => true
          case (IntegerType, DoubleType) => true
          case (FloatType, DoubleType)   => true
          case (from, to) if from == to  => true // no-op
          case _                         => false
        }
        if (!widening)
          throw new UnsupportedOperationException(
            s"$catalogName: unsupported type change $name: ${field.dataType.simpleString} " +
              s"-> ${up.newDataType().simpleString} (supported widenings: " +
              "INT->BIGINT, INT->DOUBLE, FLOAT->DOUBLE)")
        schema = StructType(schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(name)) f.copy(dataType = up.newDataType()) else f))
        // zone-map entries survive a SAME-KIND widening (int and bigint
        // both record "L" ranges; float and double both "D"); a KIND change
        // (int->double) re-keys on the next ANALYZE instead
        if (field.dataType == IntegerType && up.newDataType() == DoubleType)
          StagingMaintenance.dropColumnStats(fs, d, field.name)
      // PROPERTIES (the maintenance knobs became ALTER-able in r11 — they
      // were CREATE-only, which forced a drop-recreate to tune a live
      // table): SET validates against the CURRENT declared schema; UNSET
      // returns the knob to its default
      case sp: TableChange.SetProperty if isProp(sp, "check") =>
        val c = checkOf(sp.value(), schema)
        edit(_.copy(check = Some(c)))
      case c if isProp(c, "check") => edit(_.copy(check = None))
      case sp: TableChange.SetProperty if isProp(sp, "graft.auto-analyze") =>
        val cols = autoAnalyzeOf(sp.value(), schema)
        edit(_.copy(autoAnalyze = cols))
      case c if isProp(c, "graft.auto-analyze") => edit(_.copy(autoAnalyze = Nil))
      case sp: TableChange.SetProperty if isProp(sp, "graft.sort-order") =>
        val cols = sortOrderOf(sp.value(), schema)
        // PROVENANCE (r14, advice r13): files laid out BEFORE this
        // declaration (or under a different one) were never write-path
        // sorted on `cols` — record every file name any still-readable
        // version (main log, branch logs — RESTORE and rebase can
        // resurrect any of them) could hand a future snapshot, plus the
        // version the declaration takes effect at. The ordering report
        // withdraws while any such file is in the scanned snapshot.
        // Files already in the marker stay in it (over-marking is only
        // conservative), so a delta commit racing this ALTER keeps its mark.
        val priorFiles: Set[String] = GraftStagingCatalog.reachableFiles(fs, d)
        val since = GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L) + 1L
        edit { m =>
          val unproven = priorFiles ++ m.sortUnproven.fold(Set.empty[String])(_._2)
          m.copy(sortOrder = cols,
            sortUnproven = if (unproven.isEmpty) None else Some((since, unproven)))
        }
      case c if isProp(c, "graft.sort-order") =>
        edit(_.copy(sortOrder = Nil, sortUnproven = None))
      case sp: TableChange.SetProperty if isProp(sp, "graft.target-file-size") =>
        val bytes = targetFileSizeOf(sp.value())
        edit(_.copy(targetFileBytes = bytes))
      case c if isProp(c, "graft.target-file-size") => edit(_.copy(targetFileBytes = 0L))
      case sp: TableChange.SetProperty if isProp(sp, "graft.update.mode") =>
        val cow = updateModeOf(sp.value())
        edit(_.copy(updateCopyOnWrite = cow))
      case c if isProp(c, "graft.update.mode") => edit(_.copy(updateCopyOnWrite = false))
      case sp: TableChange.SetProperty if isProp(sp, "graft.delta.auto-fold-fraction") =>
        val f = autoFoldOf(sp.value())
        edit(_.copy(autoFold = Some(f)))
      case c if isProp(c, "graft.delta.auto-fold-fraction") => edit(_.copy(autoFold = None))
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported ALTER TABLE change $other " +
            "(supported: ADD / DROP / RENAME COLUMN, ALTER COLUMN TYPE widening, " +
            "SET/UNSET 'check' / 'graft.auto-analyze' / 'graft.sort-order' / " +
            "'graft.target-file-size' / 'graft.update.mode' / " +
            "'graft.delta.auto-fold-fraction')")
    }
    val edited = edits.foldLeft(meta)((m, f) => f(m))
    // a schema change must not strand the CHECK constraint: re-validate it
    // against the post-change schema (dropping a checked column fails HERE,
    // not at the next insert)
    if (schema != before) edited.check.foreach { c =>
      try CheckConstraint.compile(SparkSession.active, c, schema)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"$catalogName: ALTER would break CHECK constraint ($c) on ${ident.name()} — " +
            "UNSET TBLPROPERTIES ('check') first", e)
      }
    }
    // the MERGE KEY must survive the alter: renaming it re-points the MOR
    // declaration (the rename rewrite folds active DVs, so old-name DVs die
    // with it); dropping it is refused
    val mor = meta.mor match {
      case DeletionVectors.MorMode.Key(k) =>
        val effective = renames.find(_._1.equalsIgnoreCase(k)).map(_._2).getOrElse(k)
        if (!schema.fieldNames.exists(_.equalsIgnoreCase(effective)))
          throw new IllegalArgumentException(
            s"$catalogName: cannot drop merge-key column $k of merge-on-read " +
              s"table ${ident.name()}")
        DeletionVectors.MorMode.Key(effective)
      case other => other
    }
    // era snapshot: the OLD schema governs every version committed so far
    GraftStagingCatalog.headManifest(fs, d).foreach { case (latest, _) =>
      // eras live in their OWN subdir so resolving a version's era lists
      // O(schema changes) entries, never O(versions) — the same bounded-
      // resolution rule the checkpoint pointer enforces for manifests
      val eraDir = new Path(new Path(d, GraftStagingCatalog.VersionsDir),
        GraftStagingCatalog.EraDir)
      fs.mkdirs(eraDir)
      val snap = new Path(eraDir, s"schema_upto_v$latest.json")
      if (!GraftStagingCatalog.isFile(fs, snap))
        GraftStagingCatalog.writeString(fs, snap, before.json)
    }
    // renames rewrite the data under the new name (versioned, optimistic)
    if (renames.nonEmpty) GraftStagingCatalog.rewriteRenamed(fs, d, meta, renames, before)
    // a DROP/RENAME must not strand the column-list declarations: columns
    // no longer in the schema fall out (a renamed column re-opts-in under
    // its new name via SET TBLPROPERTIES); a sort order pruned to nothing
    // takes its provenance marker with it
    def live(cols: Seq[String]): Seq[String] =
      cols.filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    TableMeta.update(fs, d) { cur =>
      val m = edits.foldLeft(cur)((acc, f) => f(acc))
      val so = live(m.sortOrder)
      m.copy(schema = Some(schema), mor = mor, autoAnalyze = live(m.autoAnalyze),
        sortOrder = so, sortUnproven = if (so.isEmpty) None else m.sortUnproven)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = tableDir(ident)
    if (d == null || !isDir(d)) false
    else {
      // shallow-clone bookkeeping (r14): refuse while live clones borrow
      // this table's files; deregister from our own source when we are a
      // clone — see TableClone.onDrop
      TableClone.onDrop(fs, d)
      fs.delete(d, true)
    }
  }

  // ---- stored procedures (SQL CALL faces of StagingMaintenance) ----------

  private def procedureFor(name: String)
      : Option[org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    name.toLowerCase match {
      case "optimize" => Some(StagingProcedures.optimize(catalogName))
      case "analyze"  => Some(StagingProcedures.analyze(catalogName))
      case "vacuum"   => Some(StagingProcedures.vacuum(catalogName))
      case "history"  => Some(StagingProcedures.history(catalogName))
      case "detail"   => Some(StagingProcedures.detail(catalogName))
      case "restore"  => Some(StagingProcedures.restore(catalogName))
      case "clone"    => Some(StagingProcedures.cloneTable(catalogName))
      case "purge"    => Some(StagingProcedures.purge(catalogName))
      case "sync"     => Some(StagingProcedures.sync(catalogName))
      case "bloom"    => Some(StagingProcedures.bloom(catalogName))
      case "tag"      => Some(StagingProcedures.tag(catalogName))
      case "drop_tag" => Some(StagingProcedures.dropTag(catalogName))
      case "tags"     => Some(StagingProcedures.tags(catalogName))
      case "branch"      => Some(StagingProcedures.branch(catalogName))
      case "publish"     => Some(StagingProcedures.publish(catalogName))
      case "rebase"      => Some(StagingProcedures.rebase(catalogName))
      case "drop_branch" => Some(StagingProcedures.dropBranch(catalogName))
      case "branches"    => Some(StagingProcedures.branches(catalogName))
      case "group_create"  => Some(StagingProcedures.groupCreate(catalogName))
      case "group_publish" => Some(StagingProcedures.groupPublish(catalogName))
      case "set_partition_spec" => Some(StagingProcedures.setPartitionSpec(catalogName))
      case _          => None
    }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    // accept both CALL cat.proc(...) and CALL cat.system.proc(...)
    val nsOk = ident.namespace().isEmpty || ident.namespace().sameElements(Array("system"))
    (if (nsOk) procedureFor(ident.name()) else None).getOrElse(
      throw new RuntimeException(
        s"$catalogName: unknown procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
          "(available: optimize, analyze, bloom, vacuum, history, detail, restore, " +
          "tag, drop_tag, tags, branch, publish, rebase, drop_branch, branches)"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array("analyze", "bloom", "branch", "branches", "detail", "drop_branch", "drop_tag",
          "history", "optimize", "publish", "restore", "tag", "tags", "vacuum")
        .map(Identifier.of(namespace, _))
    else Array.empty

  // ---- catalog-resolved functions (DSv2 FunctionCatalog) -----------------

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val nsOk = ident.namespace().isEmpty || ident.namespace().sameElements(Array("system"))
    (if (nsOk) StagingFunctions.load(ident.name()) else None).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      StagingFunctions.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  /** DDL rename of a table DIRECTORY. This is a user-facing management
    * operation, not a commit primitive — nothing in the versioning protocol
    * depends on its atomicity (on the reference's store it is S3A
    * copy-then-delete, `CephRgwFileSystem.java:310-313`; commits here use
    * create-exclusive manifests instead).
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (from == null || !isDir(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (to == null) throw new NoSuchNamespaceException(newIdent.namespace())
    if (isDir(to)) throw new TableAlreadyExistsException(newIdent)
    requireNs(newIdent.namespace())
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }
}

/** Serializable writer-factory adapter for the row-level (ReplaceData)
  * write path: binds the declared write schema to the TRAILING fields of
  * each incoming row, stripping ReplaceData's leading bookkeeping columns
  * (`__row_operation`) that the plain writing task does not project away.
  * The projection is built lazily on the executor from the first row's
  * arity; offset 0 degrades to pass-through.
  */
private class TrailingFieldsWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    schema: StructType) extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      private var proj: UnsafeProjection = _
      private var passThrough = false
      override def write(row: InternalRow): Unit = {
        if (proj == null && !passThrough) {
          val offset = row.numFields - schema.length
          require(offset >= 0,
            s"row has ${row.numFields} fields for a ${schema.length}-column write schema")
          if (offset == 0) passThrough = true
          else proj = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
            case (f, i) => BoundReference(offset + i, f.dataType, f.nullable)
          })
        }
        w.write(if (passThrough) row else proj(row))
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Writer-factory for the ROW-LINEAGE metadata-projected rewrite path:
  * Spark's writing task hands (metadata, data) pairs — the metadata row
  * carries each replacement row's PRESERVED `_row_id` (NULL for a MERGE's
  * NOT-MATCHED inserts) — and the writers land it as the trailing physical
  * id column of the extended write schema. The CHECK constraint evaluates
  * on the DATA row (exactly the declared write schema), same contract as
  * [[CheckedWriterFactory]].
  */
private class LineageMetaWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    metaOrd: Int,
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val pred = check.map { case (text, bound) =>
      val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
      p.initialize(partitionId)
      (text, p)
    }
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
      private val idRow = new GenericInternalRow(1)
      private val joined = new JoinedRow
      private def land(meta: InternalRow, data: InternalRow): Unit = {
        pred.foreach { case (text, p) =>
          if (!p.eval(data))
            throw new IllegalStateException(
              s"CHECK constraint violated: ($text) — write aborted, no version committed")
        }
        if (meta == null || meta.isNullAt(metaOrd)) idRow.update(0, null)
        else idRow.update(0, meta.getLong(metaOrd))
        w.write(joined(data, idRow))
      }
      override def write(meta: InternalRow, data: InternalRow): Unit = land(meta, data)
      override def write(data: InternalRow): Unit = land(null, data)
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
        w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Group-based row-level operation (SQL UPDATE / MERGE INTO / DELETE
  * fallback) with FILE-GRANULAR copy-on-write.
  *
  * The DSv2 group-based contract: Spark reads the affected groups through
  * this operation's scan, computes each group's FULL replacement content,
  * and writes it back; the connector must then replace exactly the groups
  * the scan read. Our group is the FILE. The scan may skip a group only
  * when it provably contains no row matching the operation's condition —
  * which is precisely what zone maps decide ([[ZoneMapPrunedScan.canMatch]]
  * over the condition conjuncts Spark pushes into the row-level scan via
  * `GroupBasedRowLevelOperationScanPlanning`). The scan RECORDS the file
  * names it planned (post-prune, unioned across rewrite legs — an UPDATE
  * with subqueries scans the operation twice); the commit then writes
  *
  *   new version = (snapshot files − scanned files) ++ fresh files
  *
  * so a keyed UPDATE on a clustered, ANALYZEd 100 TB table rewrites only
  * the files whose [min,max] admit the key — every other object carries
  * into the new version by name, untouched (the reference's per-object
  * write surface, `CephRgwFileSystem.java:216-289`, at catalog scale).
  * This is sound for EVERY polarity because carried files were never
  * scanned: all of a scanned file's rows flow through the replacement
  * query (the scan exposes no row-level pushdown — every filter expression
  * is returned as still-to-evaluate, so the parquet reader always hands
  * back full rows), and an unscanned file's rows survive verbatim. With no
  * zone maps, no translatable condition, or a legacy un-versioned table,
  * the scan records (or the commit assumes) the full snapshot and the
  * rewrite degrades to the previous whole-table replacement — correct,
  * just not minimal. The commit is optimistic against `snapshotVersion`:
  * a racing commit aborts it (lost-update guard).
  */
private class StagingRowLevelOperation(
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo,
    readDelegate: ParquetTable,
    writeDelegate: ParquetTable,
    tableFs: FileSystem,
    dir: Path,
    meta: TableMeta,
    snapshotVersion: Long,
    snapshotFiles: Option[Seq[String]],
    dvNames: Seq[String],
    // position deletes in force at the snapshot (keyless MOR): the
    // rewrite's scans must not resurrect suppressed rows, and the commit
    // must carry the sidecars for files it does not rewrite
    posDvs: DeletionVectors.PosDvs,
    branch: Option[String] = None,
    lineage: Option[Map[String, RowLineage.Entry]] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** ROW LINEAGE through group-based rewrites ([[RowLineage]]): the
    * operation requires the `_row_id` metadata column, Spark's rewrite
    * plans PRESERVE its value through UPDATE assignments and DELETE
    * copy-legs (MetadataColumn preserve defaults) and hand it to the write
    * as a metadata projection; the writers below then land it in the
    * physical id column, so a group-based UPDATE/MERGE no longer
    * re-identifies the rows it rewrites — MERGE's NOT-MATCHED inserts
    * carry NULL and resolve to fresh ids from the new file's base.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineage.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(RowLineage.MetaColName))
    else Array.empty

  /** The scans this operation built — interrogated at COMMIT time for
    * their post-runtime-filter planned file set. Commit-time (not
    * planning-time) interrogation matters: execution may re-plan a scan's
    * splits after dynamic group filters arrive, and the carried set must
    * reflect what was ACTUALLY read. Union across scans: a rewrite may
    * scan the operation more than once (update/copy legs), and
    * over-recording only shrinks the carried set (never unsound).
    */
  private val scans =
    new java.util.concurrent.ConcurrentLinkedQueue[ZoneMapPrunedScan]()

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    info.command()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // lineage tables widen the scan source with the physical-id and
    // generated-row-index carriers; the builder resolves the requested
    // `_row_id` the same way the plain path does
    val scanSrc =
      if (lineage.isEmpty || readDelegate.userSpecifiedSchema.isEmpty) readDelegate
      else readDelegate.copy(userSpecifiedSchema = readDelegate.userSpecifiedSchema.map(
        s => StructType(s.fields :+ RowLineage.PhysField :+ DeletionVectors.RowIdxField)))
    val sb = scanSrc.newScanBuilder(options)
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var v1: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var lineageOut: Option[StructType] = None
      override def pushFilters(
          filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        v1 = filters.flatMap(ZoneMapScanBuilder.toV1).toArray
        ZoneMapScan.lastRowLevelFilters = v1.map(_.toString).toSeq
        filters // nothing consumed: rows are never filtered below the scan
      }
      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        if (lineage.isDefined && requiredSchema.fieldNames
            .exists(_.equalsIgnoreCase(RowLineage.MetaColName))) {
          lineageOut = Some(requiredSchema)
          val dataFields = requiredSchema.fields
            .filterNot(_.name.equalsIgnoreCase(RowLineage.MetaColName))
          sb.pruneColumns(StructType(dataFields :+ RowLineage.PhysField :+
            DeletionVectors.RowIdxField))
        } else sb.pruneColumns(requiredSchema)
      private def lineageInfo(scan: org.apache.spark.sql.connector.read.Scan)
          : Option[(RowLineage.LineageScanInfo, Map[String, RowLineage.Entry])] =
        lineageOut.map { requested =>
          val wide = scan.readSchema()
          val physOrd = wide.fieldNames.indexWhere(_ == RowLineage.PhysCol)
          val idxOrd = wide.fieldNames.indexWhere(_ == DeletionVectors.RowIdxField.name)
          require(physOrd >= 0 && idxOrd >= 0,
            s"lineage carriers missing from row-level read schema $wide")
          val outOrds = requested.fields.map { f =>
            if (f.name.equalsIgnoreCase(RowLineage.MetaColName)) -1
            else {
              val o = wide.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
              require(o >= 0, s"requested column ${f.name} missing from read schema $wide")
              o
            }
          }
          (RowLineage.LineageScanInfo(requested, physOrd, idxOrd, outOrds, wide.length),
            lineage.get)
        }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val scan = sb.build()
        val (stats, nulls) = StagingMaintenance.readStatsFor(tableFs, dir, meta.stats)
        scan match {
          case fscan: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            // always wrap: with no stats or no filters nothing prunes, but
            // the planned file set is still tracked for the carried commit.
            // Runtime group filtering is offered only when stats exist —
            // its IN-values prune through zone maps, and offering zero
            // filter attributes would break the optimizer rule.
            val statCols = stats.keysIterator.map(_._2).toArray.distinct.sorted
            val blooms = () => StagingMaintenance.readBloomsFor(tableFs, dir)
            val specs = meta.partSpecsAll
            val li = lineageInfo(scan)
            val zms =
              if (statCols.nonEmpty)
                new RowLevelGroupScan(fscan, stats, v1, statCols, nulls, dir.toString,
                  blooms, None, specs, posDvs, li)
              else new ZoneMapPrunedScan(fscan, stats, v1, nulls, dir.toString, blooms,
                None, specs, Map.empty, posDvs, None, li)
            scans.add(zms)
            zms
          case other => other // not a file scan: no tracking → full replace
        }
      }
    }
  }

  override def newWriteBuilder(lwi: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // SORT-ORDER PRESERVATION (r13): a group rewrite's replacement files
      // must stay sorted on a declared-sort-order table — every file of
      // such a table is per-file sorted (the contract the scan's
      // SupportsReportOrdering report rides), and the append path already
      // enforces it via RequiresDistributionAndOrdering. Distribution
      // stays UNSPECIFIED here (no global re-range of a rewrite — zone
      // ranges may overlap after heavy churn, per-FILE sortedness is the
      // claim), so the planner adds exactly one local Sort per writer.
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.{distributions, expressions => v2x}
        override def requiredDistribution(): distributions.Distribution =
          distributions.Distributions.unspecified()
        override def requiredOrdering(): Array[v2x.SortOrder] = meta.sortOrder.map(c =>
          v2x.Expressions.sort(v2x.Expressions.column(c),
            v2x.SortDirection.ASCENDING)).toArray
        override def toBatch: BatchWrite = new BatchWrite {
          // ROW LINEAGE: the rewrite hands each row's preserved `_row_id`
          // as a METADATA projection (DataWriter.write(meta, data)) — the
          // inner parquet write is built with the physical id column
          // appended so the writers can land it ([[LineageMetaWriterFactory]]).
          private val lineageMeta = lineage.isDefined &&
            lwi.metadataSchema().isPresent &&
            lwi.metadataSchema().get().fieldNames
              .exists(_.equalsIgnoreCase(RowLineage.MetaColName))
          private val innerInfo: LogicalWriteInfo =
            if (!lineageMeta) lwi
            else new LogicalWriteInfo {
              override def options(): CaseInsensitiveStringMap = lwi.options()
              override def queryId(): String = lwi.queryId()
              override def schema(): StructType =
                StructType(lwi.schema().fields :+ RowLineage.PhysField)
              // the INNER parquet write sees one flat schema — the id is a
              // plain trailing column by the time rows reach it
              override def rowIdSchema(): java.util.Optional[StructType] =
                java.util.Optional.empty()
              override def metadataSchema(): java.util.Optional[StructType] =
                java.util.Optional.empty()
            }
          private val inner = writeDelegate.newWriteBuilder(innerInfo).build().toBatch
          // the CHECK constraint also governs replacement rows: an UPDATE
          // cannot move a row INTO violation (evaluated after the trailing
          // projection, i.e. on exactly the declared write schema)
          private val check = meta.check.map(c =>
            (c, CheckConstraint.compile(SparkSession.active, c, lwi.schema())))
          // ReplaceData's query emits leading bookkeeping columns
          // (`__row_operation`) ahead of the data columns, and the plain
          // writing task hands rows over UNPROJECTED — so the factory binds
          // the declared write schema to the TRAILING fields before the
          // parquet writer sees the row. The metadata-projected path hands
          // clean (data, meta) pairs instead — no trailing binding needed.
          override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
            if (lineageMeta)
              new LineageMetaWriterFactory(inner.createBatchWriterFactory(pinfo),
                lwi.metadataSchema().get().fieldNames
                  .indexWhere(_.equalsIgnoreCase(RowLineage.MetaColName)),
                check)
            else {
              val base = check.fold(inner.createBatchWriterFactory(pinfo)) { case (text, bound) =>
                new CheckedWriterFactory(inner.createBatchWriterFactory(pinfo), bound, text)
              }
              new TrailingFieldsWriterFactory(base, lwi.schema())
            }
          }
          override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
          override def onDataWriterCommit(message: WriterCommitMessage): Unit =
            inner.onDataWriterCommit(message)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val before = GraftStagingCatalog.dataFiles(tableFs, dir).toSet
            inner.commit(messages)
            val fresh = GraftStagingCatalog.dataFiles(tableFs, dir).filterNot(before)
            val scanned: Option[Set[String]] =
              if (scans.isEmpty) None
              else Some(scans.asScala.map(_.plannedFileNames()).reduce(_ ++ _))
            val carried = (snapshotFiles, scanned) match {
              // a BORROWED clone entry is an absolute foreign path, but the
              // scan's planned-name set keys it by bare name (statKey's
              // fallback — the same convention transferred stats use): a
              // rewritten borrowed file must NOT stay carried, or its old
              // rows ride along next to their replacements (part names are
              // UUID-fresh, so bare-name matching cannot alias)
              case (Some(snap), Some(read)) => snap.filterNot(f =>
                read(f) ||
                  (TableClone.isForeign(f) && read(new Path(f).getName)))
              case _                        => Seq.empty[String]
            }
            GraftStagingCatalog.writeExplicitManifest(tableFs, dir, meta, carried ++ fresh,
              kind = info.command().toString.toLowerCase,
              expectedBase = Some(snapshotVersion),
              // keyless-MOR: carried (unrewritten) files still read under
              // their position DVs; entries for rewritten files are inert
              dvs = if (posDvs.nonEmpty) dvNames else Seq.empty,
              branch = branch,
              // lineage: the metadata-projected write landed each row's
              // preserved id in the physical column — fresh files are
              // materialized, not re-identified
              matFiles = if (lineageMeta) fresh.toSet else Set.empty)
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            inner.abort(messages)
        }
      }
    }
}

/** Composite commit message of the delta (merge-on-read) write path: the
  * delegate parquet writer's message (absent when the task wrote no rows —
  * a delete-only task creates NO file) plus the keys this task deleted or
  * replaced.
  */
private case class DvDeltaMsg(inner: Option[WriterCommitMessage], deleted: Array[Any],
    bins: Seq[String] = Nil, binCount: Long = 0L)
    extends WriterCommitMessage

/** DELTA-BASED row-level operation (SQL UPDATE / MERGE INTO / DELETE) —
  * MERGE-ON-READ via equality-delete deletion vectors
  * ([[DeletionVectors]]), selected when the table was created with
  * `'graft.write.mode'='merge-on-read'`.
  *
  * Spark sees [[org.apache.spark.sql.connector.write.SupportsDelta]] and
  * plans `WriteDelta` instead of `ReplaceData`: the writers receive per-ROW
  * actions — `insert(row)`, `update(id, row)`, `delete(id)` — with `id`
  * projected to [[rowId]] (the declared merge key). The write is then:
  *
  *   - inserted/updated rows → ordinary new parquet files (the delegate
  *     committer; writers are created LAZILY, so a delete-only task writes
  *     no file at all);
  *   - deleted/replaced keys → ONE deletion-vector sidecar scoped to the
  *     files the operation's scan planned (the only files that can hold a
  *     stale row for those keys);
  *   - commit = snapshot files ++ fresh files, dvs ++ the new sidecar —
  *     NOTHING is rewritten. Write amplification is O(changed rows), not
  *     O(touched-file bytes): the fix for high-churn CDC merges whose keys
  *     spread across every file (where file-granular copy-on-write still
  *     rewrites the whole touched set).
  *
  * The operation's scan applies the PRIOR deletion vectors (ghost rows can
  * never re-match) and records its planned file set for DV scoping; the
  * commit stays optimistic against the snapshot version.
  */
private class StagingDeltaOperation(
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo,
    readDelegate: ParquetTable,
    writeDelegate: ParquetTable,
    tableFs: FileSystem,
    dir: Path,
    meta: TableMeta,
    snapshotVersion: Long,
    snapshotFiles: Option[Seq[String]],
    keyField: org.apache.spark.sql.types.StructField,
    priorDvNames: Seq[String],
    priorDeletes: DeletionVectors.Deletes,
    branch: Option[String] = None,
    lineage: Option[Map[String, RowLineage.Entry]] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  private val scans =
    new java.util.concurrent.ConcurrentLinkedQueue[ZoneMapPrunedScan]()

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    info.command()

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyField.name))

  /** ROW LINEAGE through the DELTA (merge-on-read) rewrite (r12): the
    * operation requires the `_row_id` metadata column, so Spark's
    * WriteDelta plan carries each updated row's preserved id (NULL for a
    * MERGE's NOT-MATCHED inserts) into the writers as a metadata row —
    * the MOR twin of [[StagingRowLevelOperation.requiredMetadataAttributes]].
    * A MOR UPDATE is DV-delete + fresh insert, so WITHOUT this carry the
    * fresh row would silently re-identify; with it, identity survives the
    * delta exactly as it survives the copy-on-write path.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineage.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(RowLineage.MetaColName))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // lineage tables widen the scan source with the physical-id and
    // generated-row-index carriers (same as the group-based path)
    val scanSrc =
      if (lineage.isEmpty || readDelegate.userSpecifiedSchema.isEmpty) readDelegate
      else readDelegate.copy(userSpecifiedSchema = readDelegate.userSpecifiedSchema.map(
        s => StructType(s.fields :+ RowLineage.PhysField :+ DeletionVectors.RowIdxField)))
    val sb = scanSrc.newScanBuilder(options)
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var v1: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var lineageOut: Option[StructType] = None
      override def pushFilters(
          filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        v1 = filters.flatMap(ZoneMapScanBuilder.toV1).toArray
        ZoneMapScan.lastRowLevelFilters = v1.map(_.toString).toSeq
        filters // nothing consumed: rows are never filtered below the scan
      }
      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        if (lineage.isDefined && requiredSchema.fieldNames
            .exists(_.equalsIgnoreCase(RowLineage.MetaColName))) {
          lineageOut = Some(requiredSchema)
          val dataFields = requiredSchema.fields
            .filterNot(_.name.equalsIgnoreCase(RowLineage.MetaColName))
          // the merge key must stay readable for the in-force DV filter
          // even if the rewrite plan pruned it (it never does — rowId
          // projection needs it — but stay total)
          val withKey =
            if (dataFields.exists(_.name.equalsIgnoreCase(keyField.name))) dataFields
            else dataFields :+ keyField
          sb match {
            case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
              p.pruneColumns(StructType(withKey :+ RowLineage.PhysField :+
                DeletionVectors.RowIdxField))
            case _ => ()
          }
        } else () // non-lineage: keep the historical full-schema read (the
                  // delta rewrite needs full rows anyway); pruning only
                  // matters for the lineage carriers above
      private def lineageInfo(scan: org.apache.spark.sql.connector.read.Scan)
          : Option[(RowLineage.LineageScanInfo, Map[String, RowLineage.Entry])] =
        lineageOut.map { requested =>
          val wide = scan.readSchema()
          val physOrd = wide.fieldNames.indexWhere(_ == RowLineage.PhysCol)
          val idxOrd = wide.fieldNames.indexWhere(_ == DeletionVectors.RowIdxField.name)
          require(physOrd >= 0 && idxOrd >= 0,
            s"lineage carriers missing from delta read schema $wide")
          val outOrds = requested.fields.map { f =>
            if (f.name.equalsIgnoreCase(RowLineage.MetaColName)) -1
            else {
              val o = wide.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
              require(o >= 0, s"requested column ${f.name} missing from read schema $wide")
              o
            }
          }
          (RowLineage.LineageScanInfo(requested, physOrd, idxOrd, outOrds, wide.length),
            lineage.get)
        }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val scan = sb.build()
        val (stats, nulls) = StagingMaintenance.readStatsFor(tableFs, dir, meta.stats)
        scan match {
          case fscan: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            // without lineage the row-level scan reads the FULL table
            // schema (no column pruning on this path), so the key is
            // always present and DVs apply with no projection; with
            // lineage the pruned schema re-adds the key above
            // r14: in-force distributed key bins — ghost rows suppressed by
            // a keyrun descriptor must not re-match either
            val dvMap = priorDeletes.inline
            val krs = priorDeletes.keyRuns
            val dvInfo =
              if (dvMap.isEmpty && krs.isEmpty) None
              else {
                val wide = scan.readSchema()
                val keyOrd = wide.fieldNames.indexWhere(_.equalsIgnoreCase(keyField.name))
                require(keyOrd >= 0, s"merge key ${keyField.name} missing from $wide")
                val keyBins = krs.iterator
                  .flatMap(kr => kr.files.iterator.map(f => f -> kr.spec))
                  .toSeq.groupBy(_._1).map { case (f, sps) => f -> sps.map(_._2) }
                Some(DeletionVectors.DvScanInfo(dvMap, keyOrd, keyField.dataType, wide,
                  None, keyBins))
              }
            val statCols = stats.keysIterator.map(_._2).toArray.distinct.sorted
            val blooms = () => StagingMaintenance.readBloomsFor(tableFs, dir)
            val specs = meta.partSpecsAll
            val li = lineageInfo(scan)
            val zms =
              if (statCols.nonEmpty)
                new RowLevelGroupScan(fscan, stats, v1, statCols, nulls, dir.toString,
                  blooms, dvInfo, specs, DeletionVectors.PosDvs.empty, li)
              else new ZoneMapPrunedScan(fscan, stats, v1, nulls, dir.toString, blooms,
                dvInfo, specs, Map.empty, DeletionVectors.PosDvs.empty, None, li)
            scans.add(zms)
            zms
          case other => other
        }
      }
    }
  }

  override def newWriteBuilder(lwi: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new org.apache.spark.sql.connector.write.DeltaBatchWrite {
              // a delete-only delta (SQL DELETE) carries an EMPTY row
              // schema — no replacement rows ever get written, and the
              // parquet delegate (which rejects empty schemas) must not
              // even be built: the whole write is one DV sidecar
              private val deleteOnly = lwi.schema().isEmpty
              // ROW LINEAGE (r12): the delta write receives each
              // updated row's preserved `_row_id` as a metadata row —
              // the inner parquet write is widened with the physical id
              // column so the writers can land it (NULL for inserts:
              // fresh rows take `base + row_index` off their own file)
              private val lineageMeta = !deleteOnly && lineage.isDefined &&
                lwi.metadataSchema().isPresent &&
                lwi.metadataSchema().get().fieldNames
                  .exists(_.equalsIgnoreCase(RowLineage.MetaColName))
              private val innerInfo: LogicalWriteInfo =
                if (!lineageMeta) lwi
                else new LogicalWriteInfo {
                  override def options(): CaseInsensitiveStringMap = lwi.options()
                  override def queryId(): String = lwi.queryId()
                  override def schema(): StructType =
                    StructType(lwi.schema().fields :+ RowLineage.PhysField)
                  override def rowIdSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                  override def metadataSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                }
              private lazy val inner = writeDelegate.newWriteBuilder(innerInfo).build().toBatch
              private val check =
                if (deleteOnly) None
                else meta.check.map(c =>
                  (c, CheckConstraint.compile(SparkSession.active, c, lwi.schema())))
              private val keyIsString =
                keyField.dataType == org.apache.spark.sql.types.StringType
              // r14 distributed equality-delete bins: the per-task AND
              // per-statement inline cap — a CDC burst deleting 100M keys
              // spills to executor-written bins instead of the driver.
              // Lineage tables spill too (r14): the combined MOR+lineage
              // reader and the id-resolving maintenance reads all resolve
              // bin-backed keys in the executor.
              private val inlineCap: Int =
                SparkSession.active.conf
                  .getOption("spark.graft.key-delete.max-inline-keys")
                  .map(_.toInt).getOrElse(1 << 20)
              private val binsOn = true
              private val runDir =
                s"dvk-${java.util.UUID.randomUUID().toString.take(12)}"
              private val whconf = ScanConf.broadcast(SparkSession.active)

              override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
                  : org.apache.spark.sql.connector.write.DeltaWriterFactory =
                new StagingDeltaWriterFactory(
                  if (deleteOnly) None else Some(inner.createBatchWriterFactory(pinfo)),
                  if (keyIsString) 2
                  else if (keyField.dataType == org.apache.spark.sql.types.IntegerType) 0
                  else 1,
                  check,
                  lineageMetaOrd =
                    if (!lineageMeta) -1
                    else lwi.metadataSchema().get().fieldNames
                      .indexWhere(_.equalsIgnoreCase(RowLineage.MetaColName)),
                  binCap = if (binsOn) inlineCap else Int.MaxValue,
                  dirStr = dir.toString,
                  runDir = runDir,
                  hconf = whconf)

              override def useCommitCoordinator(): Boolean =
                !deleteOnly && inner.useCommitCoordinator()

              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                val msgs = messages.collect { case m: DvDeltaMsg => m }
                val innerMsgs = msgs.flatMap(_.inner)
                val before = GraftStagingCatalog.dataFiles(tableFs, dir).toSet
                if (!deleteOnly) inner.commit(innerMsgs.toArray)
                val fresh = GraftStagingCatalog.dataFiles(tableFs, dir).filterNot(before)
                val deleted: Set[Any] = msgs.iterator.flatMap(_.deleted).toSet
                val bins = msgs.iterator.flatMap(_.bins).toSeq
                val binCount = msgs.iterator.map(_.binCount).sum
                val scanned: Set[String] =
                  if (scans.isEmpty) Set.empty
                  else scans.asScala.map(_.plannedFileNames()).reduce(_ ++ _)
                val snap = snapshotFiles.getOrElse(before.toSeq.sorted)
                val dvs =
                  if (deleted.isEmpty && bins.isEmpty) priorDvNames
                  else {
                    // scope the DV to the files the scan actually planned —
                    // only they can hold stale rows for the deleted keys;
                    // the statement's own fresh files are never named
                    // borrowed clone entries are absolute paths the scan
                    // keys by BARE name (statKey fallback) — and the read
                    // side attributes DV entries by the same key, so a
                    // covered borrowed file records under its bare name
                    // (the transplant convention); missing this, a clone's
                    // keyed delta covers nothing and its replaced rows
                    // resurrect beside their replacements
                    val applies = snap.flatMap { f =>
                      if (scanned(f)) Some(f)
                      else if (TableClone.isForeign(f) &&
                          scanned(new Path(f).getName))
                        Some(new Path(f).getName)
                      else None
                    }
                    if (bins.isEmpty && deleted.size <= inlineCap) {
                      ZoneMapScan.lastKeyDeleteMode = Some("dv-inline")
                      priorDvNames :+ DeletionVectors.writeDv(
                        tableFs, dir, keyField.name, keyIsString, applies, deleted)
                    } else {
                      // r14 distributed: any inline remainder joins the
                      // executor-written bins and ONE descriptor commits —
                      // the driver held at most tasks × cap keys transiently
                      val allBins =
                        if (deleted.isEmpty) bins
                        else bins :+ DeletionVectors.writeKeyBin(tableFs, dir,
                          runDir, deleted.iterator, keyIsString, -1L)
                      ZoneMapScan.lastKeyDeleteMode = Some("dv-keyrun")
                      priorDvNames :+ DeletionVectors.writeKeyRunDescriptor(
                        tableFs, dir, runDir, keyField.name, keyIsString,
                        applies, allBins, binCount + deleted.size)
                    }
                  }
                // delta-written fresh files are writer-shaped, not
                // planner-sorted — register them with the sort-order
                // provenance marker (r14 readmission)
                GraftStagingCatalog.markUnsorted(tableFs, dir, fresh)
                GraftStagingCatalog.writeExplicitManifest(tableFs, dir, meta, snap ++ fresh,
                  kind = info.command().toString.toLowerCase,
                  expectedBase = Some(snapshotVersion), dvs = dvs, branch = branch,
                  // lineage: carried files keep their id bases verbatim
                  // (a DV delete moves no rows); fresh files landed the
                  // preserved ids physically — mark them materialized
                  matFiles = if (lineageMeta) fresh.toSet else Set.empty)
                // BROAD-STATEMENT AUTO-FOLD, keyed twin (r14 — same rule
                // as the position path: exact post-statement information,
                // cheap gate first). Suppression here is keyed, so the
                // row proxy is the statement's deleted/replaced KEY count
                // — exact when merge keys are unique, conservative
                // (under-counting) otherwise.
                ZoneMapScan.lastDeltaAutoFold = None
                if (branch.isEmpty && (deleted.nonEmpty || bins.nonEmpty))
                  meta.autoFold.foreach { frac =>
                    try {
                      val applies2 = snap.filter(f => scanned(f) ||
                        (TableClone.isForeign(f) && scanned(new Path(f).getName)))
                        .toSet // manifest entries: absolute foreign paths resolve
                      if (snap.nonEmpty && applies2.size >= frac * snap.size) {
                        val suppressed = binCount + deleted.size
                        val rowsCovered = GraftStagingCatalog.rowCountOf(
                          SparkSession.active, dir, applies2.toSeq)
                        if (rowsCovered > 0L && suppressed >= frac * rowsCovered) {
                          // a fresh record: this commit's provenance
                          // edit must reach the fold's twins
                          val (_, _, v) = StagingMaintenance.foldDeltasAt(
                            SparkSession.active, tableFs, dir, TableMeta.read(tableFs, dir))
                          ZoneMapScan.lastDeltaAutoFold = Some(v)
                        }
                      }
                    } catch { case e: Exception =>
                      System.err.println(
                        s"[graft] auto-fold after keyed delta commit on $dir failed: $e")
                    }
                  }
              }

              override def abort(messages: Array[WriterCommitMessage]): Unit =
                if (!deleteOnly)
                  inner.abort(messages.collect { case DvDeltaMsg(Some(m), _, _, _) => m })
            }
        }
    }
}

/** Serializable executor-side factory of the delta write: wraps the
  * delegate parquet writer factory, creating the physical writer LAZILY so
  * delete-only tasks land zero files, collecting deleted/replaced keys per
  * task, and enforcing the table CHECK constraint on the incoming row
  * versions.
  */
private class StagingDeltaWriterFactory(
    inner: Option[DataWriterFactory], // None = delete-only (no row sink exists)
    keyKind: Int, // 0 = int, 1 = long, 2 = string (canonical key: Long|String)
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
    lineageMetaOrd: Int = -1, // ≥0: `_row_id`'s ordinal in the metadata row —
    // land it as the trailing physical id column (NULL for inserts)
    // r14 distributed equality-delete bins: over `binCap` deleted keys, a
    // TASK spills its keys to `<dirStr>/_graft_dv/<runDir>/` and reports
    // only the bin name — the driver never materializes the key set
    binCap: Int = Int.MaxValue,
    dirStr: String = "",
    runDir: String = "",
    hconf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
      private var w: org.apache.spark.sql.connector.write.DataWriter[InternalRow] = _
      private val deleted = scala.collection.mutable.HashSet.empty[Any]
      private val idRow = new GenericInternalRow(1)
      private val joined = new JoinedRow
      private val pred = check.map { case (text, bound) =>
        val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
        p.initialize(partitionId)
        (text, p)
      }

      private def keyOf(id: InternalRow): Any = keyKind match {
        case 0 => id.getInt(0).toLong
        case 1 => id.getLong(0)
        case _ => id.getUTF8String(0).toString
      }

      private def sink(row: InternalRow, meta: InternalRow): Unit = {
        pred.foreach { case (text, p) =>
          if (!p.eval(row)) throw new IllegalArgumentException(
            s"CHECK constraint violated by row-level write: ($text)")
        }
        if (w == null) w = inner.getOrElse(throw new IllegalStateException(
          "delta write received a row on a delete-only plan")).createWriter(partitionId, taskId)
        if (lineageMetaOrd < 0) w.write(row)
        else {
          // preserved id (an UPDATE's replacement row) or NULL (a MERGE
          // insert — resolved to a fresh id from the new file's base)
          if (meta == null || meta.isNullAt(lineageMetaOrd)) idRow.update(0, null)
          else idRow.update(0, meta.getLong(lineageMetaOrd))
          w.write(joined(row, idRow))
        }
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        deleted += keyOf(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        deleted += keyOf(id)
        sink(row, meta)
      }
      override def insert(row: InternalRow): Unit = sink(row, null)

      override def commit(): WriterCommitMessage =
        if (deleted.size <= binCap || dirStr.isEmpty)
          DvDeltaMsg(Option(w).map(_.commit()), deleted.toArray)
        else {
          // executor-side spill: the task's keys become one immutable bin
          val d = new org.apache.hadoop.fs.Path(dirStr)
          val fs = d.getFileSystem(hconf.value.value)
          val bin = DeletionVectors.writeKeyBin(fs, d, runDir,
            deleted.iterator, keyKind == 2, taskId)
          DvDeltaMsg(Option(w).map(_.commit()), Array.empty,
            Seq(bin), deleted.size.toLong)
        }
      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = if (w != null) w.close()
    }
}


/** POSITION-DELTA row-level operation (r13 — SQL UPDATE / MERGE INTO, and
  * DELETEs whose predicate the metadata path cannot translate, on KEYLESS
  * merge-on-read tables): the keyless twin of [[StagingDeltaOperation]].
  * With no merge key to speak, the row id is the POSITION pair — the
  * `(_graft_file, _graft_pos)` metadata columns (the Iceberg `_file`/`_pos`
  * shape) — so Spark plans `WriteDelta` and the writers receive each
  * replaced row's exact (file, ordinal):
  *
  *   - replaced/deleted rows → run-encoded position sidecars written BY
  *     THE EXECUTORS (one immutable bin per (task, file) —
  *     [[DeletionVectors.writeRunFile]]); the driver sees only
  *     (file → bin names) and commits one descriptor;
  *   - replacement/new rows → ordinary new parquet files (lazy writers:
  *     a delete-only task lands no file);
  *   - commit = snapshot files ++ fresh, dvs ++ descriptor — NOTHING is
  *     rewritten. An UPDATE of 0.1% of rows scattered across a 100 TB
  *     table costs sidecar bytes + 0.1% new rows, not a table rewrite
  *     (the gap the group-based COW path left open for keyless tables).
  *
  * The operation's scan resolves through the position-row-id read path
  * ([[DeletionVectors.PosMetaReaderFactory]]): in-force position deletes
  * (inline AND distributed runs) are applied in-executor — ghost rows
  * never re-match — pushdown stays on (parquet-generated ordinals), and a
  * lineage table's `_row_id` rides along so replacement rows keep their
  * identity exactly as the keyed MOR path preserves it. The commit stays
  * optimistic against the snapshot version.
  */
private class StagingPosDeltaOperation(
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo,
    readDelegate: ParquetTable,
    writeDelegate: ParquetTable,
    tableFs: FileSystem,
    dir: Path,
    meta: TableMeta,
    snapshotVersion: Long,
    snapshotFiles: Option[Seq[String]],
    priorDvNames: Seq[String],
    priorPos: DeletionVectors.PosDvs,
    branch: Option[String] = None,
    lineage: Option[Map[String, RowLineage.Entry]] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    info.command()

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(DeletionVectors.FileMetaColName),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(DeletionVectors.PosMetaColName))

  /** An UPDATE's replacement row carries its preserved `_row_id` exactly
    * as on the keyed MOR path; a MERGE's NOT-MATCHED inserts carry NULL
    * and resolve fresh off their own file's base.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineage.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(RowLineage.MetaColName))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the position-row-id read path does all the work: widen the delegate
    // with the ordinal (and, on lineage tables, physical-id) carriers and
    // let the plain builder's `_graft_file`/`_graft_pos` branch resolve
    // the rewrite's requested columns, prune by zone maps, and filter
    // through the in-force position deletes
    val carriers =
      if (lineage.isDefined) Seq(RowLineage.PhysField, DeletionVectors.RowIdxField)
      else Seq(DeletionVectors.RowIdxField)
    val scanSrc =
      if (readDelegate.userSpecifiedSchema.isEmpty) readDelegate
      else readDelegate.copy(userSpecifiedSchema = readDelegate.userSpecifiedSchema.map(
        sch => StructType(sch.fields ++ carriers)))
    scanSrc.newScanBuilder(options) match {
      case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        val (stats, nulls) = StagingMaintenance.readStatsFor(tableFs, dir, meta.stats)
        new ZoneMapScanBuilder(fb, stats, nulls,
          dir.toString,
          () => StagingMaintenance.readBloomsFor(tableFs, dir),
          Map.empty, None,
          meta.partSpecsAll,
          Map.empty,
          priorPos,
          posIdxCapable = false,
          lineage = lineage)
      case other => other
    }
  }

  override def newWriteBuilder(lwi: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new org.apache.spark.sql.connector.write.DeltaBatchWrite {
              private val deleteOnly = lwi.schema().isEmpty
              private val lineageMeta = !deleteOnly && lineage.isDefined &&
                lwi.metadataSchema().isPresent &&
                lwi.metadataSchema().get().fieldNames
                  .exists(_.equalsIgnoreCase(RowLineage.MetaColName))
              private val innerInfo: LogicalWriteInfo =
                if (!lineageMeta) lwi
                else new LogicalWriteInfo {
                  override def options(): CaseInsensitiveStringMap = lwi.options()
                  override def queryId(): String = lwi.queryId()
                  override def schema(): StructType =
                    StructType(lwi.schema().fields :+ RowLineage.PhysField)
                  override def rowIdSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                  override def metadataSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                }
              private lazy val inner = writeDelegate.newWriteBuilder(innerInfo).build().toBatch
              private val check =
                if (deleteOnly) None
                else meta.check.map(c =>
                  (c, CheckConstraint.compile(SparkSession.active, c, lwi.schema())))
              // the id row's (file, pos) ordinals, resolved from the
              // declared rowId schema — never assumed positional
              private val (fileOrd: Int, posOrd: Int) = {
                val ridSchema = lwi.rowIdSchema().orElse(
                  StructType(Seq(
                    org.apache.spark.sql.types.StructField(
                      DeletionVectors.FileMetaColName,
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField(
                      DeletionVectors.PosMetaColName,
                      org.apache.spark.sql.types.LongType))))
                val f = ridSchema.fieldNames
                  .indexWhere(_.equalsIgnoreCase(DeletionVectors.FileMetaColName))
                val pp = ridSchema.fieldNames
                  .indexWhere(_.equalsIgnoreCase(DeletionVectors.PosMetaColName))
                require(f >= 0 && pp >= 0,
                  s"position delta rowId schema missing file/pos: $ridSchema")
                (f, pp)
              }
              // executor-written run sidecars land here; the descriptor
              // commit below is what makes them visible
              private val runDirName =
                s"dvr-${java.util.UUID.randomUUID().toString.take(12)}"
              private val runDirStr = {
                val rd = new Path(new Path(dir, DeletionVectors.DvDir), runDirName)
                tableFs.mkdirs(rd)
                rd.toString
              }
              private val hconf = ScanConf.broadcast(SparkSession.active)

              override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
                  : org.apache.spark.sql.connector.write.DeltaWriterFactory =
                new StagingPosDeltaWriterFactory(
                  if (deleteOnly) None else Some(inner.createBatchWriterFactory(pinfo)),
                  fileOrd, posOrd, check,
                  lineageMetaOrd =
                    if (!lineageMeta) -1
                    else lwi.metadataSchema().get().fieldNames
                      .indexWhere(_.equalsIgnoreCase(RowLineage.MetaColName)),
                  runDirStr, hconf)

              override def useCommitCoordinator(): Boolean =
                !deleteOnly && inner.useCommitCoordinator()

              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                val msgs = messages.collect { case m: PosDeltaMsg => m }
                val innerMsgs = msgs.flatMap(_.inner)
                val before = GraftStagingCatalog.dataFiles(tableFs, dir).toSet
                if (!deleteOnly) inner.commit(innerMsgs.toArray)
                val fresh = GraftStagingCatalog.dataFiles(tableFs, dir).filterNot(before)
                val bins = msgs.flatMap(_.bins)
                val snap = snapshotFiles.getOrElse(before.toSeq.sorted)
                val dvs =
                  if (bins.isEmpty) priorDvNames
                  else {
                    val perFile = bins.groupBy(_._1)
                      .map { case (f, bs) => f -> bs.map(_._2).toSeq }
                    priorDvNames :+ DeletionVectors.writeRunDescriptor(
                      tableFs, dir, runDirName, perFile,
                      bins.iterator.map(_._3).sum)
                  }
                GraftStagingCatalog.markUnsorted(tableFs, dir, fresh) // r14 readmission
                GraftStagingCatalog.writeExplicitManifest(tableFs, dir, meta, snap ++ fresh,
                  kind = info.command().toString.toLowerCase,
                  expectedBase = Some(snapshotVersion), dvs = dvs, branch = branch,
                  matFiles = if (lineageMeta) fresh.toSet else Set.empty)
                // BROAD-STATEMENT AUTO-FOLD (r14 — see
                // TableMeta.autoFold): with exact
                // post-statement information (per-file suppressed counts
                // from the writers' own bins), a statement that covered
                // most of the snapshot AND killed most of what it covered
                // folds its debt immediately — one extra pass over files
                // it already touched, instead of a table that suppresses
                // most of every file forever. Gates are ordered cheap-
                // first: the file-fraction test is free; row counts
                // (parquet footers, O(covered files), driver-side) are
                // read only once a statement has provably touched most of
                // the table. Fold failure never fails the statement — the
                // delta commit above is already correct, the fold is
                // layout maintenance.
                ZoneMapScan.lastDeltaAutoFold = None
                if (branch.isEmpty && bins.nonEmpty)
                  meta.autoFold.foreach { frac =>
                    try {
                      val coveredN = bins.iterator.map(_._1).toSet
                      if (snap.nonEmpty && coveredN.size >= frac * snap.size) {
                        val suppressed = bins.iterator.map(_._3).sum
                        // bins key borrowed clone files by BARE name —
                        // resolve through the snapshot's foreign entries or
                        // the footer job reads paths that do not exist
                        val snapSet = snap.toSet
                        val foreignByBare = snap.filter(TableClone.isForeign)
                          .groupBy(f => new Path(f).getName)
                          .collect { case (b, fs0) if fs0.size == 1 => b -> fs0.head }
                        val resolved = coveredN.toSeq.flatMap(f =>
                          if (snapSet(f)) Some(f) else foreignByBare.get(f))
                        val rowsCovered = GraftStagingCatalog.rowCountOf(
                          SparkSession.active, dir, resolved)
                        if (rowsCovered > 0L && suppressed >= frac * rowsCovered) {
                          // a fresh record: this commit's provenance
                          // edit must reach the fold's twins
                          val (_, _, v) = StagingMaintenance.foldDeltasAt(
                            SparkSession.active, tableFs, dir, TableMeta.read(tableFs, dir))
                          ZoneMapScan.lastDeltaAutoFold = Some(v)
                        }
                      }
                    } catch { case e: Exception =>
                      // best-effort layout maintenance: the delta commit
                      // above is already correct
                      System.err.println(
                        s"[graft] auto-fold after position-delta commit on $dir failed: $e")
                    }
                  }
              }

              override def abort(messages: Array[WriterCommitMessage]): Unit = {
                if (!deleteOnly)
                  inner.abort(messages.collect { case PosDeltaMsg(Some(m), _) => m })
                // best-effort: the never-referenced run dir is garbage now
                // (vacuum would reclaim it past the TTL regardless)
                try { tableFs.delete(new Path(runDirStr), true); () }
                catch { case _: Exception => () }
              }
            }
        }
    }
}

/** Per-task message of the position-delta write: the inner parquet commit
  * (None for delete-only tasks) plus the (file, bin, ordinals) run sidecars
  * this task wrote.
  */
private case class PosDeltaMsg(inner: Option[WriterCommitMessage],
    bins: Array[(String, String, Long)]) extends WriterCommitMessage

/** Executor-side factory of the position-delta write: buffers each covered
  * file's replaced ordinals (bounded by the task's own matched rows), and
  * at task commit sorts + run-encodes them into one sidecar bin per file —
  * the ordinals never leave the executor. Replacement rows flow to a lazy
  * parquet writer exactly as on the keyed delta path (CHECK enforced,
  * preserved `_row_id` landed when lineage rides along).
  */
private class StagingPosDeltaWriterFactory(
    inner: Option[DataWriterFactory],
    fileOrd: Int, posOrd: Int,
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
    lineageMetaOrd: Int,
    runDirStr: String,
    hconf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
      private var w: org.apache.spark.sql.connector.write.DataWriter[InternalRow] = _
      private val perFile = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      private val idRow = new GenericInternalRow(1)
      private val joined = new JoinedRow
      private val pred = check.map { case (text, bound) =>
        val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
        p.initialize(partitionId)
        (text, p)
      }

      private def recordDelete(id: InternalRow): Unit =
        perFile.getOrElseUpdate(id.getUTF8String(fileOrd).toString,
          scala.collection.mutable.ArrayBuffer.empty) += id.getLong(posOrd)

      private def sink(row: InternalRow, meta: InternalRow): Unit = {
        pred.foreach { case (text, p) =>
          if (!p.eval(row)) throw new IllegalArgumentException(
            s"CHECK constraint violated by row-level write: ($text)")
        }
        if (w == null) w = inner.getOrElse(throw new IllegalStateException(
          "position delta received a row on a delete-only plan"))
          .createWriter(partitionId, taskId)
        if (lineageMetaOrd < 0) w.write(row)
        else {
          if (meta == null || meta.isNullAt(lineageMetaOrd)) idRow.update(0, null)
          else idRow.update(0, meta.getLong(lineageMetaOrd))
          w.write(joined(row, idRow))
        }
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = recordDelete(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        recordDelete(id)
        sink(row, meta)
      }
      override def insert(row: InternalRow): Unit = sink(row, null)

      override def commit(): WriterCommitMessage = {
        val conf = hconf.value.value
        val bins = perFile.iterator.map { case (rel, ords) =>
          val sorted = ords.toArray
          java.util.Arrays.sort(sorted)
          val (bin, count) = DeletionVectors.writeRunFile(conf, runDirStr, rel,
            sorted.iterator)
          (rel, bin, count)
        }.toArray
        PosDeltaMsg(Option(w).map(_.commit()), bins)
      }
      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = if (w != null) w.close()
    }
}

/** Manifest machinery shared by the catalog and [[StagingMaintenance]].
  * Every function addresses storage exclusively through the Hadoop
  * `FileSystem` handle passed in — the API surface the reference implements
  * over object storage — never `java.io.File`.
  */
object GraftStagingCatalog {
  /** Schemas of the metadata table faces (`t.files` / `.partitions` /
    * `.snapshots`).
    */
  private[catalog] object MetadataFaces {
    import org.apache.spark.sql.types._
    private val schemas: Map[String, StructType] = Map(
      "files" -> StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("partition", StringType, nullable = true))),
      "partitions" -> StructType(Seq(
        StructField("partition", StringType, nullable = true),
        StructField("n_files", IntegerType, nullable = false),
        StructField("size_bytes", LongType, nullable = false))),
      "snapshots" -> StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("n_files", IntegerType, nullable = false))))
    def contains(name: String): Boolean = schemas.contains(name)
    def schemaOf(name: String): StructType = schemas(name)
  }
  private[catalog] val VersionsDir = "_graft_versions"
  private val VersionFile = "^v(\\d+)\\.json$".r

  /** Every file name any still-readable version could hand a snapshot:
    * the union across main-log manifests and every branch log's (what
    * RESTORE and rebase can resurrect) — the reachability set the
    * sort-order provenance marker is recorded and pruned against.
    */
  private[catalog] def reachableFiles(fs: FileSystem, d: Path): Set[String] =
    allManifests(fs, d).iterator.flatMap(Manifest.read(fs, _).files).toSet

  /** Any readable manifest (main or branch logs) of a DELTA kind
    * (update/merge)? Post-r14 delta commits self-register their fresh
    * files in the provenance marker, so a delta kind WITHOUT a marker can
    * only come from a pre-r14 history whose writer-shaped files the
    * marker never saw — the MOR ordering readmission must stay withdrawn
    * for such tables (plain tables' update/merge rewrites re-sort, so
    * they stay trusted as in r13).
    */
  private[catalog] def hasDeltaKindHistory(fs: FileSystem, d: Path): Boolean =
    allManifests(fs, d).exists { mf =>
      val k = Manifest.read(fs, mf).kind; k == "update" || k == "merge"
    }

  /** Registers delta-written files as sort-order-UNPROVEN (r14 — the
    * "sort-order readmission" candidate): a merge-on-read table's
    * replacement/upsert files are writer-shaped, not planner-sorted, so
    * they join the provenance marker; every OTHER write path on a
    * declared-sort-order table re-sorts (appends, rewrites, OPTIMIZE), so
    * with the marker tracking exactly the delta files, a MOR table can
    * REPORT per-partition ordering whenever the scanned snapshot holds
    * none of them — the common steady state of a compacted CDC table,
    * which the r13 blanket MOR exclusion kept sort-heavy forever. Marked
    * BEFORE the manifest commits (a crash in between over-marks, which is
    * merely conservative). `since = 0` keeps the version gate neutral.
    */
  private[catalog] def markUnsorted(fs: FileSystem, d: Path, files: Seq[String]): Unit =
    if (files.nonEmpty) {
      TableMeta.update(fs, d) { m =>
        if (m.sortOrder.isEmpty) m
        else m.copy(sortUnproven = Some((m.sortUnproven.map(_._1).getOrElse(0L),
          m.sortUnproven.map(_._2).getOrElse(Set.empty[String]) ++ files)))
      }
      ()
    }

  /** A rewrite's TWINS keep their originals' row order, so the twins of
    * unproven files join the marker (twins of proven files stay proven).
    * The marker is read here, after the caller resolved the head it
    * rewrote: a commit that marked a file and published it after the
    * caller loaded its record still hands its mark on to the file's twin.
    */
  private[catalog] def markTwinsUnsorted(fs: FileSystem, d: Path,
      twins: Iterable[(String, Seq[String])]): Unit =
    if (twins.nonEmpty) {
      TableMeta.update(fs, d) { m =>
        m.sortUnproven match {
          case Some((since, unproven)) =>
            val news = twins.iterator.collect {
              case (old, ns) if unproven(old) => ns
            }.flatten.toSet
            if (news.isEmpty) m else m.copy(sortUnproven = Some((since, unproven ++ news)))
          case None => m
        }
      }
      ()
    }

  private[catalog] val TagsSidecar = "_graft_tags.tsv"

  /** Named version TAGS (`name → version`) — the reproducible-training
    * anchor: a tag pins a version BY NAME for `VERSION AS OF '<name>'`
    * reads and protects that version's manifest, data files, and deletion
    * vectors from VACUUM until the tag is dropped. Iceberg-tag semantics
    * over the same one-file-per-version log.
    */
  private[catalog] def readTags(fs: FileSystem, d: Path): Map[String, Long] = {
    val p = new Path(d, TagsSidecar)
    if (!isFile(fs, p)) Map.empty
    else readString(fs, p).split('\n').iterator.filter(_.nonEmpty).map { line =>
      val Array(name, v) = line.split('\t')
      name -> v.toLong
    }.toMap
  }

  private[catalog] def writeTags(fs: FileSystem, d: Path, tags: Map[String, Long]): Unit =
    synchronized {
      val p = new Path(d, TagsSidecar)
      if (tags.isEmpty) { fs.delete(p, false); () }
      else writeString(fs, p,
        tags.toSeq.sortBy(_._1).map { case (n, v) => s"$n\t$v" }.mkString("\n"))
    }

  /** One declared partition transform. `dirPrefix` is the `name=` directory
    * component OPTIMIZE's layout writes and the path-based pruner matches;
    * the transform SOURCE column always stays IN the data files (the q304
    * rule), so reads never depend on directory structure.
    */
  private[catalog] sealed trait PartSpec {
    def col: String
    def render: String
    def dirPrefix: String
  }
  private[catalog] final case class IdentityPart(col: String) extends PartSpec {
    def render: String = col
    def dirPrefix: String = s"$col="
  }
  private[catalog] final case class DaysPart(col: String) extends PartSpec {
    def render: String = s"days($col)"
    def dirPrefix: String = s"${col}_day="
  }
  /** Bucket residue is the catalog's canonical `mod_bucket`
    * (((k % n) + n) % n — [[StagingFunctions.ModBucket]]), so SQL, writers,
    * and the pruner agree on file assignment.
    */
  private[catalog] final case class BucketPart(n: Int, col: String) extends PartSpec {
    def render: String = s"bucket($n,$col)"
    def dirPrefix: String = s"${col}_bucket="
  }

  private val DaysRe = "(?i)days\\(([^)]+)\\)".r
  private val BucketRe = "(?i)bucket\\((\\d+)\\s*,\\s*([^)]+)\\)".r

  private[catalog] def parsePartSpec(s: String): PartSpec = s.trim match {
    case DaysRe(c)      => DaysPart(c.trim)
    case BucketRe(n, c) => BucketPart(n.toInt, c.trim)
    case c              => IdentityPart(c)
  }

  private[catalog] def isFile(fs: FileSystem, p: Path): Boolean =
    try fs.getFileStatus(p).isFile catch { case _: FileNotFoundException => false }

  private[catalog] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, UTF_8)
    } finally in.close()
  }

  /** Plain (idempotent-overwrite) small-file write — sidecars only, never
    * manifests: a manifest must be create-exclusive ([[tryCreateExclusive]]).
    */
  private[catalog] def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** CREATE-EXCLUSIVE write: succeeds iff `p` did not exist — the commit
    * primitive that replaces rename-as-commit (SURVEY §7's object-store
    * hazard; the reference's own rename is copy-then-delete,
    * `CephRgwFileSystem.java:310-313`). Returns false when the create was
    * lost to a racer; any other I/O failure propagates.
    *
    * FILESYSTEM CONTRACT for MULTI-writer (multi-JVM) safety: the store's
    * `create(path, overwrite=false)` must be ATOMIC create-no-overwrite.
    * HDFS and Ceph RGW conditional writes satisfy this; Hadoop
    * LocalFileSystem and S3A (without conditional-write support) implement
    * overwrite=false as a non-atomic exists-check-then-create, so two
    * SEPARATE driver JVMs racing the same version could both pass the
    * check. Within one JVM the manifest writers serialize on this
    * companion object's lock, so single-driver deployments (and every
    * test here) are safe on any store. As a cheap tear detector on
    * non-atomic stores, the write is verified by LENGTH after close: a
    * concurrent overwrite of a different-sized manifest surfaces as a
    * failed commit rather than a silently torn version.
    */
  private[catalog] def tryCreateExclusive(fs: FileSystem, p: Path, s: String): Boolean =
    try {
      val bytes = s.getBytes(UTF_8)
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
      // verify-after-close: on stores whose overwrite=false is
      // check-then-create this catches the lost-race torn write
      fs.getFileStatus(p).getLen == bytes.length.toLong
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: IOException if isFile(fs, p) => false // FS reported the race as a plain IOE
    }

  private val SchemaEra = "^schema_upto_v(\\d+)\\.json$".r

  /** Schema governing reads of version `v`: every ALTER snapshots the
    * pre-alter schema as `schema_upto_v<latest>.json`, so time travel reads
    * a version with the declared schema OF ITS ERA (a post-drop pin still
    * shows the dropped column; a pre-add pin doesn't show the added one).
    * The smallest `upto ≥ v` wins; no snapshot → the current declared schema.
    */
  private[catalog] val EraDir = "eras"

  private[catalog] def schemaAtVersion(fs: FileSystem, d: Path, v: Long,
      meta: => TableMeta): Option[StructType] = {
    // era snapshots live under eras/ since r10, but tables ALTERed before
    // that wrote them directly under the versions dir — list BOTH homes, or
    // a pinned read of a pre-upgrade table would silently resolve to the
    // current declared schema instead of its era's
    def listEras(p: Path): Seq[(Long, Path)] =
      (try fs.listStatus(p).toIndexedSeq
       catch { case _: FileNotFoundException => Seq.empty })
        .flatMap { f =>
          f.getPath.getName match {
            case SchemaEra(upto) if upto.toLong >= v => Some(upto.toLong -> f.getPath)
            case _                                   => None
          }
        }
    val vd = new Path(d, VersionsDir)
    val eras = (listEras(new Path(vd, EraDir)) ++ listEras(vd)).sortBy(_._1)
    eras.headOption
      .map { case (_, p) => DataType.fromJson(readString(fs, p)).asInstanceOf[StructType] }
      .orElse(meta.schema)
  }

  /** RENAME COLUMN's copy-on-write rewrite: read the current file set with
    * the PRE-rename schema, rename, land new files, commit kind=rename
    * against the base the rewrite scanned (optimistic). No-op on an empty
    * uncommitted table.
    */
  private[catalog] def rewriteRenamed(fs: FileSystem, d: Path, meta: TableMeta,
      renames: Seq[(String, String)], oldSchema: StructType): Unit = {
    val spark = SparkSession.active
    val latest = readHead(fs, d)
    val base = latest.fold(0L)(_._1)
    val current = latest.fold(dataFiles(fs, d))(_._2.files)
    if (current.isEmpty && latest.isEmpty) return
    val kept: Seq[String] =
      if (current.isEmpty) Seq.empty
      else {
        // rename rewrites EVERY current file: fold active deletion vectors
        // (suppressed rows must not resurrect under the new column names)
        var df = DeletionVectors.Deletes.load(fs, d, meta.mor,
            latest.fold(Seq.empty[String])(_._2.dvs))
          .applyTo(spark.read.schema(oldSchema)
            .parquet(current.map(f => new Path(d, f).toString): _*))
        renames.foreach { case (from, to) => df = df.withColumnRenamed(from, to) }
        // sort-order preservation (r13) — rename rewrites every file; keep
        // each output file sorted on the (possibly just-renamed) order
        locally {
          val so = meta.sortOrder
            .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
          if (so.nonEmpty)
            df = df.sortWithinPartitions(
              so.map(org.apache.spark.sql.functions.col): _*)
        }
        StagedRewrite(fs, d, "rename") { (token, tmp) =>
          df.write.mode("overwrite").parquet(tmp.toString)
          StagedRewrite.publish(fs, d, tmp)((part, _) => s"ren-$token-$part")
        }
      }
    writeExplicitManifest(fs, d, meta, kept, kind = "rename", expectedBase = Some(base))
  }

  private[catalog] def versionManifests(fs: FileSystem, d: Path): Seq[(Long, Path)] = {
    bump(fullLogListings, d)
    logManifests(fs, new Path(d, VersionsDir))
  }

  /** The (version, manifest) entries of log directory `ld`, ascending. */
  private def logManifests(fs: FileSystem, ld: Path): Seq[(Long, Path)] =
    (try fs.listStatus(ld).toIndexedSeq
     catch { case _: FileNotFoundException => Seq.empty })
      .flatMap { f =>
        f.getPath.getName match {
          case VersionFile(v) => Some(v.toLong -> f.getPath)
          case _              => None
        }
      }.sortBy(_._1)

  /** Every readable manifest: main's log, then each live branch's. */
  private[catalog] def allManifests(fs: FileSystem, d: Path): Seq[Path] =
    versionManifests(fs, d).map(_._2) ++ readBranches(fs, d).keys.toSeq.sorted
      .flatMap(b => branchManifests(fs, d, b).map(_._2))

  // ---- manifest-log checkpointing (the Delta `_last_checkpoint` shape) --
  //
  // The one-file-per-version log is the commit protocol; LISTING it is the
  // scale hazard: a table streamed into for weeks holds thousands of
  // manifests, and resolving "what is current" by listStatus-and-sort pays
  // O(versions) per read — the exact failure mode Delta checkpoints /
  // Iceberg manifest lists exist for (and per-entry cost is the reference's
  // own cost model for its readdir surface, CephRgwFileSystem.java:374-386).
  // Every manifest here is already a full SNAPSHOT (complete `files` +
  // `dvs`), so the missing piece is cheap HEAD DISCOVERY plus a compacted
  // home for the only cross-version scan on the read/commit path (the
  // streaming exactly-once batchId ledger):
  //
  //   - `ckpt-v<N>.json` — the fully-resolved state at version N: current
  //     file set, active deletion vectors, and the COMPLETE batchId ledger
  //     up to N. Written every `graft.checkpoint-interval`-th commit
  //     (default 10) and by VACUUM (which re-points at a version it
  //     retains, and whose ledger snapshot preserves exactly-once across
  //     manifest reclamation — previously a vacuumed append FORGOT its
  //     batchId).
  //   - `_last_ckpt` — one line naming the latest checkpoint version.
  //     Readers resolve the head as pointer + FORWARD PROBES (versions are
  //     dense ascending integers, so probe v+1, v+2, … until absent):
  //     O(commits since checkpoint) reads, independent of history length.
  //
  // The pointer overwrite is not atomic and the pointer is never a
  // correctness dependency: a missing/torn/stale pointer (young table,
  // crash window, pointed manifest reclaimed by a pre-checkpoint VACUUM)
  // falls back to the full listing. Diagnostic counters let tests PIN the
  // bounded-resolution contract instead of trusting it.

  /** O(versions) listings of a version log (the expensive path), PER TABLE
    * DIR — per-table so a test pins its own table's resolution cost while
    * other suites churn their catalogs in parallel.
    */
  private[catalog] val fullLogListings =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Single-manifest existence probes (the bounded path), per table dir. */
  private[catalog] val manifestProbes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def bump(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
      d: Path): Unit = { m.merge(d.toString, 1L, (a, b) => a + b); () }
  private[catalog] def countFor(
      m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
      d: Path): Long = Option(m.get(d.toString)).map(_.longValue).getOrElse(0L)

  private[catalog] val CkptPointer = "_last_ckpt"

  private[catalog] def manifestPath(d: Path, v: Long): Path =
    new Path(new Path(d, VersionsDir), s"v$v.json")

  private[catalog] def probeManifest(fs: FileSystem, d: Path, v: Long): Option[Path] = {
    bump(manifestProbes, d)
    val p = manifestPath(d, v)
    if (isFile(fs, p)) Some(p) else None
  }

  private[catalog] def readCkptPointer(fs: FileSystem, d: Path): Option[Long] = {
    val p = new Path(new Path(d, VersionsDir), CkptPointer)
    try { if (isFile(fs, p)) Some(readString(fs, p).trim.toLong) else None }
    catch { case _: Exception => None } // torn pointer → listing fallback
  }

  /** Head (version, manifest) WITHOUT listing the log when a checkpoint
    * pointer exists; falls back to [[versionManifests]] otherwise.
    */
  private[catalog] def headManifest(fs: FileSystem, d: Path): Option[(Long, Path)] =
    readCkptPointer(fs, d) match {
      case Some(cv) if probeManifest(fs, d, cv).isDefined =>
        var v = cv
        while (probeManifest(fs, d, v + 1L).isDefined) v += 1L
        Some(v -> manifestPath(d, v))
      case _ => versionManifests(fs, d).lastOption
    }

  /** Head (version, record) of main (`branch` None) or of a branch. */
  private[catalog] def readHead(fs: FileSystem, d: Path,
      branch: Option[String] = None): Option[(Long, Manifest)] =
    branch.fold(headManifest(fs, d))(b => branchHead(fs, d, b))
      .map { case (v, mf) => v -> Manifest.read(fs, mf) }

  /** Version `v` of main's log, if it is still there. */
  private[catalog] def readVersion(fs: FileSystem, d: Path, v: Long): Option[Manifest] =
    probeManifest(fs, d, v).map(Manifest.read(fs, _))

  private[catalog] def writeCheckpoint(fs: FileSystem, d: Path, c: Checkpoint): Unit = {
    val vd = new Path(d, VersionsDir)
    val dest = new Path(vd, s"ckpt-v${c.version}.json")
    // NEVER rewrite a valid existing checkpoint in place (VACUUM used to,
    // when the head was already checkpointed): the resolved state at a
    // version is deterministic, so a valid file is already the right bytes,
    // and an in-place overwrite opens a torn-read window on the exactly-once
    // ledger — a crash mid-write would leave a truncated file that a
    // concurrent reader parses as an EMPTY ledger.
    if (readCheckpoint(fs, d, c.version).isEmpty) {
      // crash-safe publication: land the bytes under a temp name, then
      // rename into place — readers only ever see absent or complete
      val tmp = new Path(vd,
        s".ckpt-v${c.version}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      writeString(fs, tmp, c.json)
      if (isFile(fs, dest)) fs.delete(dest, false) // invalid (sentinel-less) leftover
      if (!fs.rename(tmp, dest)) { fs.delete(tmp, false); () } // racer published: theirs is valid
    }
    writeString(fs, new Path(vd, CkptPointer), c.version.toString)
  }

  /** The manifests after version `v` up to the head, each decoded once. */
  private def manifestsAfter(fs: FileSystem, d: Path, v: Long): Seq[(Long, Manifest)] =
    Iterator.iterate(v + 1L)(_ + 1L).map(nv => nv -> probeManifest(fs, d, nv))
      .takeWhile(_._2.isDefined).map { case (nv, mf) => nv -> Manifest.read(fs, mf.get) }.toSeq

  /** The pointed checkpoint, when it reads complete, and the manifests the
    * exactly-once ledger needs beyond it: those after it, or the whole log
    * without one — one walk, each manifest decoded once.
    */
  private def logWalk(fs: FileSystem, d: Path): (Option[Checkpoint], Seq[(Long, Manifest)]) = {
    val c = readCkptPointer(fs, d).flatMap(readCheckpoint(fs, d, _))
    (c, c.fold(versionManifests(fs, d).map { case (v, mf) => v -> Manifest.read(fs, mf) })(
      ck => manifestsAfter(fs, d, ck.version)))
  }

  /** (version, commit-ts) of every RETAINED version up to the head,
    * assembled BOUNDEDLY when a checkpoint carries history; None when it
    * cannot be (no pointer, or a pre-history checkpoint) — the caller falls
    * back to the listing.
    */
  private[catalog] def boundedHistory(fs: FileSystem, d: Path): Option[Seq[(Long, Long)]] =
    readCkptPointer(fs, d).flatMap(readCheckpoint(fs, d, _)).filter(_.history.nonEmpty)
      .map(c => c.history.filter(_._1 <= c.version) ++
        manifestsAfter(fs, d, c.version).map { case (v, m) => v -> m.ts })

  /** The ledger and the history for a checkpoint about to be written at
    * the current head, from one [[logWalk]]; a pre-history checkpoint adds
    * one full listing for the history, the one-time upgrade cost.
    */
  private[catalog] def ledgerAndHistory(fs: FileSystem, d: Path): (Set[Long], Seq[(Long, Long)]) = {
    val (c, ms) = logWalk(fs, d)
    val ts = ms.map { case (v, m) => v -> m.ts }
    val history = c.fold(ts) { ck =>
      if (ck.history.nonEmpty) ck.history.filter(_._1 <= ck.version) ++ ts
      else versionManifests(fs, d).map { case (v, mf) => v -> Manifest.read(fs, mf).ts }
    }
    (c.fold(Set.empty[Long])(_.batchIds) ++ ms.flatMap(_._2.batchId), history)
  }

  /** Checkpoint `v` iff the file exists AND decodes complete — a torn
    * checkpoint (crash mid-write on a pre-rename store) reads as ABSENT, so
    * its callers fall back to the full listing, which is slow but always
    * correct.
    */
  private[catalog] def readCheckpoint(fs: FileSystem, d: Path, v: Long): Option[Checkpoint] = {
    val p = new Path(new Path(d, VersionsDir), s"ckpt-v$v.json")
    try {
      if (!isFile(fs, p)) None
      else Checkpoint.decode(readString(fs, p))
    } catch {
      // an unreadable checkpoint (checksum mismatch, concurrent replace on
      // a non-atomic store) is the same as a torn one: absent
      case _: IOException => None
    }
  }

  /** Post-commit hook: checkpoint every interval-th version. The ledger
    * and history are assembled through the PREVIOUS checkpoint, so the
    * walk is bounded by the interval, not the history.
    */
  private[catalog] def maybeCheckpoint(fs: FileSystem, d: Path, meta: TableMeta, v: Long,
      files: Seq[String], dvs: Seq[String]): Unit =
    if (v % meta.checkpointEvery == 0L) {
      val (batchIds, history) = ledgerAndHistory(fs, d)
      writeCheckpoint(fs, d, Checkpoint(v, batchIds, history, dvs, files))
    }

  // ---- writable branches (write-audit-publish) --------------------------
  //
  // A BRANCH forks the version log at the current head: branch commits land
  // as `_graft_versions/b_<name>/v<N>.json` (numbering continues from the
  // fork, each manifest a full snapshot exactly like main's), main stays
  // untouched, and `CALL publish` FAST-FORWARDS main by copying the branch
  // manifests into the main log — legal precisely when main has not
  // advanced past the fork (checked under the manifest monitor; otherwise
  // a conflict). This is the write-audit-publish pattern every production
  // curation pipeline runs: ingest lands on the branch, expectations (q265)
  // audit the branch face, and only a passing audit publishes — a failed
  // batch never becomes visible to main's readers, and `drop_branch`
  // discards it (its files become VACUUM-reclaimable orphans). Data files
  // of branch commits live in the SAME table dir (manifests are the only
  // fork), so publish moves zero data bytes. The registry sidecar
  // `_graft_branches.tsv` maps name → fork version; branch fork manifests
  // and branch-referenced files are VACUUM-exempt while the branch lives.

  private[catalog] val BranchesSidecar = "_graft_branches.tsv"

  private[catalog] def readBranches(fs: FileSystem, d: Path): Map[String, Long] = {
    val p = new Path(d, BranchesSidecar)
    if (!isFile(fs, p)) Map.empty
    else readString(fs, p).split('\n').iterator.filter(_.nonEmpty).map { line =>
      val Array(name, v) = line.split('\t')
      name -> v.toLong
    }.toMap
  }

  private[catalog] def writeBranches(fs: FileSystem, d: Path, bs: Map[String, Long]): Unit =
    synchronized {
      val p = new Path(d, BranchesSidecar)
      if (bs.isEmpty) { fs.delete(p, false); () }
      else writeString(fs, p,
        bs.toSeq.sortBy(_._1).map { case (n, v) => s"$n\t$v" }.mkString("\n"))
    }

  private[catalog] def branchLogDir(d: Path, name: String): Path =
    new Path(new Path(d, VersionsDir), s"b_$name")

  /** Branch-log manifests, ascending. Branch logs are short-lived (one
    * ingest-audit cycle), so a plain listing is the right cost.
    */
  private[catalog] def branchManifests(fs: FileSystem, d: Path, name: String): Seq[(Long, Path)] =
    logManifests(fs, branchLogDir(d, name))

  /** Head (version, manifest) of a branch: its own latest commit, else the
    * fork-point manifest from the main log (a fresh branch reads exactly
    * what main read when it forked). None only for a branch forked at an
    * empty (never-committed) table.
    */
  private[catalog] def branchHead(fs: FileSystem, d: Path, name: String): Option[(Long, Path)] =
    branchManifests(fs, d, name).lastOption.orElse {
      readBranches(fs, d).get(name).filter(_ > 0L)
        .flatMap(f => probeManifest(fs, d, f).map(f -> _))
    }

  /** Reclaim checkpoint files older than the (just-rewritten) pointer —
    * VACUUM housekeeping; the pointed checkpoint always survives.
    */
  private[catalog] def dropStaleCheckpoints(fs: FileSystem, d: Path): Unit = {
    val keep = readCkptPointer(fs, d)
    val CkptFile = "^ckpt-v(\\d+)\\.json$".r
    (try fs.listStatus(new Path(d, VersionsDir)).toIndexedSeq
     catch { case _: FileNotFoundException => Seq.empty })
      .foreach { f =>
        f.getPath.getName match {
          case CkptFile(v) if !keep.contains(v.toLong) => fs.delete(f.getPath, false); ()
          // temp files from crashed checkpoint publications
          case n if n.startsWith(".ckpt-") && n.endsWith(".tmp") =>
            fs.delete(f.getPath, false); ()
          case _ => ()
        }
      }
  }

  /** Per-file parquet row counts of `files` under `d` — footer reads
    * pushed to the EXECUTORS (one task per slice of files), so a broad
    * statement's auto-fold gate or a purge's twin-boundary computation on
    * a 100k-file table never serializes metadata I/O on the driver.
    */
  private[catalog] def rowCountsOf(spark: SparkSession,
      d: Path, files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) Map.empty
    else {
      val dirStr = d.toString
      val hconf = ScanConf.broadcast(spark)
      spark.sparkContext.parallelize(files,
          math.min(files.size, math.max(1, spark.sparkContext.defaultParallelism)))
        .map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new Path(dirStr, f), hconf.value.value))
          try f -> r.getRecordCount finally r.close()
        }.collect().toMap
    }
  }

  /** Total row count across `files` — the [[rowCountsOf]] sum. */
  private[catalog] def rowCountOf(spark: SparkSession,
      d: Path, files: Seq[String]): Long =
    rowCountsOf(spark, d, files).valuesIterator.sum

  /** Data files of the table dir as RELATIVE paths (excludes the schema
    * sidecar, the versions dir, and committer temporaries). RECURSIVE since
    * r8: a partition-laid-out table keeps its files under `k=v/` subdirs
    * (the reference's readdir namespace, `CephRgwFileSystem.java:374-386`)
    * and manifests reference them as `k=v/<file>`; any path COMPONENT
    * starting with `_` or `.` (committer staging, sidecars, versions) is
    * excluded wherever it nests.
    */
  private[catalog] def dataFiles(fs: FileSystem, d: Path): Seq[String] = {
    val out = Seq.newBuilder[String]
    // manual walk, pruning `_`/`.` entries BEFORE descending: a blanket
    // recursive listing would walk INTO a concurrent job's `_temporary`
    // tree and race its task-commit deletions (observed as shell-permission
    // errors on vanished dirs under RawLocalFileSystem)
    def walk(p: Path, rel: String): Unit = {
      val entries =
        try fs.listStatus(p).toIndexedSeq
        catch { case _: FileNotFoundException => return }
      entries.foreach { f =>
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (f.isFile) out += r else walk(f.getPath, r)
        }
      }
    }
    walk(d, "")
    out.result().sorted
  }

  /** Micro-batch ids recorded by prior commits (the exactly-once ledger).
    * Consulted on every streaming commit, so it must not walk the whole
    * log: with a checkpoint it reads the snapshot's ledger plus only the
    * manifests committed since. The checkpointed ledger also survives
    * VACUUM reclaiming the manifests that recorded it.
    */
  private[catalog] def committedBatchIds(fs: FileSystem, d: Path): Set[Long] = {
    val (c, ms) = logWalk(fs, d)
    c.fold(Set.empty[Long])(_.batchIds) ++ ms.flatMap(_._2.batchId)
  }

  /** The exactly-once ledger for a WRITE FACE: main's ledger, plus — for a
    * branch face — the batchIds the branch's own commits recorded. Branch
    * logs are short-lived (one ingest-audit cycle) so the extra reads are a
    * bounded listing, and a replayed branch micro-batch is recognized as
    * committed instead of landing twice and publishing duplicates.
    */
  private[catalog] def committedBatchIdsFor(fs: FileSystem, d: Path,
      branch: Option[String]): Set[Long] = {
    val main = committedBatchIds(fs, d)
    branch.fold(main) { b =>
      main ++ branchManifests(fs, d, b).flatMap { case (_, mf) => Manifest.read(fs, mf).batchId }
    }
  }

  /** Commit hook for APPENDS: the new version = previous current set ∪
    * exactly the files this commit's job moved in (the before/after
    * directory delta). Pre-OPTIMIZE originals (on disk, not current) and
    * orphans from crashed commits are both in `before`, so neither can
    * enter the new version — the former stay time-travel-only, the latter
    * stay invisible until VACUUM reclaims them. Appends MERGE: losing the
    * create-exclusive race just re-reads the advanced current set and
    * retries as the next version — no append is ever lost and none
    * conflicts.
    */
  private[catalog] def writeCommitManifest(fs: FileSystem, d: Path, meta: TableMeta,
      before: Set[String],
      batchId: Option[Long] = None, branch: Option[String] = None): Unit =
    synchronized {
      val vd = branch.fold(new Path(d, VersionsDir))(b => branchLogDir(d, b))
      fs.mkdirs(vd)
      var committed = false
      while (!committed) {
        // a branch append's base is the BRANCH head (falling back to the
        // fork manifest) — main's log is never consulted nor advanced
        val latest = readHead(fs, d, branch)
        val prev = latest.map(_._2)
        val next = latest.fold(0L)(_._1) + 1L
        val files = (prev.fold(Seq.empty[String])(_.files) ++
          dataFiles(fs, d).filterNot(before)).distinct.sorted
        // appends CARRY the active deletion vectors: DVs are file-scoped,
        // so they can never suppress rows of this commit's new files
        val dvs = prev.fold(Seq.empty[String])(_.dvs)
        // lineage tables: carried files keep their id bases, this commit's
        // new files get fresh virtual bases off the watermark — pure
        // manifest arithmetic, atomic under the same create-exclusive race.
        // The floor spans main + every branch log (branch-aware allocation)
        val rids =
          if (!meta.rowLineage) None
          else Some(assignLeased(fs, d, prev, prev, files, Set.empty, branch))
        committed = Manifest.create(fs, new Path(vd, s"v$next.json"),
          Manifest(System.currentTimeMillis(), "commit", batchId, dvs,
            rids.fold(Map.empty[String, RowLineage.Entry])(_._1), rids.map(_._2), files))
        if (committed && branch.isEmpty) maybeCheckpoint(fs, d, meta, next, files, dvs)
      }
    }

  /** CROSS-PROCESS row-id allocation leases (r13). The watermark floor
    * serializes allocation within one JVM (the catalog monitor), but two
    * DRIVER PROCESSES sharing a table dir read floors independently and
    * commit to DIFFERENT log files (main vs a branch), so both can hand
    * out the same base range — previously caught only as a rebase
    * REFUSAL. A lease makes the allocation itself atomic across
    * processes: before committing, an allocating writer CLAIMS its range
    * by create-exclusive `_graft_rowlease/lease-<start>` (content = the
    * range end). Claims at the same start collide on the NAME — exactly
    * one process wins; the loser re-reads the floors (which now include
    * the winner's lease end) and retries above it. Starts are always the
    * max of every visible watermark and lease end, so overlapping ranges
    * with DIFFERENT starts cannot arise (a start strictly inside a
    * claimed range would require observing a watermark inside it, which
    * only a commit inside it could produce — induction grounds out at
    * the same-start collision). A crashed claim permanently skips its
    * range — ids are 2^32-strided, skipping is free; vacuum reclaims
    * leases the logs have overtaken. The rebase collision guard stays as
    * defense in depth (pre-lease tables, vacuumed ledgers).
    */
  private[catalog] val RowLeaseDir = "_graft_rowlease"

  /** Lease retention TTL (content field 2, millis epoch): the claim and
    * its manifest commit happen inside ONE monitor-held call
    * ([[assignLeased]]'s caller writes the manifest in the same block), so
    * any lease still live this long after its claim belongs to a crashed
    * writer — vacuum may reclaim it even ABOVE the watermark, bounding
    * lease-dir growth (and so [[leaseFloor]] cost) on long-lived tables
    * (advice r13). An hour dwarfs both the claim→commit gap (milliseconds)
    * and plausible cross-process clock skew.
    */
  private[catalog] val LeaseTtlMs = 60L * 60 * 1000

  /** A torn (content-unparsable) lease may only be superseded once it is
    * old enough that no live pre-r14 writer could still be between its
    * create and write calls.
    */
  private[catalog] val TornLeaseGraceMs = 30L * 1000

  /** Lease content is `<end>` (r13) or `<end>,<expiresAtMs>` (r14). */
  private[catalog] def leaseEnd(content: String): Option[Long] =
    try Some(content.trim.split(',')(0).toLong) catch { case _: Exception => None }

  /** Max end across visible leases — joins the watermark floor. */
  private[catalog] def leaseFloor(fs: FileSystem, d: Path): Long = {
    val ld = new Path(d, RowLeaseDir)
    (try fs.listStatus(ld).toIndexedSeq
     catch { case _: java.io.FileNotFoundException => IndexedSeq.empty })
      .iterator.filter(st => st.isFile && st.getPath.getName.startsWith("lease-"))
      .map(st =>
        (try leaseEnd(readString(fs, st.getPath)) catch { case _: Exception => None })
          .getOrElse(0L)) // torn write: ignore (floor-safe)
      .foldLeft(0L)(math.max)
  }

  /** ATOMIC lease claim (advice r13): content lands under a dot-temp name
    * and RENAMEs into `lease-<start>`, so the claimed name appears only
    * with its content COMPLETE — a crash anywhere leaves either nothing or
    * an ignorable `.tmp-` orphan (vacuum sweeps those), never an empty
    * `lease-<start>` that pins the floor at the same start forever and
    * wedges every later allocation. HDFS (and RGW-style stores) rename is
    * atomic and fails on an existing destination, giving exclusivity too;
    * LocalFileSystem rename overwrites — the same multi-JVM caveat as
    * [[tryCreateExclusive]], and in-JVM the catalog monitor serializes.
    */
  private[catalog] def tryClaimLease(fs: FileSystem, ld: Path, start: Long,
      content: String): Boolean = {
    val dst = new Path(ld, s"lease-$start")
    if (isFile(fs, dst)) return false
    val tmp = new Path(ld, s".tmp-lease-$start-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    val ok = try fs.rename(tmp, dst) catch { case _: IOException => false }
    if (!ok) { try { fs.delete(tmp, false); () } catch { case _: IOException => () } }
    ok
  }

  /** Supersede a TORN lease (exists but content-unparsable — only a
    * pre-r14 crash between create and write can mint one; [[tryClaimLease]]
    * cannot): its owner never saw a successful claim return, so no commit
    * can ever reference the range — deleting it un-wedges the allocator
    * instead of spinning at the same start forever. Guards: the file must
    * be older than [[TornLeaseGraceMs]] (no live slow writer), and a
    * re-stat must show the SAME (len, mtime) immediately before the delete
    * (a racing live replacement carries content, so its length differs).
    */
  private[catalog] def supersedeTornLease(fs: FileSystem, p: Path): Unit =
    try {
      val st0 = fs.getFileStatus(p)
      val torn = leaseEnd(readString(fs, p)).isEmpty
      if (torn && st0.getModificationTime <
          System.currentTimeMillis() - TornLeaseGraceMs) {
        val st1 = fs.getFileStatus(p)
        if (st1.getLen == st0.getLen &&
            st1.getModificationTime == st0.getModificationTime) {
          fs.delete(p, false); ()
        }
      }
    } catch { case _: FileNotFoundException => () }

  /** Lineage assignment with a cross-process allocation lease: claims the
    * fresh range `[allocStart, next)` before the caller commits. No fresh
    * files ⇒ nothing to claim. Called under the catalog monitor.
    */
  private[catalog] def assignLeased(fs: FileSystem, d: Path,
      prevMap: Option[Manifest], nextFrom: Option[Manifest],
      files: Seq[String], mat: Set[String],
      ownBranch: Option[String]): (Map[String, RowLineage.Entry], Long) = {
    while (true) {
      val floor = math.max(lineageFloor(fs, d, ownBranch), leaseFloor(fs, d))
      val a = RowLineage.assignRange(prevMap, nextFrom, files, mat, floor)
      if (a.freshCount == 0) return (a.entries, a.next)
      val ld = new Path(d, RowLeaseDir)
      fs.mkdirs(ld)
      if (tryClaimLease(fs, ld, a.allocStart,
          s"${a.next},${System.currentTimeMillis() + LeaseTtlMs}"))
        return (a.entries, a.next)
      // lost the claim to another PROCESS: usually its lease end is
      // visible now and the re-read floor moves this allocation above it.
      // A TORN legacy lease would keep the floor unchanged forever —
      // supersede it (safe: its owner never saw a successful claim)
      supersedeTornLease(fs, new Path(ld, s"lease-${a.allocStart}"))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Branch-aware row-id allocation floor (r12): the max `nextRowId`
    * watermark across every log OTHER than the one being committed to
    * (`ownBranch` = None for a main commit). The committing log's own
    * watermark rides in through the caller's `nextFrom`, so reading it
    * again here would only duplicate manifest I/O on the streaming-ingest
    * hot path. Every lineage commit allocates at or above the floor, so a
    * fork can never hand the same base range to both sides WITHIN a
    * driver process (publish fast-forwards branch vectors verbatim;
    * rebase carries them and additionally REFUSES on a cross-process base
    * collision — see the rebase guard). Called under the catalog monitor
    * (both manifest writers synchronize), so the multi-log read is
    * consistent. Cost: one sidecar read, plus one manifest read per OTHER
    * live log — zero manifest reads for the common unbranched main commit.
    */
  private[catalog] def lineageFloor(fs: FileSystem, d: Path,
      ownBranch: Option[String]): Long = {
    val branches = readBranches(fs, d)
    val branchW = branches.keysIterator.filterNot(ownBranch.contains)
      .flatMap(b => readHead(fs, d, Some(b)).map(_._2.watermark))
    // main's head matters only for BRANCH commits (a main commit carries
    // its own watermark in nextFrom)
    val mainW =
      if (ownBranch.isEmpty) Iterator.empty
      else readHead(fs, d).iterator.map(_._2.watermark)
    (branchW ++ mainW).foldLeft(0L)(math.max)
  }

  /** Maintenance/rewrite commit (OPTIMIZE / DELETE / UPDATE / MERGE): the
    * new version is EXACTLY `files`, marked with a non-commit kind so
    * file-diff consumers (the change feed) know the file sets on either
    * side are not append-comparable. When `expectedBase` is set, the commit
    * is OPTIMISTIC: it succeeds only if the table is still at that version —
    * a racing commit in between means this rewrite computed its replacement
    * from a stale snapshot (its output would silently drop the racer's
    * rows), so it aborts with a conflict and the caller decides whether to
    * retry from the new current state.
    */
  private[catalog] def writeExplicitManifest(fs: FileSystem, d: Path, meta: TableMeta,
      files: Seq[String],
      kind: String = "optimize", expectedBase: Option[Long] = None,
      dvs: Seq[String] = Seq.empty, branch: Option[String] = None,
      matFiles: Set[String] = Set.empty,
      rowIdsFrom: Option[Manifest] = None): Long =
    synchronized {
      // a BRANCH rewrite (DML on the WAP ingest surface) versions in the
      // branch log against the branch head — main is never consulted nor
      // advanced, and publish later fast-forwards the rewrite manifests in
      // verbatim (kinds carry, so downstream change feeds see them)
      val vd = branch.fold(new Path(d, VersionsDir))(b => branchLogDir(d, b))
      fs.mkdirs(vd)
      var out = -1L
      while (out < 0) {
        val head = branch.fold(headManifest(fs, d))(b => branchHead(fs, d, b))
        val latest = head.fold(0L)(_._1)
        expectedBase.foreach { base =>
          if (latest != base)
            throw new java.util.ConcurrentModificationException(
              s"$kind conflict on $d: rewrite computed against version $base " +
                s"but the table is now at version $latest — a concurrent commit " +
                "landed in between; re-run the statement against the current state")
        }
        // lineage tables: carried files keep their id bases; this rewrite's
        // fresh files are either MATERIALIZED (OPTIMIZE / the COW DELETE
        // remainder wrote the physical id column — `matFiles`) or new-row
        // files that get fresh virtual bases (overwrite inserts, the
        // group-based UPDATE/MERGE replacement — documented
        // re-identification). RESTORE maps from the restore target's
        // manifest (`rowIdsFrom`) so rolled-back rows keep their pinned
        // identities, while the watermark stays monotonic off the latest.
        val rids =
          if (!meta.rowLineage) None
          else {
            val prev = head.map { case (_, mf) => Manifest.read(fs, mf) }
            Some(assignLeased(fs, d, rowIdsFrom.orElse(prev), prev, files, matFiles, branch))
          }
        if (Manifest.create(fs, new Path(vd, s"v${latest + 1}.json"),
            Manifest(System.currentTimeMillis(), kind, None, dvs,
              rids.fold(Map.empty[String, RowLineage.Entry])(_._1), rids.map(_._2), files)))
          out = latest + 1
        // lost the create race: loop re-reads the advanced version — with an
        // expectedBase that re-read throws the conflict above
      }
      if (branch.isEmpty) maybeCheckpoint(fs, d, meta, out, files, dvs)
      out
    }

  /** Translate a V1 source filter to a Column predicate; None = can't push
    * this delete (Spark then raises its standard unsupported-delete error).
    */
  private[catalog] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r)  => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c)    => filterToColumn(c).map(not)
      case AlwaysTrue()  => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Copy-on-write DELETE: rewrite the current file set without the rows
    * matching `filters` (conjunction; empty = delete everything, the
    * TRUNCATE face) and commit the rewrite as a new kind=delete version
    * against `baseVersion` (optimistic — a racing commit aborts it). SQL
    * DELETE semantics: a row is deleted only when the predicate is TRUE —
    * rows where it evaluates NULL (e.g. a post-ALTER column that old files
    * surface as NULL) MUST survive, so the survivor filter is
    * NOT(coalesce(pred, false)), never the raw negation (!NULL is NULL,
    * which would silently drop every NULL-predicate row).
    *
    * FILE-GRANULAR when zone maps exist: a file whose recorded [min,max]
    * proves the predicate can match NO row needs no rewrite — it carries
    * into the new version BY NAME, untouched. Only files the stats cannot
    * rule out are read, filtered, and rewritten. On a clustered 100 TB
    * table a ranged delete then rewrites its slice of files, not the
    * table — the Delta/Iceberg copy-on-write shape. Unanalyzed files are
    * conservatively rewritten (correct, just not minimal).
    */
  private[catalog] def deleteWhere(fs: FileSystem, d: Path, meta: TableMeta,
      filters: Array[org.apache.spark.sql.sources.Filter], baseVersion: Long): Unit = {
    val (kept, rewritten) = filesAfterDelete(fs, d, meta, filters)
    writeExplicitManifest(fs, d, meta, kept,
      kind = "delete", expectedBase = Some(baseVersion), matFiles = rewritten)
    ()
  }

  /** Matched-row ceiling for the position-DV DELETE path (session conf,
    * rows). Above it the statement falls back to the file-granular
    * copy-on-write rewrite: a position sidecar is O(matched rows) of
    * driver memory and sidecar bytes, so a broad keyless
    * `DELETE WHERE ts < …` on an unclustered 100 TB table would otherwise
    * materialize billions of ordinals on the driver before writing a
    * byte. Selective deletes (the mode's intended use) stay under it and
    * keep the zero-rewrite DV economy.
    */
  private[catalog] val PosDeleteMaxRowsKey = "spark.graft.pos-delete.max-matched-rows"
  private[catalog] val PosDeleteMaxRowsDefault = 1000000

  /** Matched-row ceiling for the DISTRIBUTED run-sidecar path (r13): above
    * the driver-map cap and at or below this, the DELETE writes per-file
    * run-encoded sidecars from the EXECUTORS ([[DeletionVectors
    * .writePosRunDv]]) — the driver sees only (file, sidecar) names, never
    * an ordinal. Above it, a match this broad suppresses a large fraction
    * of every touched file and the copy-on-write rewrite is the better
    * trade (reads stop paying per-row membership tests forever after).
    */
  private[catalog] val PosDeleteMaxDistRowsKey = "spark.graft.pos-delete.max-distributed-rows"
  private[catalog] val PosDeleteMaxDistRowsDefault = 500000000L

  /** POSITION-delete DELETE (keyless merge-on-read — the Iceberg
    * (file, pos) shape): no rewrite at all. Matching rows are located as
    * `(table-relative file, _metadata.row_index)` — zone maps first split
    * the file set three ways exactly like the COW path (untouched files are
    * never read; files where EVERY row provably matches could drop
    * metadata-only, but a dropped file under live position DVs would lose
    * the distinction, so whole-file matches simply record all their live
    * positions) — and ONE sidecar commits with the SAME file set
    * (kind=delete, dvs ++ one). Blast radius: O(matched rows) sidecar
    * bytes, zero data-file writes; OPTIMIZE folds the sidecars away.
    * Already-suppressed rows never re-match (the matching read applies the
    * in-force position DVs), so repeated overlapping DELETEs stay exact.
    *
    * THREE-BAND cost model (r12 bound, r13 distributed middle band): the
    * driver materializes AT MOST [[PosDeleteMaxRowsKey]]+1 matched
    * ordinals — the locating collect is capped with a LIMIT, so the cap is
    * structural, not advisory. Under the cap, the collected set IS the
    * (driver-map JSON) sidecar. Over it, the matched set is re-located as
    * a DataFrame and the EXECUTORS write per-file run-encoded sidecars
    * ([[DeletionVectors.writePosRunDv]]) — the driver handles only the
    * file→sidecar-name descriptor, so a 200M-ordinal retention DELETE
    * costs one candidate-file pass + sidecar bytes, never driver heap.
    * Over [[PosDeleteMaxDistRowsKey]] the statement abandons the sidecar
    * (suppressing most of every touched file forever loses to rewriting
    * once) and falls back to the file-granular COW rewrite
    * ([[filesAfterDelete]] — which reads the touched files THROUGH the
    * in-force position DVs, so suppressed rows never resurrect),
    * committing with the in-force sidecars carried verbatim: untouched
    * files keep their suppressed ordinals, and entries naming
    * rewritten/dropped files go inert with their files.
    * [[StagingMaintenance.ZoneMapScan.lastPosDeleteMode]] records which
    * path ran ("dv" | "dv-distributed" | "cow-fallback" | "noop").
    */
  private[catalog] def posDeleteWhere(fs: FileSystem, d: Path, meta: TableMeta,
      filters: Array[org.apache.spark.sql.sources.Filter], baseVersion: Long,
      snapshotFiles: Option[Seq[String]], dvNames: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, lit, split}
    val spark = SparkSession.active
    val pred = filters.flatMap(filterToColumn(_)).reduceOption(_ && _).getOrElse(lit(true))
    val current = snapshotFiles.getOrElse(
      readHead(fs, d).fold(dataFiles(fs, d))(_._2.files))
    val (stats, nulls) = StagingMaintenance.readStatsFor(fs, d, meta.stats)
    val specs = meta.partSpecsAll
    // zone-map candidate split: files whose ranges cannot match are never read
    val candidates = current.filter(f =>
      filters.forall(fl => ZoneMapPrunedScan.canMatch(stats, nulls, f, fl) &&
        ZoneMapPrunedScan.partCanMatch(specs, f, fl)))
    if (candidates.isEmpty) {
      // no row can match: still a (no-op) delete version — SQL ran
      ZoneMapScan.lastPosDeleteMode = Some("noop")
      writeExplicitManifest(fs, d, meta, current, kind = "delete",
        expectedBase = Some(baseVersion), dvs = dvNames)
      return
    }
    val reader = spark.read
    meta.schema.foreach(reader.schema)
    val raw = reader.parquet(candidates.map(f => new Path(d, f).toString): _*)
    val inForce = DeletionVectors.Deletes.load(fs, d, DeletionVectors.MorMode.Pos, dvNames).pos
    val visible = DeletionVectors.applyPosToRead(raw, inForce)
    // (full path, position) of every VISIBLE matching row, capped at
    // maxRows+1: under the cap this set IS the sidecar (collecting it is
    // the write itself); over it the extra row proves the match is too
    // broad for a sidecar and the statement falls back to COW below. The
    // LIMIT bounds driver memory structurally — a billion-row match pulls
    // maxRows+1 rows, never a billion.
    val maxRows = spark.conf.getOption(PosDeleteMaxRowsKey)
      .map(_.toInt).getOrElse(PosDeleteMaxRowsDefault)
    val matched = visible.where(coalesce(pred, lit(false)))
      .select(col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__p"))
      .limit(maxRows + 1)
      .collect()
    if (matched.isEmpty) {
      ZoneMapScan.lastPosDeleteMode = Some("noop")
      writeExplicitManifest(fs, d, meta, current, kind = "delete",
        expectedBase = Some(baseVersion), dvs = dvNames)
      return
    }
    if (matched.length > maxRows) {
      // over the driver-map cap: DISTRIBUTED run sidecars (r13) — locate
      // the matched (file, ordinal) set AGAIN as a DataFrame and let the
      // executors write per-file run-encoded sidecar files; the driver
      // never holds an ordinal, only the (file → sidecar names) descriptor
      // (O(covered files)). The sidecar is abandoned for the copy-on-write
      // rewrite when the match turns out broader than the distributed
      // ceiling — suppressing most of every touched file forever is worse
      // than rewriting once — or when this statement both matches rows and
      // must read through in-force RUN sidecars whose descriptor names the
      // same files (kept simple: overlap re-runs are exact either way
      // because the matching read above already applied them).
      val distMax = spark.conf.getOption(PosDeleteMaxDistRowsKey)
        .map(_.toLong).getOrElse(PosDeleteMaxDistRowsDefault)
      val matchedDf = visible.where(coalesce(pred, lit(false)))
        .select(col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__p"))
      val (dvName, total, runDirName) = DeletionVectors.writePosRunDv(fs, d, matchedDf)
      if (total > distMax) {
        // broader than the sidecar economy justifies: drop the just-written
        // run files and rewrite the touched files instead (reading through
        // the in-force DVs), carrying the in-force sidecars verbatim
        fs.delete(new Path(new Path(d, DeletionVectors.DvDir), runDirName), true)
        fs.delete(new Path(new Path(d, DeletionVectors.DvDir), dvName), false)
        ZoneMapScan.lastPosDeleteMode = Some("cow-fallback")
        val (kept, rewritten) = filesAfterDelete(fs, d, meta, filters)
        writeExplicitManifest(fs, d, meta, kept, kind = "delete",
          expectedBase = Some(baseVersion), dvs = dvNames, matFiles = rewritten)
        return
      }
      ZoneMapScan.lastPosDeleteMode = Some("dv-distributed")
      writeExplicitManifest(fs, d, meta, current, kind = "delete",
        expectedBase = Some(baseVersion), dvs = dvNames :+ dvName)
      return
    }
    ZoneMapScan.lastPosDeleteMode = Some("dv")
    // attribute full paths back to table-relative names (the statKey rule)
    val prefix = d.toString + "/"
    def rel(full: String): String = {
      val ix = full.indexOf(prefix)
      if (ix >= 0) full.substring(ix + prefix.length)
      else full.substring(full.lastIndexOf('/') + 1)
    }
    val perFile = matched.groupBy(r => rel(r.getString(0)))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).toSeq }
    val dvName = DeletionVectors.writePosDv(fs, d, perFile)
    writeExplicitManifest(fs, d, meta, current, kind = "delete",
      expectedBase = Some(baseVersion), dvs = dvNames :+ dvName)
  }

  /** The file set that SURVIVES deleting rows matching `filters` — the
    * shared kernel of DELETE (survivors become the new version) and
    * INSERT OVERWRITE (survivors ++ the statement's fresh files become one
    * atomic replacement version). Rewritten remainders are moved into the
    * table dir but NOT committed here — the caller's single manifest write
    * is the commit point, so overwrite's delete-and-insert can never tear.
    */
  /** Returns (new current file set, the rewrite's fresh remainder files —
    * lineage-materialized when the table tracks row ids).
    */
  private[catalog] def filesAfterDelete(fs: FileSystem, d: Path, meta: TableMeta,
      filters: Array[org.apache.spark.sql.sources.Filter],
      noManifestCurrent: Option[Seq[String]] = None): (Seq[String], Set[String]) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val spark = SparkSession.active
    val pred = filters.flatMap(filterToColumn(_)).reduceOption(_ && _).getOrElse(lit(true))
    // `noManifestCurrent`: the caller's snapshot of what counts as
    // pre-existing data when the table has NO version manifest. The
    // INSERT OVERWRITE commit runs AFTER its insert phase landed fresh
    // files, so a live directory listing here would treat the statement's
    // own output as data-to-delete — on a filtered overwrite whose new rows
    // don't all match the filter, surviving fresh rows would be rewritten
    // into the remainder AND carried as fresh, duplicating them. The
    // overwrite path therefore passes its pre-insert listing.
    val head = readHead(fs, d).map(_._2)
    val current = head.map(_.files)
      .orElse(noManifestCurrent)
      .getOrElse(dataFiles(fs, d))
    val (stats, nulls) = StagingMaintenance.readStatsFor(fs, d, meta.stats)
    // conjunction semantics, three ways per file:
    //  - no filter can match any row       → UNTOUCHED (carried by name)
    //  - every row provably matches ALL    → DROPPED metadata-only (no
    //    read, no rewrite — the drop-partition retention shape: interior
    //    files of a clustered range delete vanish by manifest edit)
    //  - anything in between               → read, filter, rewrite
    // An empty filter array is TRUNCATE: every row matches vacuously.
    // path-based partition pruning joins the stats: a `days(ts)` layout
    // serves a whole-day DELETE metadata-only with NO stats sidecar at all
    val specs = meta.partSpecsAll
    val (touched0, untouched) = current.partition(f =>
      filters.forall(fl => ZoneMapPrunedScan.canMatch(stats, nulls, f, fl) &&
        ZoneMapPrunedScan.partCanMatch(specs, f, fl)))
    val (dropped, touched) =
      if (filters.isEmpty) (touched0, Seq.empty[String])
      else touched0.partition(f =>
        filters.forall(fl => ZoneMapPrunedScan.mustMatchAll(stats, nulls, f, fl) ||
          ZoneMapPrunedScan.partMustMatchAll(specs, f, fl)))
    // lineage tables: the surviving remainder of a rewritten file must keep
    // its row ids — read WITH resolved ids and write them into the
    // physical column; untouched files carry their entries by name
    val lineage = meta.rowLineage
    val lineageEntries = head.fold(Map.empty[String, RowLineage.Entry])(_.rowIds)
    val kept: Seq[String] =
      if (touched.isEmpty) untouched
      else {
        val reader = spark.read
        if (lineage) meta.schema.foreach(s => reader.schema(RowLineage.readSchema(s)))
        else meta.schema.foreach(reader.schema)
        val rawTouched0 = reader
          .parquet(touched.map(f => new Path(d, f).toString): _*)
        // lineage reads carry `_metadata` explicitly for id resolution;
        // merge-on-read DV application ALSO rides it (or input_file_name),
        // so the order is DVs FIRST (rows a deletion vector suppresses
        // must not resurrect into the rewritten remainder), materialize
        // SECOND — id resolution depends only on each surviving row's own
        // (phys, row_index), which filtering cannot disturb
        val withMeta =
          if (!lineage) rawTouched0
          else rawTouched0.select(org.apache.spark.sql.functions.col("*"),
            org.apache.spark.sql.functions.col("_metadata"))
        val dvApplied = DeletionVectors.Deletes.load(fs, d, meta.mor,
            head.fold(Seq.empty[String])(_.dvs))
          .restrict(touched.toSet).applyTo(withMeta)
        val rawTouched =
          if (!lineage) dvApplied
          else RowLineage.materialize(dvApplied, lineageEntries).drop("_metadata")
        val remaining0 = rawTouched.where(not(coalesce(pred, lit(false))))
        // SORT-ORDER PRESERVATION (r13): the rewritten remainder stays
        // per-file sorted on a declared-sort-order table (a task may
        // concatenate several input files, so the read order alone is not
        // enough) — the SupportsReportOrdering invariant
        val soCols = meta.sortOrder
          .filter(c => remaining0.columns.exists(_.equalsIgnoreCase(c)))
        val remaining =
          if (soCols.isEmpty) remaining0
          else remaining0.sortWithinPartitions(
            soCols.map(org.apache.spark.sql.functions.col): _*)
        val moved = StagedRewrite(fs, d, "delete") { (token, tmp) =>
          remaining.write.mode("overwrite").parquet(tmp.toString)
          StagedRewrite.publish(fs, d, tmp)((part, _) => s"del-$token-$part")
        }
        untouched ++ moved
      }
    ZoneMapScan.lastDeleteSplit = Some((untouched.size, dropped.size, touched.size))
    (kept, (kept.toSet -- untouched).toSet)
  }
}
