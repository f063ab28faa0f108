package graft.sources.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING READS of a versioned staging table — `spark.readStream
  * .table("graft_stage.ns.t")` tails the table's commit log, the Delta/
  * Iceberg streaming-source shape: the OFFSET is the manifest VERSION (one
  * monotone long, JSON-checkpointed by Spark, so restart recovery needs no
  * source-side state), and each micro-batch reads exactly the files the
  * versions in `(start, end]` APPENDED. Version kinds gate semantics:
  *
  *   - `commit` (CTAS / INSERT INTO / streaming append): the batch reads
  *     the version's file DELTA (files(v) − files(v−1)) — rows exactly
  *     once, as of their commit.
  *   - `optimize` (compaction / clustering / partition layout): SKIPPED —
  *     the rows are identical by construction; re-emitting a compacted
  *     100 TB table into every downstream stream would be catastrophic
  *     (the dataChange=false rule every lakehouse streaming source has).
  *   - anything else (`delete`/`update`/`merge`/`overwrite`/`rename`/
  *     `restore`): rows CHANGED — the tail is no longer an append stream.
  *     The source THROWS with guidance, unless the read carries
  *     `.option("graft.ignore-changes", "true")`, in which case the
  *     version's ADDED files still flow (newly-inserted rows are never
  *     lost; rewritten files re-emit surviving rows as duplicates) while
  *     removed files' rows vanish silently — exactly Delta's
  *     `ignoreChanges` trade.
  *
  * `graft.starting-version` (default 0) pins where the tail begins — 0
  * replays the whole retained history, the current head version makes the
  * stream "new data only". Deletion vectors never apply here: an append's
  * files carry no DV at their commit version, and every DV-minting version
  * is gated by the kind rule above.
  *
  * Scale shape: offsets are metadata-only (one manifest listing per
  * trigger); a batch plans ONLY its delta files through the same parquet
  * reader stack as batch scans (one data path, two execution modes — the
  * SeqSource rule). The reader factory comes from a per-batch ParquetTable
  * over exactly those files, column-pruned to the stream's read schema.
  */
private[catalog] class StagingMicroBatchStream(
    tableDirStr: String,
    readSchema: StructType,
    options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftStagingCatalog.{headManifest, probeManifest}

  private val dir = new Path(tableDirStr)
  private def fs: FileSystem =
    dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  private val ignoreChanges =
    options.get("graft.ignore-changes").exists(_.equalsIgnoreCase("true"))
  // a number, or a TAG name (the reproducible-consumer anchor: "everything
  // after release r1" = .option("graft.starting-version", "r1") — resolved
  // once at stream construction, so later drop_tag cannot move a running
  // stream's origin)
  private val startingVersion =
    options.get("graft.starting-version")
      .map(s => StagingVersionOffset.resolve(fs, dir, tableDirStr, s)).getOrElse(0L)
  // per-trigger rate limits (Delta's maxFilesPerTrigger shape) — see
  // [[StagingAdmission]]
  private val (maxVersionsPerTrigger, maxFilesPerTrigger) =
    StagingAdmission.caps(options, tableDirStr)

  // checkpoint-pointer + forward probes, NOT a per-trigger log listing — a
  // stream polls this every trigger for the life of the query, against a
  // table whose version count grows one per upstream micro-batch
  private def headVersion: Long =
    headManifest(fs, dir).map(_._1).getOrElse(0L)

  // Trigger.AvailableNow: pin the head ONCE so the run drains a stable
  // target even while writers keep committing (in bounded batches when a
  // rate cap is set — Spark re-triggers until this target is reached)
  @volatile private var availableNowHead: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(headVersion)

  override def initialOffset(): Offset = StagingVersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset =
    StagingVersionOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit =
    StagingAdmission.defaultLimit(maxVersionsPerTrigger, maxFilesPerTrigger)
  override def reportLatestOffset(): Offset = StagingVersionOffset(headVersion)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[StagingVersionOffset].version
    val target = availableNowHead.getOrElse(headVersion)
    StagingVersionOffset(StagingAdmission.admit(fs, dir, tableDirStr, s, target,
      maxVersionsPerTrigger, limit, changesFace = false))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control path")

  /** The most recent batch's delegate scan — the factory source. Each
    * micro-batch execution calls planInputPartitions THEN
    * createReaderFactory on its own exec node, and each streaming query
    * owns its stream instance, so the handoff is single-batch-scoped.
    */
  @volatile private var batchScan: Option[Scan] = None

  private def appendedFiles(fromV: Long, toV: Long): Seq[String] = {
    // direct per-version probes (bounded by the batch's offset range);
    // every lookup is guarded: VACUUM may have reclaimed a version this
    // offset range needs — including the PREDECESSOR of a retained version
    // (tags can pin v with v−1 reclaimed), whose file set the append delta
    // is defined against. Fail with guidance, never NoSuchElement.
    def manifestOf(v: Long) = probeManifest(fs, dir, v).getOrElse(
      throw new IllegalStateException(
        s"streaming read of $tableDirStr: version $v was VACUUMed away before " +
          "the stream consumed it — raise the vacuum retention or restart " +
          "the stream from a newer graft.starting-version"))
    def at(v: Long): Manifest = if (v <= 0L) Manifest(0L) else Manifest.read(fs, manifestOf(v))
    // each version is read once; its predecessor is the previous step's
    var last: Option[Manifest] = None
    ((fromV + 1L) to toV).flatMap { v =>
      val m = at(v)
      val before = last
      last = Some(m)
      lazy val prev = before.getOrElse(at(v - 1L)).files.toSet
      m.kind match {
        // "clone" (a shallow clone's first version) and "sync" (an
        // incremental refresh absorbing source appends) are pure
        // file-additions — append semantics, r14
        case "commit" | "clone" | "sync" => m.files.filterNot(prev)
        case "optimize" => Seq.empty // layout-only: identical rows
        case changed if ignoreChanges =>
          // Delta's ignoreChanges semantics, not a stronger loss mode (r9
          // advisory): the version's ADDED files still flow — rows the
          // change newly inserted (a merge's NOT MATCHED inserts, an
          // overwrite's fresh slice) are never silently dropped, and
          // rewritten files re-emit their surviving rows (downstream must
          // tolerate duplicates — the documented trade). Only the REMOVED
          // files' rows disappear without a signal.
          m.files.filterNot(prev)
        case changed => throw new IllegalStateException(
          s"streaming read of $tableDirStr: version $v is a '$changed' commit — " +
            "the table is no longer append-only at this offset. Set " +
            ".option(\"graft.ignore-changes\", \"true\") to tail appends only, " +
            "or start past it with graft.starting-version")
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[StagingVersionOffset].version
    val e = end.asInstanceOf[StagingVersionOffset].version
    val paths = appendedFiles(s, e).map(f => new Path(dir, f).toString)
    val declared = TableMeta.read(fs, dir).schema
    val table = ParquetTable(s"$tableDirStr[stream ($s,$e]]", SparkSession.active,
      CaseInsensitiveStringMap.empty(), paths, declared, classOf[ParquetFileFormat])
    val sb = table.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb match {
      case p: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        p.pruneColumns(readSchema)
      case _ => ()
    }
    val scan = sb.build()
    batchScan = Some(scan)
    if (paths.isEmpty) Array.empty
    else scan.toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan.getOrElse(throw new IllegalStateException(
      "createReaderFactory before planInputPartitions")).toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[catalog] case class StagingVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Marker [[ReadLimit]] for a version-bounded trigger: the staging streams
  * return it from `getDefaultReadLimit` when `graft.max-versions-per-trigger`
  * is set WITHOUT a file cap, so the engine hands back something other than
  * `allAvailable` and the admission path knows a rate option is in force.
  * (The cap itself lives on the stream — the limit object is a signal, not
  * the state.)
  */
private[catalog] case class VersionsPerTrigger(maxVersions: Long) extends ReadLimit

/** RATE-LIMITED ADMISSION for the staging streaming sources — the Delta
  * `maxFilesPerTrigger` shape on a manifest-version offset axis. A fresh
  * consumer of a table streamed into for weeks faces a 10,000-commit
  * backlog; without admission control `latestOffset` returns the head and
  * the FIRST micro-batch plans every file since the starting version — one
  * giant batch that must fit executor memory and commits no checkpoint
  * until all of it lands. Bounded admission drains the same backlog as many
  * exactly-once micro-batches, each a checkpointable unit of progress.
  *
  *   - `graft.max-versions-per-trigger` — admit at most N versions per
  *     batch. O(1): no manifest reads in the admission decision.
  *   - `graft.max-files-per-trigger` — admit versions while the cumulative
  *     APPENDED-file count stays within N (always at least one version, or
  *     a single oversized commit would stall the stream forever). Costs one
  *     manifest read per admitted version — bounded by the cap itself, and
  *     the subsequent planInputPartitions reads the same manifests anyway.
  *
  * `ReadLimit` protocol (the SeqSource rule, SeqSource.scala:415-431):
  * `ReadAllAvailable` (Trigger.Once) consumes the WHOLE backlog — rate
  * options are per-trigger pacing, and an explicit all-available trigger
  * outranks them (Delta documents the same). `ReadMaxFiles` (ours or an
  * engine-composed one) bounds by files; `CompositeReadLimit` takes its
  * tightest file bound. Trigger.AvailableNow interacts correctly for free:
  * Spark re-triggers with the default limit until the prepared head is
  * reached, so a capped stream drains FULLY in ≥⌈backlog/cap⌉ batches.
  */
private[catalog] object StagingAdmission {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
    ReadAllAvailable, ReadMaxFiles}
  import GraftStagingCatalog.probeManifest

  /** Per-trigger rate options, parsed once at stream construction. */
  def caps(options: Map[String, String], tableDirStr: String): (Option[Long], Option[Long]) = {
    def pos(key: String): Option[Long] = options.get(key).map { s =>
      val n = try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key for $tableDirStr must be a positive integer, got '$s'")
      }
      require(n > 0L, s"$key for $tableDirStr must be positive, got $n")
      n
    }
    (pos("graft.max-versions-per-trigger"), pos("graft.max-files-per-trigger"))
  }

  def defaultLimit(maxVersions: Option[Long], maxFiles: Option[Long]): ReadLimit =
    (maxVersions, maxFiles) match {
      case (_, Some(f))    => ReadLimit.maxFiles(f.min(Int.MaxValue.toLong).toInt)
      case (Some(v), None) => VersionsPerTrigger(v)
      case _               => ReadLimit.allAvailable()
    }

  /** Tightest max-files bound carried by `limit`, if any. */
  private def maxFilesOf(limit: ReadLimit): Option[Int] = limit match {
    case m: ReadMaxFiles => Some(m.maxFiles())
    case c: CompositeReadLimit =>
      val bounds = c.getReadLimits.toSeq.flatMap(maxFilesOf)
      if (bounds.isEmpty) None else Some(bounds.min)
    case _ => None
  }

  /** End version admitted for a batch starting (exclusive) at `startV`
    * toward `target`. `changesFace` prices a rewrite version as ONE file
    * (its materialized CDF diff) instead of its added-file delta.
    */
  def admit(fs: FileSystem, dir: Path, tableDirStr: String, startV: Long, target: Long,
      maxVersions: Option[Long], limit: ReadLimit, changesFace: Boolean): Long = {
    if (target <= startV) return target
    limit match {
      case _: ReadAllAvailable => target // Trigger.Once: the whole backlog
      case l =>
        val vCap = maxVersions.fold(target)(mv => math.min(target, startV + mv))
        maxFilesOf(l) match {
          case None => vCap
          case Some(mf) =>
            def manifestOf(v: Long) = probeManifest(fs, dir, v).getOrElse(
              throw new IllegalStateException(
                s"streaming read of $tableDirStr: version $v was VACUUMed away before " +
                  "the stream consumed it — raise the vacuum retention or restart " +
                  "from a newer graft.starting-version"))
            def at(v: Long): Manifest =
              if (v <= 0L) Manifest(0L) else Manifest.read(fs, manifestOf(v))
            var v = startV
            var admitted = 0L
            var prev = at(startV).files.toSet
            var stop = false
            while (!stop && v < vCap) {
              val nm = at(v + 1L)
              val cur = nm.files.toSet
              val delta: Long = nm.kind match {
                case "optimize" => 0L // layout-only: both faces skip it
                case "commit"   => (cur -- prev).size.toLong
                case _          =>
                  if (changesFace) 1L else (cur -- prev).size.toLong
              }
              if (admitted + delta <= mf.toLong || v == startV) {
                v += 1L; admitted += delta; prev = cur
                if (admitted >= mf.toLong) stop = true
              } else stop = true
            }
            v
        }
    }
  }
}

private[catalog] object StagingVersionOffset {
  /** `graft.starting-version` value → version: a plain number, or a TAG
    * name resolved through the tags sidecar (both streaming faces share
    * this — the batch `VERSION AS OF` rule, applied to stream origins).
    */
  def resolve(fs: FileSystem, dir: Path, tableDirStr: String, s: String): Long =
    try s.trim.toLong
    catch {
      case _: NumberFormatException =>
        GraftStagingCatalog.readTags(fs, dir).getOrElse(s.trim,
          throw new IllegalArgumentException(
            s"graft.starting-version '$s' for $tableDirStr is neither a version " +
              "number nor an existing tag"))
    }
}

/** STREAMING ROW-LEVEL CHANGE FEED — `spark.readStream
  * .table("graft_stage.ns.t.changes")` (the Delta `table_changes` face as a
  * multipart-identifier table, like the branch face): where the plain
  * streaming source must GATE data-changing commits (its contract is
  * append-only rows), the changes face emits every commit's exact row-level
  * delta:
  *
  *   - `commit` versions stream their appended files' rows as
  *     `_change_type='insert'` (no copying — the reader appends the two
  *     constants to the raw parquet rows),
  *   - rewrite versions (`delete`/`update`/`merge`/`overwrite`/`restore`/
  *     `rename`) stream their EXCEPT-ALL row diff — an updated row
  *     surfaces as its delete/insert pair, rewritten-but-unchanged rows
  *     cancel — materialized lazily once under `_graft_cdf/v<N>/`
  *     ([[StagingMaintenance.ensureCdf]]; slice-cost, file-granular
  *     commits make the diff read only touched files, DV-only MOR commits
  *     included),
  *   - `optimize` versions are SKIPPED (dataChange=false, as ever).
  *
  * Offsets are manifest versions (same exactly-once checkpointing as the
  * append stream); each batch mixes raw-file partitions and CDF-file
  * partitions behind one composite reader factory (all-row-based — the
  * mixed-partition rule).
  */
private[catalog] class ChangeFeedTable(tableDirStr: String, baseSchema: StructType)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.types.{LongType, StringType}

  private val full: StructType = StructType(baseSchema.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_change_type", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_version", LongType, nullable = false)))

  override def name(): String = s"$tableDirStr@changes"
  override def schema(): StructType = full
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val opts = scala.jdk.CollectionConverters.MapHasAsScala(options.asCaseSensitiveMap())
      .asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
    // BATCH face (r12 — Delta's `table_changes` as plain SQL): `SELECT …
    // FROM cat.ns.t.changes [WHERE _commit_version …]` reads the exact
    // per-version row deltas the streaming face emits, over the RETAINED,
    // DIFFABLE history (a version whose predecessor manifest VACUUM
    // reclaimed has no computable diff and is absent — pin retention for
    // audit-complete feeds). `_commit_version` comparisons push down to
    // VERSION pruning (the diff of an out-of-range version is never
    // computed or read); every filter is also left residual, so Spark
    // re-evaluates and correctness never rides the pruning.
    new org.apache.spark.sql.connector.read.ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      import org.apache.spark.sql.sources._
      private var loExcl = 0L // stream-offset convention: versions (lo, hi]
      private var hiIncl = Long.MaxValue
      private var verSet: Option[Set[Long]] = None // IN / null-safe-eq sets
      private def asLong(v: Any): Option[Long] = v match {
        case i: java.lang.Integer => Some(i.longValue)
        case l: java.lang.Long    => Some(l.longValue)
        case s: java.lang.Short   => Some(s.longValue)
        case _                    => None
      }
      private def intersect(s: Set[Long]): Unit =
        verSet = Some(verSet.fold(s)(_ intersect s))
      // `x - 1L` with x = Long.MinValue wraps to Long.MaxValue and would
      // flip a tighten-nothing bound into a prune-everything one; saturate
      // instead (the wrapped direction happens to be harmless today only
      // because every filter stays residual — don't lean on that)
      private def decSat(x: Long): Long =
        if (x == Long.MinValue) Long.MinValue else x - 1L
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        filters.foreach {
          case EqualTo("_commit_version", v) => asLong(v).foreach { x =>
            loExcl = math.max(loExcl, decSat(x)); hiIncl = math.min(hiIncl, x) }
          case EqualNullSafe("_commit_version", v) =>
            asLong(v).foreach(x => intersect(Set(x)))
          case In("_commit_version", vs) =>
            val xs = vs.flatMap(asLong)
            if (xs.length == vs.length) intersect(xs.toSet)
          case GreaterThan("_commit_version", v) =>
            asLong(v).foreach(x => loExcl = math.max(loExcl, x))
          case GreaterThanOrEqual("_commit_version", v) =>
            asLong(v).foreach(x => loExcl = math.max(loExcl, decSat(x)))
          case LessThan("_commit_version", v) =>
            asLong(v).foreach(x => hiIncl = math.min(hiIncl, decSat(x)))
          case LessThanOrEqual("_commit_version", v) =>
            asLong(v).foreach(x => hiIncl = math.min(hiIncl, x))
          case _ => ()
        }
        filters // all residual: Spark re-applies everything above the scan
      }
      override def pushedFilters(): Array[Filter] = Array.empty
      override def build(): Scan =
        new ChangeFeedScan(tableDirStr, baseSchema, full, opts, loExcl, hiIncl, verSet)
    }
  }
}

/** The change-feed scan: batch face (per-version deltas of the retained
  * diffable history, version-pruned by pushed `_commit_version` bounds)
  * plus the streaming face.
  */
private[catalog] class ChangeFeedScan(tableDirStr: String, baseSchema: StructType,
    fullSchema: StructType, opts: Map[String, String], loExcl: Long, hiIncl: Long,
    verSet: Option[Set[Long]] = None)
    extends Scan with org.apache.spark.sql.connector.read.Batch {
  override def readSchema(): StructType = fullSchema
  override def description(): String =
    s"changeFeed($tableDirStr, versions (${math.max(loExcl, 0L)}, " +
      s"${if (hiIncl == Long.MaxValue) "head" else hiIncl.toString}]" +
      verSet.fold("")(s => s" ∩ {${s.toSeq.sorted.mkString(",")}}") + ")"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeFeedMicroBatchStream(tableDirStr, baseSchema, fullSchema, opts)
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  private lazy val planned: (Array[InputPartition], Array[PartitionReaderFactory]) = {
    val dir = new Path(tableDirStr)
    val fs = dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    // an explicit starting version/tag composes with pushed bounds
    val optLo = opts.get("graft.starting-version")
      .map(s => StagingVersionOffset.resolve(fs, dir, tableDirStr, s)).getOrElse(0L)
    // retained versions, ascending; a version is DIFFABLE when its
    // predecessor manifest still exists (or it is version 1)
    val retained = GraftStagingCatalog.versionManifests(fs, dir).map(_._1)
    val retainedSet = retained.toSet
    val versions = retained.filter(v =>
      v > math.max(loExcl, optLo) && v <= hiIncl &&
        verSet.forall(_.contains(v)) &&
        (v == 1L || retainedSet(v - 1L)))
    ChangeFeedPlanner.plan(SparkSession.active, fs, dir, tableDirStr,
      baseSchema, fullSchema, versions)
  }
  override def planInputPartitions(): Array[InputPartition] = planned._1
  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(planned._2)
}

private[catalog] class ChangeFeedMicroBatchStream(
    tableDirStr: String,
    baseSchema: StructType,
    fullSchema: StructType,
    options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftStagingCatalog.headManifest

  private val dir = new Path(tableDirStr)
  private def fs: FileSystem =
    dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  private val startingVersion = // number or tag name (see the append stream)
    options.get("graft.starting-version")
      .map(s => StagingVersionOffset.resolve(fs, dir, tableDirStr, s)).getOrElse(0L)
  // same per-trigger rate limits as the append face; a rewrite version
  // prices as ONE file (its materialized CDF diff)
  private val (maxVersionsPerTrigger, maxFilesPerTrigger) =
    StagingAdmission.caps(options, tableDirStr)

  private def headVersion: Long =
    headManifest(fs, dir).map(_._1).getOrElse(0L)

  @volatile private var availableNowHead: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(headVersion)

  override def initialOffset(): Offset = StagingVersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset =
    StagingVersionOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit =
    StagingAdmission.defaultLimit(maxVersionsPerTrigger, maxFilesPerTrigger)
  override def reportLatestOffset(): Offset = StagingVersionOffset(headVersion)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[StagingVersionOffset].version
    val target = availableNowHead.getOrElse(headVersion)
    StagingVersionOffset(StagingAdmission.admit(fs, dir, tableDirStr, s, target,
      maxVersionsPerTrigger, limit, changesFace = true))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control path")

  /** Per-batch composite state: the delegate factories the partitions
    * index into (same single-batch-scoped handoff as the append stream).
    */
  @volatile private var batchFactories: Array[PartitionReaderFactory] = Array.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[StagingVersionOffset].version
    val e = end.asInstanceOf[StagingVersionOffset].version
    val (parts, factories) = ChangeFeedPlanner.plan(SparkSession.active, fs, dir,
      tableDirStr, baseSchema, fullSchema, (s + 1L) to e)
    batchFactories = factories
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(batchFactories)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Shared per-version delta planning of the change feed — the streaming
  * face's batches and the batch face's version-pruned scans are the SAME
  * partitions: raw added-file reads for plain appends (readers append the
  * ('insert', version) constants), the materialized [[StagingMaintenance
  * .ensureCdf]] diff for rewrite versions and for every version of a
  * lineage table (whose feed rows carry `_row_id`). Missing manifests
  * throw the retention error — callers pre-filter to retained versions
  * when absence is legal (the batch face).
  */
private[catalog] object ChangeFeedPlanner {
  import GraftStagingCatalog.probeManifest

  private def scanFor(paths: Seq[String], schema: StructType, label: String): Scan = {
    val table = ParquetTable(label, SparkSession.active,
      CaseInsensitiveStringMap.empty(), paths, Some(schema), classOf[ParquetFileFormat])
    table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
  }

  def plan(spark: SparkSession, fs: FileSystem, dir: Path, tableDirStr: String,
      baseSchema: StructType, fullSchema: StructType, versions: Seq[Long])
      : (Array[InputPartition], Array[PartitionReaderFactory]) = {
    def manifestOf(v: Long) = probeManifest(fs, dir, v).getOrElse(
      throw new IllegalStateException(
        s"change feed of $tableDirStr: version $v was VACUUMed away before the stream " +
          "consumed it — raise the vacuum retention or restart from a newer " +
          "graft.starting-version"))
    val factories = scala.collection.mutable.ArrayBuffer.empty[PartitionReaderFactory]
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // LINEAGE tables route EVERY data-changing version (commits included)
    // through the materialized identity-paired diff: the feed's rows carry
    // `_row_id`, which a raw added-file read cannot resolve (virtual ids
    // live in the manifest's base vector). Still slice-cost — a commit's
    // diff reads exactly its added files.
    val lineage = TableMeta.read(fs, dir).rowLineage
    versions.foreach { v =>
      val m = Manifest.read(fs, manifestOf(v))
      m.kind match {
        case "optimize" => () // layout-only: no row changes, never re-fed
        case "commit" if !lineage =>
          val prev: Set[String] =
            if (v <= 1L) Set.empty
            else Manifest.read(fs, manifestOf(v - 1L)).files.toSet
          val added = m.files.filterNot(prev)
            .map(f => new Path(dir, f).toString)
          if (added.nonEmpty) {
            val scan = scanFor(added, baseSchema, s"$tableDirStr[cdf insert v$v]")
            val fi = factories.length
            factories += scan.toBatch.createReaderFactory()
            scan.toBatch.planInputPartitions().foreach(p =>
              parts += CdfInputPartition(p, fi, append = true, version = v))
          }
        case _ => // rewrite (or any lineage version): materialized delta
          val cdf = StagingMaintenance.ensureCdf(spark, fs, dir, v)
          val scan = scanFor(Seq(cdf.toString), fullSchema, s"$tableDirStr[cdf diff v$v]")
          val fi = factories.length
          factories += scan.toBatch.createReaderFactory()
          scan.toBatch.planInputPartitions().foreach(p =>
            parts += CdfInputPartition(p, fi, append = false, version = v))
      }
    }
    (parts.toArray, factories.toArray)
  }
}

/** A delegate partition + which scan it belongs to + whether the reader
  * must append the ('insert', version) constants.
  */
private[catalog] case class CdfInputPartition(delegate: InputPartition, scanId: Int,
    append: Boolean, version: Long) extends InputPartition {
  // locality rides through: on a cluster the wrapped file splits keep
  // their block-placement hints
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

private[catalog] class CdfReaderFactory(factories: Array[PartitionReaderFactory])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
  import org.apache.spark.unsafe.types.UTF8String

  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val c = partition.asInstanceOf[CdfInputPartition]
    val inner = factories(c.scanId).createReader(c.delegate)
    if (!c.append) inner
    else new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val extra = new GenericInternalRow(
        Array[Any](UTF8String.fromString("insert"), c.version))
      private val joined = new JoinedRow
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), extra)
      override def close(): Unit = inner.close()
    }
  }
  // mixed raw/CDF partitions in one batch: force the row-based path
  override def supportColumnarReads(partition: InputPartition): Boolean = false
}
