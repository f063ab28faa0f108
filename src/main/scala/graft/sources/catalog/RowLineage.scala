package graft.sources.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions.{broadcast, coalesce, col, element_at, split}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** ROW LINEAGE for staging-catalog tables (the Iceberg-v3 "row lineage" /
  * Delta "row tracking" surface, re-derived for a field-ID-free parquet
  * store): every row carries a table-unique, stable `_row_id` that survives
  * compaction and copy-on-write deletes — the identity an incremental
  * consumer needs to recognize "the same row" across layout changes, and
  * the provenance key a 100 TB training-data pipeline wants on every
  * example (which shard produced it, which dedup round dropped it).
  *
  * Design — ids are VIRTUAL until a rewrite MATERIALIZES them:
  *
  *  - Every version manifest of a lineage table carries a `rowIds` vector
  *    (one `file|base|kind` entry per current file) and a `nextRowId`
  *    watermark. A commit assigns each ADDED file a fresh base
  *    (`next + i·2^32`) and bumps the watermark; carried files keep their
  *    entries verbatim — assignment is pure manifest arithmetic, zero data
  *    I/O, and the create-exclusive commit makes it atomic under races.
  *  - A VIRTUAL file's row ids are `base + row_index` (Spark's parquet
  *    readers produce `_metadata.row_index` correctly even under row-group
  *    skipping). Immutable files make this stable for free.
  *  - A REWRITE that must preserve identity (OPTIMIZE compaction, the
  *    copy-on-write DELETE remainder) reads rows WITH their resolved ids
  *    and writes them into a physical `_graft_row_id` column; the manifest
  *    marks those files materialized (`|m`). Reads resolve
  *    `coalesce(physical, base + row_index)` — a materialized file's
  *    NULL-physical rows (none today; MERGE-inserted rows if a future
  *    writer mixes them in) still get stable fresh ids from the file's own
  *    base. Normal reads project the physical column off (explicit read
  *    schemas; parquet matches by name), so lineage costs nothing when not
  *    asked for.
  *  - Group-based rewrites (UPDATE, MERGE, and DELETEs whose predicate the
  *    V1 metadata path cannot translate — e.g. `k % 10 = 3`) PRESERVE
  *    identity through Spark's metadata-column machinery: the row-level
  *    operation requires the `_row_id` metadata column, the rewrite plans
  *    carry its value through UPDATE assignments and DELETE copy-legs
  *    (MetadataColumn PRESERVE_ON_UPDATE/DELETE defaults), the write
  *    receives it as a metadata projection (`DataWriter.write(meta, data)`)
  *    and lands it in the physical column — so an updated row keeps its id
  *    under its new values, and a MERGE's NOT-MATCHED inserts (NULL
  *    metadata) resolve to fresh ids from the new file's own base.
  *    `SELECT _row_id FROM t` works in plain SQL off the same machinery.
  *    Time travel reads version N with version N's `rowIds`, so pinned
  *    snapshots see pinned identities (Scala face: readLineage(asOf) — the
  *    pinned SQL faces are separate Table classes without the metadata
  *    column).
  *
  * Declared at CREATE with `'graft.row-lineage'='true'` (recorded in the table record;
  * the property is a contract on every future commit, not a backfill).
  *
  * MERGE-ON-READ (r12): fully combinable. DV commits move no rows, so id
  * bases carry verbatim through delete versions; reads resolve ids through
  * the combined DV+lineage reader ([[MorLineageReaderFactory]] — filter
  * deleted rows, then resolve); a keyed MOR UPDATE/MERGE preserves each
  * row's id by carrying it through the WriteDelta writer as a metadata
  * projection (the delta twin of the group-based PRESERVE machinery), and
  * OPTIMIZE folds DVs and materializes ids in one pass (DVs first —
  * `_metadata.row_index` survives row filtering).
  *
  * BRANCHES (r12): fork-safe. Every commit — on main or a branch face —
  * allocates bases at or above the max watermark across ALL logs
  * ([[GraftStagingCatalog.lineageFloor]], read under the catalog
  * monitor), so the two sides of a fork can never hand out the same id
  * range; publish fast-forwards the branch's vectors verbatim, and
  * rebase re-anchors carried bases exactly as it re-anchors files (main
  * files keep main's bases, branch files keep their branch-allocated
  * ones, the watermark is the max of both logs).
  */
object RowLineage {

  /** Physical column name in materialized files. Underscore-prefixed so it
    * can never collide with a declared column (the catalog's data columns
    * come from SQL identifiers; the declared schema never contains it).
    */
  val PhysCol = "_graft_row_id"

  /** Id range reserved per file: row_index < 2^32 for any real parquet
    * file, and 2^63 / 2^32 = 2^31 file-slots of lifetime headroom.
    */
  val Stride: Long = 1L << 32

  /** One current file's lineage: id base + whether a physical column holds
    * the authoritative ids.
    */
  final case class Entry(base: Long, mat: Boolean)

  /** One version's id assignment for a new version's full file set:
    * carried files keep their entries from `prevMap` (normally the latest
    * manifest; RESTORE maps from the restore target), new files get fresh
    * bases off `nextFrom`'s watermark (always the latest, so the watermark
    * stays monotonic). `mat` names the new files written with the physical
    * column. `floor` raises the watermark to at least that value —
    * branch-aware allocation (r12): a commit on ANY face of a branched
    * table allocates above the max watermark across main + every branch
    * log, so fork-side allocations can never collide at publish/rebase.
    * Returns the entries, the new watermark, and the fresh-allocation
    * range `[allocStart, next)` (`freshCount` = 0 ⇒ nothing was
    * allocated) — the shape the cross-process allocation LEASE (r13)
    * claims before committing.
    */
  final case class Assignment(entries: Map[String, Entry], next: Long,
    allocStart: Long, freshCount: Int)

  def assignRange(prevMap: Option[Manifest], nextFrom: Option[Manifest],
      files: Seq[String], mat: Set[String], floor: Long = 0L): Assignment = {
    val prev = prevMap.fold(Map.empty[String, Entry])(_.rowIds)
    val next0 = math.max(nextFrom.fold(0L)(_.watermark), floor)
    val fresh = files.filterNot(prev.contains).sorted.zipWithIndex.toMap
    val entries = files.map { f =>
      f -> prev.getOrElse(f,
        Entry(next0 + fresh(f) * Stride, mat.contains(f)))
    }.toMap
    Assignment(entries, next0 + fresh.size * Stride, next0, fresh.size)
  }

  /** The read schema a lineage-aware rewrite uses: the declared schema plus
    * the (nullable — virtual files lack it) physical id column.
    */
  def readSchema(declared: StructType): StructType =
    StructType(declared.fields :+ StructField(PhysCol, LongType, nullable = true))

  /** Resolve final row ids over a files-read that used [[readSchema]] and
    * carries `_metadata`: `coalesce(physical, base(file) + row_index)`.
    * Joins a broadcast (file name → base, mat) vector — the same shape the
    * position-DV read path broadcasts; file NAMES are unique (uuid-token
    * part names), so matching on the path's last component is exact even
    * under `k=v/` partition layouts.
    */
  def resolveIds(df: DataFrame, entries: Map[String, Entry],
      idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ent = entries.toSeq.map { case (f, e) =>
      (f.substring(f.lastIndexOf('/') + 1), e.base) }
      .toDF("__gl_file", "__gl_base")
    val named = df
      .withColumn("__gl_name", element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__gl_idx", col("_metadata.row_index"))
    val resolved = named
      .join(broadcast(ent), named("__gl_name") === ent("__gl_file"), "left")
      .withColumn(idCol,
        coalesce(col(PhysCol), col("__gl_base") + col("__gl_idx")))
      .drop("__gl_name", "__gl_idx", "__gl_file", "__gl_base")
    // materializing call sites resolve INTO the physical column itself
    if (idCol == PhysCol) resolved else resolved.drop(PhysCol)
  }

  /** Read `files` of a lineage table with the declared columns plus a
    * resolved `idCol` (the physical column when materialized, else
    * `base + row_index`). The building block for [[StagingMaintenance
    * .readLineage]], OPTIMIZE's preserving rewrite, and the COW DELETE
    * remainder.
    */
  def readWithIds(spark: SparkSession, d: Path, files: Seq[String],
      declared: StructType, entries: Map[String, Entry],
      idCol: String = "_row_id",
      applyDvs: DataFrame => DataFrame = identity): DataFrame = {
    if (files.isEmpty) {
      val schema = StructType(declared.fields :+
        StructField(idCol, LongType, nullable = true))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val raw = spark.read.schema(readSchema(declared))
      .parquet(files.map(f => new Path(d, f).toString): _*)
      .select(col("*"), col("_metadata"))
    // merge-on-read: in-force deletion vectors filter BEFORE resolution
    // (resolution depends only on each surviving row's own (phys, index))
    resolveIds(applyDvs(raw), entries, idCol).drop("_metadata")
  }

  /** A rewrite's materializing projection: same resolution, but the id
    * lands IN the physical column so the written files carry it.
    */
  def materialize(df: DataFrame, entries: Map[String, Entry]): DataFrame =
    resolveIds(df, entries, PhysCol)

  /** Lineage-aware predicate column referencing a resolved id (helper for
    * call sites that filter after materializing).
    */
  def physCol: Column = col(PhysCol)

  // ---- DSv2 metadata-column surface (`SELECT _row_id FROM t`, and the
  // ---- carrier that preserves ids through group-based UPDATE/MERGE) -----

  /** The user-visible metadata column name (Iceberg-v3's `_row_id`). */
  val MetaColName = "_row_id"

  /** `_row_id` as a DSv2 metadata column. Spark 4's preserve defaults are
    * exactly the lineage contract: values carry through UPDATE assignments
    * and DELETE copy-legs in rewrite plans (PRESERVE_ON_UPDATE/DELETE
    * default true), and a MERGE's NOT-MATCHED inserts carry NULL — which
    * the read side resolves to a fresh `base + row_index` id from the new
    * file's own allocation. Nullable for exactly that insert-leg NULL.
    */
  object metaColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = MetaColName
    override def dataType(): org.apache.spark.sql.types.DataType = LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "stable row id (graft row lineage): survives compaction and preserving rewrites"
  }

  /** The nullable physical-column field appended to a widened read schema. */
  val PhysField: StructField = StructField(PhysCol, LongType, nullable = true)

  /** Scan-side resolution info, computed on the driver against the
    * delegate's BUILT (table-ordered) read schema:
    * `requested` is the schema this scan REPORTS (the query's pruned
    * columns with `_row_id` in place); `physOrd`/`idxOrd` locate the
    * physical-id and generated row-index columns in the DELEGATE's rows;
    * `outOrds(i)` is the delegate ordinal feeding requested field i, or -1
    * for the `_row_id` field itself.
    */
  final case class LineageScanInfo(requested: StructType, physOrd: Int, idxOrd: Int,
      outOrds: Array[Int], delegateArity: Int)

  /** One file per partition, carrying the file's id base — the same
    * repacking trade the position-DV reader makes: per-row file attribution
    * without reading file paths. Only taken when `_row_id` is actually
    * requested; plain reads keep the delegate's packing and columnar path.
    */
  final case class LineagePartition(fp: FilePartition, base: Long)
      extends org.apache.spark.sql.connector.read.InputPartition {
    override def preferredLocations(): Array[String] = fp.preferredLocations()
  }

  /** Repack pruned partitions one-file-per-partition with each file's id
    * base (0 for a file with no entry — pre-lineage files of a table that
    * cannot exist by construction, kept total rather than throwing on
    * executors).
    */
  def repackLineage(parts: Array[org.apache.spark.sql.connector.read.InputPartition],
      entries: Map[String, Entry],
      statKey: org.apache.hadoop.fs.Path => String)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val out = Array.newBuilder[org.apache.spark.sql.connector.read.InputPartition]
    var idx = 0
    parts.foreach {
      case fp: FilePartition =>
        fp.files.foreach { pf =>
          val base = entries.get(statKey(pf.toPath)).map(_.base).getOrElse(0L)
          out += LineagePartition(FilePartition(idx, Array(pf)), base)
          idx += 1
        }
      case other => out += other
    }
    out.result()
  }

  /** Per-file partition of a COMBINED merge-on-read + lineage read: the
    * file's id base plus the delete sets in force for it (equality keys
    * for keyed MOR, row ordinals for keyless position mode — at most one
    * of the two is non-empty per table). Same one-file-per-partition trade
    * as [[LineagePartition]].
    */
  final case class MorLineagePartition(fp: FilePartition, base: Long,
      delKeys: Set[Any], delPos: DeletionVectors.PosSpec,
      binSpecs: Seq[DeletionVectors.KeySpec] = Nil)
      extends org.apache.spark.sql.connector.read.InputPartition {
    override def preferredLocations(): Array[String] = fp.preferredLocations()
  }

  /** Repack pruned partitions one-file-per-partition carrying the file's
    * id base AND its in-force delete sets — the combined MOR+lineage read.
    */
  def repackMorLineage(parts: Array[org.apache.spark.sql.connector.read.InputPartition],
      entries: Map[String, Entry],
      dvKeys: Map[String, Set[Any]],
      posDvs: DeletionVectors.PosDvs,
      statKey: org.apache.hadoop.fs.Path => String,
      keyBins: Map[String, Seq[DeletionVectors.KeySpec]] = Map.empty)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val out = Array.newBuilder[org.apache.spark.sql.connector.read.InputPartition]
    var idx = 0
    parts.foreach {
      case fp: FilePartition =>
        fp.files.foreach { pf =>
          val k = statKey(pf.toPath)
          val base = entries.get(k).map(_.base).getOrElse(0L)
          out += MorLineagePartition(FilePartition(idx, Array(pf)), base,
            dvKeys.getOrElse(k, Set.empty), posDvs.specFor(k),
            keyBins.getOrElse(k, Nil))
          idx += 1
        }
      case other => out += other
    }
    out.result()
  }

  /** Reader factory of the COMBINED merge-on-read + lineage read: drop
    * rows whose position ordinal (the parquet-generated true file ordinal
    * at `info.idxOrd` — row-group-skip-safe, so pushdown stays on) or
    * whose MOR key (at `keyOrd`; NULL keys are never DV'd) is deleted,
    * THEN resolve `_row_id` exactly like [[LineageReaderFactory]] and
    * project the requested schema. Filter-then-resolve is the only sound
    * order a reader needs here — resolution depends only on the row's own
    * (phys, ordinal), which filtering cannot disturb.
    */
  final class MorLineageReaderFactory(
      inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      info: LineageScanInfo,
      keyOrd: Int, // -1 = no equality-DV key (keyless position mode)
      keyKind: Int, // 0 = int, 1 = long, 2 = string (ignored when keyOrd<0)
      hconf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration])
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
      JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

    override def supportColumnarReads(partition: InputPartition): Boolean = false

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case MorLineagePartition(fp, base, delKeys, delSpec, binSpecs) =>
          val r = inner.createReader(fp)
          // r14 distributed key bins resolve here, in the executor
          val membs = binSpecs.map(sp => DeletionVectors.binMembership(sp, hconf.value.value))
          val delPos = delSpec.resolve(hconf.value.value)
          val posActive = !delSpec.isEmpty
          val joinOrd = info.delegateArity
          val exprs = info.requested.fields.toIndexedSeq.zip(info.outOrds).map {
            case (f, -1)  => BoundReference(joinOrd, f.dataType, f.nullable)
            case (f, ord) => BoundReference(ord, f.dataType, f.nullable)
          }
          new PartitionReader[InternalRow] {
            private lazy val proj = UnsafeProjection.create(exprs)
            private val idRow = new GenericInternalRow(1)
            private val joined = new JoinedRow
            private var current: InternalRow = _
            override def next(): Boolean = {
              while (r.next()) {
                val row = r.get()
                val posDeleted =
                  posActive && delPos.contains(row.getLong(info.idxOrd))
                val keyDeleted = !posDeleted && keyOrd >= 0 &&
                  (delKeys.nonEmpty || membs.nonEmpty) &&
                  !row.isNullAt(keyOrd) && {
                    val k: Any = keyKind match {
                      case 0 => row.getInt(keyOrd).toLong
                      case 1 => row.getLong(keyOrd)
                      case _ => row.getUTF8String(keyOrd).toString
                    }
                    delKeys.contains(k) || membs.exists(_.contains(k))
                  }
                if (!posDeleted && !keyDeleted) { current = row; return true }
              }
              false
            }
            override def get(): InternalRow = {
              val id =
                if (!current.isNullAt(info.physOrd)) current.getLong(info.physOrd)
                else base + current.getLong(info.idxOrd)
              idRow.update(0, id)
              proj(joined(current, idRow))
            }
            override def close(): Unit = r.close()
          }
        case other => inner.createReader(other)
      }
  }

  /** Reader factory resolving `_row_id` per row:
    * `phys != NULL ? phys : base + row_index` — then projecting the
    * requested schema (physical/index carriers dropped).
    */
  final class LineageReaderFactory(
      inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      info: LineageScanInfo)
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
      JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

    override def supportColumnarReads(partition: InputPartition): Boolean = false

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case LineagePartition(fp, base) =>
          val r = inner.createReader(fp)
          // data fields read from the delegate row (left side of the join);
          // the resolved id comes from a one-field row joined on the right,
          // addressed past the delegate's full arity
          val joinOrd = info.delegateArity
          val exprs = info.requested.fields.toIndexedSeq.zip(info.outOrds).map {
            case (f, -1)  => BoundReference(joinOrd, f.dataType, f.nullable)
            case (f, ord) => BoundReference(ord, f.dataType, f.nullable)
          }
          new PartitionReader[InternalRow] {
            private lazy val proj = UnsafeProjection.create(exprs)
            private val idRow = new GenericInternalRow(1)
            private val joined = new JoinedRow
            override def next(): Boolean = r.next()
            override def get(): InternalRow = {
              val row = r.get()
              val id =
                if (!row.isNullAt(info.physOrd)) row.getLong(info.physOrd)
                else base + row.getLong(info.idxOrd)
              idRow.update(0, id)
              proj(joined(row, idRow))
            }
            override def close(): Unit = r.close()
          }
        case other => inner.createReader(other)
      }
  }
}
