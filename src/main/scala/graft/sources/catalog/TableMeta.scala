package graft.sources.catalog

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

import DeletionVectors.MorMode

/** Everything CREATE, ALTER and the maintenance procedures DECLARE about a
  * staging table, as one record: `_graft_table.json` in the table
  * directory (the leading underscore keeps it out of Spark's file
  * listing). Delta keeps the same facts in its `metaData` action, Iceberg
  * in `metadata.json`'s schema and properties.
  *
  *  - `schema`: the declared schema — an empty just-created table has no
  *    parquet footers to infer from; None = infer from the files.
  *  - `partition` / `retiredPartition`: the current partition transform
  *    lines (`c`, `days(c)`, `bucket(n,c)`) and the specs the table was laid
  *    out under before ([[StagingMaintenance.setPartitionSpec]]): pruning
  *    judges each file by the spec family its path carries.
  *  - `sortOrder`: the declared append sort order; `sortUnproven` the
  *    provenance marker `(since, files)` — files the declaration never
  *    governed (laid out before an ALTER, or written by a merge-on-read
  *    delta). A snapshot reports ordering only at a version ≥ `since` and
  *    holding none of `files`.
  *  - `autoAnalyze`: columns whose zone maps every commit extends.
  *  - `targetFileBytes`: advisory append file size in bytes (0 = none).
  *  - `checkpointEvery`: checkpoint the version log every nth commit.
  *  - `mor`: the merge-on-read mode — keyed, keyless (position) or off.
  *  - `updateCopyOnWrite`: keyless-MOR UPDATE/MERGE copy-on-write instead of
  *    position deltas (`'graft.update.mode'='copy-on-write'`).
  *  - `autoFold`: the broad-statement auto-fold fraction in (0, 1].
  *  - `check`: the CHECK constraint's SQL text.
  *  - `rowLineage`: per-file row-id bases in every manifest ([[RowLineage]]).
  *  - `group`: the commit group the table is a member of ([[CommitGroups]]).
  *  - `stats`: a zone-map sidecar was written
  *    ([[StagingMaintenance.writeStats]]); scans of a table that never had
  *    one skip the sidecar probe. Set before the sidecar is written, so a
  *    set flag whose sidecar is gone reads as "no stats".
  *
  * [[json]] is the only encoder and [[TableMeta.decode]] the only decoder;
  * [[TableMeta.read]] is one `open` (a missing record means "nothing
  * declared") and [[TableMeta.update]] the only writer. A table load reads
  * the record once and answers every declaration from it.
  *
  * Concurrency: within one JVM a read never overlaps a write (see
  * [[TableMeta.lock]]) and read-modify-writes serialize on the catalog
  * monitor. Across driver JVMs the record keeps the catalog's single-driver
  * contract ([[GraftStagingCatalog.tryCreateExclusive]]): two processes
  * can interleave their read-modify-writes and the later write wins, and a
  * reader in another process can land inside a write.
  */
final case class TableMeta(
    schema: Option[StructType] = None,
    partition: Seq[String] = Nil,
    retiredPartition: Seq[String] = Nil,
    sortOrder: Seq[String] = Nil,
    sortUnproven: Option[(Long, Set[String])] = None,
    autoAnalyze: Seq[String] = Nil,
    targetFileBytes: Long = 0L,
    checkpointEvery: Long = TableMeta.DefaultCkptInterval,
    mor: MorMode = MorMode.Off,
    updateCopyOnWrite: Boolean = false,
    autoFold: Option[Double] = None,
    check: Option[String] = None,
    rowLineage: Boolean = false,
    group: Option[String] = None,
    stats: Boolean = false) {
  import GraftStagingCatalog.{parsePartSpec, PartSpec}

  /** The current partition specs. */
  def partSpecs: Seq[PartSpec] = partition.map(parsePartSpec)

  /** CURRENT ++ RETIRED specs — the set the PRUNING paths consult. Sound
    * per file: [[StagingMaintenance.partValueOf]] applies a spec only to
    * files whose path matches ITS layout prefix, and when two DISTINCT
    * specs share a prefix (a bucket-count re-spec) the pruning predicates
    * drop both from consideration (`unambiguousSpecs` in
    * [[StagingMaintenance]]) — attribution would otherwise judge an old
    * bucket(4) file by the current bucket(8) residue and lose rows.
    * Current-first, deduped.
    */
  def partSpecsAll: Seq[PartSpec] = (partition ++ retiredPartition).distinct.map(parsePartSpec)

  /** The record's text; fields at their defaults are left out. */
  def json: String = {
    def strs(xs: Seq[String]): JValue =
      if (xs.isEmpty) JNothing else JArray(xs.map(JString(_)).toList)
    def opt[A](o: Option[A])(f: A => JValue): JValue = o.fold[JValue](JNothing)(f)
    val (writeMode, mergeKey) = mor match {
      case MorMode.Key(k) => (JString("merge-on-read"), JString(k))
      case MorMode.Pos    => (JString("merge-on-read"), JNothing)
      case MorMode.Off    => (JNothing, JNothing)
    }
    compact(JObject(List[(String, JValue)](
      "schema" -> opt(schema)(s => parse(s.json)),
      "partition" -> strs(partition),
      "retiredPartition" -> strs(retiredPartition),
      "sortOrder" -> strs(sortOrder),
      "sortUnproven" -> opt(sortUnproven) { case (since, files) =>
        JObject("since" -> JLong(since), "files" -> strs(files.toSeq.sorted))
      },
      "autoAnalyze" -> strs(autoAnalyze),
      "targetFileSize" -> (if (targetFileBytes > 0L) JLong(targetFileBytes) else JNothing),
      "checkpointInterval" ->
        (if (checkpointEvery == TableMeta.DefaultCkptInterval) JNothing
         else JLong(checkpointEvery)),
      "writeMode" -> writeMode,
      "mergeKey" -> mergeKey,
      "updateMode" -> (if (updateCopyOnWrite) JString("copy-on-write") else JNothing),
      "autoFoldFraction" -> opt(autoFold)(JDouble(_)),
      "check" -> opt(check)(JString(_)),
      "rowLineage" -> (if (rowLineage) JBool(true) else JNothing),
      "group" -> opt(group)(JString(_)),
      "stats" -> (if (stats) JBool(true) else JNothing)
    ).filter(_._2 != JNothing)))
  }
}

object TableMeta {
  val FileName = "_graft_table.json"
  val DefaultCkptInterval = 10L

  /** Decode a record's text. Anything that does not parse as a record
    * fails loudly: the declarations govern how every write lays out and
    * every read filters, so a damaged record must never read as "none".
    */
  def decode(txt: String): TableMeta = {
    def bad(why: String): Nothing =
      throw new IllegalStateException(s"malformed table record ($why): $txt")
    val fields = (try parse(txt) catch { case e: Exception => bad(e.getMessage) }) match {
      case JObject(fs) => fs.toMap
      case _           => bad("not a JSON object")
    }
    def str(k: String): Option[String] = fields.get(k).map {
      case JString(s) => s
      case _          => bad(s"$k is not a string")
    }
    def long(v: JValue, k: String): Long = v match {
      case JInt(n)  => n.toLong
      case JLong(n) => n
      case _        => bad(s"$k is not an integer")
    }
    def strs(v: Option[JValue], k: String): Seq[String] = v.fold(Seq.empty[String]) {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case _          => bad(s"$k holds a non-string")
      }
      case _ => bad(s"$k is not an array")
    }
    def bool(k: String): Boolean = fields.get(k).exists {
      case JBool(b) => b
      case _        => bad(s"$k is not a boolean")
    }
    TableMeta(
      schema = fields.get("schema").map(s =>
        DataType.fromJson(compact(s)) match {
          case st: StructType => st
          case _              => bad("schema is not a struct")
        }),
      partition = strs(fields.get("partition"), "partition"),
      retiredPartition = strs(fields.get("retiredPartition"), "retiredPartition"),
      sortOrder = strs(fields.get("sortOrder"), "sortOrder"),
      sortUnproven = fields.get("sortUnproven").map {
        case JObject(u) =>
          val m = u.toMap
          (long(m.getOrElse("since", bad("sortUnproven has no since")), "since"),
            strs(m.get("files"), "files").toSet)
        case _ => bad("sortUnproven is not an object")
      },
      autoAnalyze = strs(fields.get("autoAnalyze"), "autoAnalyze"),
      targetFileBytes = fields.get("targetFileSize").fold(0L)(long(_, "targetFileSize")),
      checkpointEvery = fields.get("checkpointInterval")
        .fold(DefaultCkptInterval)(long(_, "checkpointInterval")),
      mor = str("writeMode") match {
        case Some("merge-on-read") => str("mergeKey").fold[MorMode](MorMode.Pos)(MorMode.Key)
        case None                  => MorMode.Off
        case Some(other)           => bad(s"unknown writeMode $other")
      },
      updateCopyOnWrite = str("updateMode") match {
        case Some("copy-on-write") => true
        case None                  => false
        case Some(other)           => bad(s"unknown updateMode $other")
      },
      autoFold = fields.get("autoFoldFraction").map {
        case JDouble(f) => f
        case JDecimal(f) => f.toDouble
        case v           => long(v, "autoFoldFraction").toDouble
      },
      check = str("check"),
      rowLineage = bool("rowLineage"),
      group = str("group"),
      stats = bool("stats"))
  }

  private def path(d: Path): Path = new Path(d, FileName)

  /** Keeps this JVM's record reads out of its record writes. A write
    * replaces the file in place (`create` with overwrite): until it closes,
    * a reader can find the file empty, partial, or — where overwrite
    * deletes first — missing, which reads as "nothing declared". Publishing
    * by rename over the record would not close the window on the local
    * file system: it renames the data file and its checksum file in two
    * steps, and a reader between them fails its checksum. Writes are rare
    * (DDL, maintenance, and merge-on-read commits on sort-ordered tables)
    * and short, so readers share the lock and only a write excludes them.
    */
  private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** The table's declarations: one `open`; no record = nothing declared. */
  def read(fs: FileSystem, d: Path): TableMeta = {
    lock.readLock().lock()
    val txt =
      try Some(GraftStagingCatalog.readString(fs, path(d)))
      catch { case _: FileNotFoundException => None }
      finally lock.readLock().unlock()
    txt.fold(TableMeta())(decode)
  }

  /** The only writer: read-modify-write under the catalog monitor (the one
    * `markUnsorted`, `writeTags` and `setPartitionSpec` hold), so an ALTER
    * and a commit's provenance edit cannot lose each other's change. An
    * unchanged record is not rewritten. Returns the record as written.
    */
  def update(fs: FileSystem, d: Path)(f: TableMeta => TableMeta): TableMeta =
    GraftStagingCatalog.synchronized {
      val cur = read(fs, d)
      val next = f(cur)
      if (next != cur) {
        lock.writeLock().lock()
        try GraftStagingCatalog.writeString(fs, path(d), next.json)
        finally lock.writeLock().unlock()
      }
      next
    }
}
