package graft.sources.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** One version of a staging table's log, `_graft_versions/v<N>.json` (a
  * branch's under `b_<name>/`): a full snapshot, so resolving a version
  * reads one file (Delta's log entry with its snapshot folded in).
  *
  *  - `ts`: commit wall-clock millis (`TIMESTAMP AS OF`, VACUUM's
  *    retention window).
  *  - `kind`: `commit` for an append, else the statement or procedure that
  *    rewrote the file set (`optimize`, `delete`, `update`, `merge`,
  *    `overwrite`, `rename`, `restore`, `clone`, `sync`). Change feeds diff
  *    file sets only across append-comparable kinds. A legacy manifest
  *    without the field reads as `commit`.
  *  - `batchId`: the micro-batch of an exactly-once streaming append.
  *  - `dvs`: the deletion-vector sidecars in force ([[DeletionVectors]]).
  *  - `rowIds` / `nextRowId`: the row-lineage vector and allocation
  *    watermark ([[RowLineage]]). `nextRowId` is None on a table without
  *    lineage, and then neither field is written.
  *  - `files`: the snapshot's data files — table-relative names, or
  *    absolute paths for the files a shallow clone borrows.
  *
  * [[json]] is the only encoder and [[Manifest.decode]] the only decoder;
  * [[Manifest.read]] is one `open`. A commit builds one record and
  * publishes it with [[Manifest.create]].
  */
final case class Manifest(
    ts: Long,
    kind: String = "commit",
    batchId: Option[Long] = None,
    dvs: Seq[String] = Nil,
    rowIds: Map[String, RowLineage.Entry] = Map.empty,
    nextRowId: Option[Long] = None,
    files: Seq[String] = Nil) {

  /** The row-id allocation watermark; 0 where the manifest carries none. */
  def watermark: Long = nextRowId.getOrElse(0L)

  /** The manifest's text. `files` and `dvs` are written distinct and
    * sorted: under concurrent commits a racer's files can arrive both via
    * the previous snapshot and via this commit's directory delta, and a
    * file listed twice would read its rows twice.
    */
  def json: String = {
    def strs(xs: Seq[String]): JValue = JArray(xs.distinct.sorted.map(JString(_)).toList)
    val vector = rowIds.toSeq.sortBy(_._1).map { case (f, e) =>
      JString(s"$f|${e.base}|${if (e.mat) "m" else "v"}")
    }
    compact(JObject(List[(String, JValue)](
      "ts" -> JLong(ts),
      "kind" -> JString(kind),
      "batchId" -> batchId.fold[JValue](JNothing)(JLong(_)),
      "dvs" -> (if (dvs.isEmpty) JNothing else strs(dvs)),
      "nextRowId" -> nextRowId.fold[JValue](JNothing)(JLong(_)),
      "rowIds" -> (if (nextRowId.isEmpty) JNothing else JArray(vector.toList)),
      "files" -> strs(files)
    ).filter(_._2 != JNothing)))
  }
}

object Manifest {

  /** Decode manifest `name`'s text. Anything that is not a complete
    * manifest fails loudly, naming the file: an empty or truncated
    * manifest (a crash mid-write, or a reader inside another process's
    * write) must never read as an empty snapshot — a commit on top of one
    * would drop every committed row.
    */
  def decode(name: String, txt: String): Manifest = {
    def bad(why: String): Nothing =
      throw new IllegalStateException(s"malformed manifest $name ($why)")
    val fields = (try parse(txt) catch { case e: Exception => bad(e.getMessage) }) match {
      case JObject(fs) => fs.toMap
      case _           => bad("not a JSON object")
    }
    def long(k: String): Option[Long] = fields.get(k).map {
      case JInt(n)  => n.toLong
      case JLong(n) => n
      case _        => bad(s"$k is not an integer")
    }
    def strs(k: String): Seq[String] = fields.get(k).fold(Seq.empty[String]) {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case _          => bad(s"$k holds a non-string")
      }
      case _ => bad(s"$k is not an array")
    }
    // a lineage entry is `file|base|m` (materialized) or `file|base|v`;
    // split from the right, so a `|` in a name cannot shift the fields
    def entry(e: String): (String, RowLineage.Entry) = {
      val i2 = e.lastIndexOf('|'); val i1 = e.lastIndexOf('|', i2 - 1)
      if (i1 < 0) bad(s"rowIds entry $e")
      e.substring(0, i1) ->
        RowLineage.Entry(e.substring(i1 + 1, i2).toLong, e.substring(i2 + 1) == "m")
    }
    if (!fields.contains("files")) bad("no files")
    Manifest(
      ts = long("ts").getOrElse(0L),
      kind = fields.get("kind").fold("commit") {
        case JString(k) => k
        case _          => bad("kind is not a string")
      },
      batchId = long("batchId"),
      dvs = strs("dvs"),
      rowIds = strs("rowIds").map(entry).toMap,
      nextRowId = long("nextRowId"),
      files = strs("files"))
  }

  /** Keeps this JVM's manifest reads out of its manifest writes: a
    * create-exclusive commit makes `v<N>.json` visible at `create`, before
    * its bytes land, so on the local file system and HDFS a reader in that
    * window finds it empty or partial. Across driver JVMs the log keeps the
    * catalog's single-driver contract ([[GraftStagingCatalog.tryCreateExclusive]]),
    * and a reader landing inside a write fails in [[decode]].
    */
  private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Manifest `mf`: one `open`. */
  def read(fs: FileSystem, mf: Path): Manifest = {
    lock.readLock().lock()
    val txt =
      try GraftStagingCatalog.readString(fs, mf)
      finally lock.readLock().unlock()
    decode(mf.toString, txt)
  }

  /** Publish `m` as `mf` iff no file of that name exists: the commit
    * point. False = a racer published that version first.
    */
  def create(fs: FileSystem, mf: Path, m: Manifest): Boolean = {
    lock.writeLock().lock()
    try GraftStagingCatalog.tryCreateExclusive(fs, mf, m.json)
    finally lock.writeLock().unlock()
  }

  /** Rewrite committed manifest `mf` in place — only PURGE does this, when
    * it substitutes rewritten twins for the files it purged rows from.
    */
  def replace(fs: FileSystem, mf: Path, m: Manifest): Unit = {
    lock.writeLock().lock()
    try GraftStagingCatalog.writeString(fs, mf, m.json)
    finally lock.writeLock().unlock()
  }
}

/** `ckpt-v<N>.json`: the log's state resolved at version N — the complete
  * exactly-once ledger (`batchIds`, which outlives VACUUM reclaiming the
  * manifests that recorded it), the (version, commit-ts) `history` of
  * every retained version (written as the parallel arrays `hv` and `hts`;
  * empty for a checkpoint that predates it), and the head's `dvs` and
  * `files`. The trailing `"eof":1` is the integrity sentinel.
  */
final case class Checkpoint(version: Long, batchIds: Set[Long],
    history: Seq[(Long, Long)], dvs: Seq[String], files: Seq[String]) {
  def json: String = {
    def strs(xs: Seq[String]): JValue = JArray(xs.distinct.sorted.map(JString(_)).toList)
    def longs(xs: Seq[Long]): JValue = JArray(xs.map(JLong(_)).toList)
    compact(JObject(
      "version" -> JLong(version),
      "batchIds" -> longs(batchIds.toSeq.sorted),
      "hv" -> longs(history.map(_._1)),
      "hts" -> longs(history.map(_._2)),
      "dvs" -> strs(dvs),
      "files" -> strs(files),
      "eof" -> JInt(1)))
  }
}

object Checkpoint {

  /** None for any text that is not a complete checkpoint: a torn or
    * truncated checkpoint must read as ABSENT, never as an empty ledger —
    * callers then fall back to the full log, which is slow but correct.
    */
  def decode(txt: String): Option[Checkpoint] =
    if (!txt.endsWith("\"eof\":1}")) None
    else try {
      implicit val formats: Formats = DefaultFormats
      val j = parse(txt)
      // an absent array is empty; a present one of the wrong shape throws
      def longs(k: String): List[Long] =
        if (j \ k == JNothing) Nil else (j \ k).extract[List[Long]]
      def strs(k: String): List[String] =
        if (j \ k == JNothing) Nil else (j \ k).extract[List[String]]
      val (hv, hts) = (longs("hv"), longs("hts"))
      if (hv.size != hts.size) None
      else Some(Checkpoint((j \ "version").extract[Long], longs("batchIds").toSet,
        hv.zip(hts), strs("dvs"), strs("files")))
    } catch { case _: Exception => None }
}
