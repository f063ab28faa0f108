package graft.sources.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.util.SerializableConfiguration

/** Equality-delete DELETION VECTORS — the merge-on-read (MOR) write path for
  * staging-catalog tables whose row-level churn is keyed but NOT clustered
  * (the high-churn CDC shape: matched keys spread across every file, so the
  * copy-on-write path rewrites the whole touched set per batch — write
  * amplification proportional to touched-file BYTES, not changed rows).
  *
  * Model (the Iceberg equality-delete idea, file-scoped):
  *
  *  - A DV sidecar (`_graft_dv/<name>.json`) names the exact data files it
  *    applies to — the files the row-level operation's scan planned, i.e.
  *    every file that may still hold a stale row. Files written BY the
  *    same operation (the new row versions) are never named, so the fresh
  *    rows survive.
  *  - The version manifest gains a `dvs` array naming the active sidecars;
  *    a MOR commit ADDS files and DVs and rewrites NOTHING — the manifest
  *    is previous-files ++ fresh, dvs ++ one.
  *  - The READ path applies DVs inside the DSv2 scan: partitions holding a
  *    DV'd file are planned one-file-per-partition, and their readers drop
  *    rows whose key (or position) that file's deletes name. Plain
  *    `SELECT`, time travel, and the row-level operation's own scan (so a
  *    second MERGE never re-matches ghost rows) all read through this.
  *  - OPTIMIZE folds: it reads with DVs applied and commits `dvs = []`.
  *
  * The four sidecar kinds ([[DvSidecar]]):
  *  - `Keys` (`dv-<token>.json`, `"type":"long"|"string"`): a key column
  *    and its deleted key values, inline;
  *  - `KeyRun` (`dvk-<token>.json`): a key column and executor-written key
  *    bins under `dvk-<token>/` — the over-inline-cap keyed delete;
  *  - `Pos` (`dv-<token>.json`): per file, deleted row ordinals, inline —
  *    keyless MOR;
  *  - `PosRun` (`dvr-<token>.json`): per file, executor-written binary run
  *    bins under `dvr-<token>/` — the over-inline-cap position delete.
  * Each kind has one encoder (its `json`) and [[DvSidecar.decode]] is the
  * one decoder: no other code reads the `"type"` tag. [[Deletes]] is the
  * delete state in force at one snapshot — each named sidecar decoded once,
  * each kind in its own part — and [[mode]] the table's one MOR
  * declaration (`Key(col)`, `Pos` or `Off`).
  *
  * Contract: the declared merge key (`graft.merge-keys` table property at
  * CREATE) must be a ROW IDENTIFIER — unique per row, the CDC primary key.
  * Equality deletes suppress EVERY stale row with a deleted key in the
  * scoped files; with non-unique keys a partial UPDATE could suppress
  * sibling rows (the same contract Iceberg's equality deletes carry).
  *
  * Reference tie: the reference's write surface updates each object
  * independently and never rewrites neighbors
  * (`CephRgwFileSystem.java:216-289`); DVs are that per-object write
  * economy carried up to row-level semantics.
  */
object DeletionVectors {
  val DvDir = "_graft_dv"

  /** `(_graft_file, _graft_pos)` — the POSITION ROW ID of a keyless-MOR
    * table as DSv2 metadata columns (the Iceberg `_file`/`_pos` shape):
    * `SupportsDelta.rowId` references them, so UPDATE/MERGE (and DELETEs
    * whose predicate the metadata path cannot translate) plan `WriteDelta`
    * — the writers receive each replaced row's (file, ordinal) and record
    * it as a position-delete sidecar instead of rewriting the file. Also
    * readable in plain SQL (`SELECT _graft_file, _graft_pos FROM t`) as
    * row provenance.
    */
  val FileMetaColName = "_graft_file"
  val PosMetaColName = "_graft_pos"
  object fileMetaColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileMetaColName
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "table-relative data file holding this row (graft position row id)"
  }
  object posMetaColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosMetaColName
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "row ordinal within its data file (graft position row id)"
  }

  /** A table's merge-on-read declaration ([[TableMeta.mor]], declared at
    * CREATE): equality deletes on a key column, keyless POSITION deletes
    * (merge-on-read with NO merge key — raw event ingest with no natural
    * row identifier: row-level DELETEs record `(file, row position)`
    * sidecars instead of paying a copy-on-write rewrite; see
    * [[writePosDv]]/[[PosDvPartition]]), or copy-on-write.
    */
  sealed trait MorMode
  object MorMode {
    final case class Key(col: String) extends MorMode
    case object Pos extends MorMode
    case object Off extends MorMode
  }

  /** Canonical in-memory key value: integral keys normalize to Long,
    * strings stay String — one representation for sidecar I/O, reader
    * filters, and maintenance joins.
    */
  def canonicalize(v: Any): Any = v match {
    case i: Int   => i.toLong
    case i: java.lang.Integer => i.longValue()
    case l: Long  => l
    case l: java.lang.Long => l.longValue()
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"deletion vectors support integral and string keys, got ${other.getClass}")
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Write one inline equality-delete sidecar; returns its DvDir-relative
    * name for the manifest.
    */
  def writeDv(fs: FileSystem, d: Path, keyCol: String, isString: Boolean,
      files: Seq[String], keys: Set[Any]): String = {
    val name = s"dv-${java.util.UUID.randomUUID().toString.take(12)}.json"
    fs.mkdirs(new Path(d, DvDir))
    writeSidecar(fs, d, name, DvSidecar.Keys(keyCol, isString, files, keys))
  }

  /** Create one sidecar — create-exclusive: DVs are immutable. */
  private def writeSidecar(fs: FileSystem, d: Path, name: String,
      sc: DvSidecar): String = {
    val out = fs.create(new Path(new Path(d, DvDir), name), false)
    try out.write(sc.json.getBytes(UTF_8)) finally out.close()
    name
  }

  // ---- the sidecar format: one encoder per kind, one decoder ----

  /** One decoded DV sidecar; see the object header for the four kinds.
    * `json` is the kind's only encoder, [[DvSidecar.decode]] the only
    * decoder.
    */
  sealed trait DvSidecar { def json: String }
  object DvSidecar {
    /** Inline equality deletes: key values are JSON numbers (integral) or
      * URL-encoded JSON strings; covered file names are plain.
      */
    final case class Keys(keyCol: String, isString: Boolean, files: Seq[String],
        keys: Set[Any]) extends DvSidecar {
      def json: String = {
        val keyJson =
          if (isString) keys.toSeq.map(k => quote(enc(k.asInstanceOf[String]))).sorted
          else keys.toSeq.map(_.asInstanceOf[Long]).sorted.map(_.toString)
        s"""{"key":"${enc(keyCol)}","type":"${if (isString) "string" else "long"}",""" +
          s""""files":[${files.sorted.map(quote).mkString(",")}],""" +
          s""""keys":[${keyJson.mkString(",")}]}"""
      }
    }
    /** Distributed key bins: `dir` holds the bins; file names URL-encoded. */
    final case class KeyRun(keyCol: String, isString: Boolean, dir: String, count: Long,
        bins: Seq[String], files: Seq[String]) extends DvSidecar {
      def json: String =
        s"""{"type":"keyrun","key":"${enc(keyCol)}",""" +
          s""""ktype":"${if (isString) "string" else "long"}","dir":"$dir",""" +
          s""""count":$count,""" +
          s""""bins":[${bins.sorted.map(quote).mkString(",")}],""" +
          s""""files":[${files.sorted.map(f => quote(enc(f))).mkString(",")}]}"""
    }
    /** Inline position deletes: per file, the deleted row ordinals. */
    final case class Pos(perFile: Seq[(String, Seq[Long])]) extends DvSidecar {
      def json: String = {
        val body = perFile.sortBy(_._1).map { case (f, ps) =>
          quote(enc(f)) + ":[" + ps.distinct.sorted.mkString(",") + "]"
        }.mkString(",")
        s"""{"type":"pos","pos":{$body}}"""
      }
    }
    /** Distributed position runs: per file, its run bins under `dir`;
      * `rows` is the audit total of deleted ordinals.
      */
    final case class PosRun(dir: String, rows: Long,
        perFile: Seq[(String, Seq[String])]) extends DvSidecar {
      def json: String = {
        val body = perFile.sortBy(_._1).map { case (f, bins) =>
          quote(enc(f)) + ":[" + bins.sorted.map(quote).mkString(",") + "]"
        }.mkString(",")
        s"""{"type":"posrun","dir":"$dir","rows":$rows,"files":{$body}}"""
      }
    }

    private def quote(s: String): String = "\"" + s + "\""
    private val Entry = "\"([^\"]+)\":\\[([^\\]]*)\\]".r
    private def entries(txt: String, skip: Set[String]): Seq[(String, Seq[String])] =
      Entry.findAllMatchIn(txt).map(m => dec(m.group(1)) -> m.group(2).split(',')
        .iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.stripPrefix("\"").stripSuffix("\"")).toSeq)
        .filter { case (f, _) => !skip(f) }.toSeq
    private def str(txt: String, field: String): Option[String] =
      ("\"" + field + "\":\"([^\"]+)\"").r.findFirstMatchIn(txt).map(_.group(1))
    private def num(txt: String, field: String): Option[Long] =
      ("\"" + field + "\":(\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toLong)
    /** One NAMED string array, scoped to the field. */
    private def parseArray(txt: String, field: String): Seq[String] =
      ("\"" + field + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(txt) match {
        case Some(m) if m.group(1).trim.nonEmpty =>
          "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
        case _ => Seq.empty
      }

    /** Decode sidecar `name`'s text — the only reader of the type tag. */
    def decode(name: String, txt: String): DvSidecar =
      if (txt.contains("\"type\":\"posrun\"")) {
        PosRun(str(txt, "dir").getOrElse(
            throw new IllegalStateException(s"run descriptor $name names no dir")),
          num(txt, "rows").getOrElse(0L),
          entries(txt, Set("type", "dir", "files")))
      } else if (txt.contains("\"type\":\"pos\"")) {
        Pos(entries(txt, Set("type", "pos")).map { case (f, ps) => f -> ps.map(_.toLong) })
      } else if (txt.contains("\"type\":\"keyrun\"")) {
        KeyRun(dec(str(txt, "key").getOrElse(
            throw new IllegalStateException(s"keyrun descriptor $name names no key"))),
          txt.contains("\"ktype\":\"string\""),
          str(txt, "dir").getOrElse(
            throw new IllegalStateException(s"keyrun descriptor $name names no dir")),
          num(txt, "count").getOrElse(0L),
          parseArray(txt, "bins"),
          parseArray(txt, "files").map(dec))
      } else {
        val isString = txt.contains("\"type\":\"string\"")
        val keysBody = "\"keys\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
        val keys: Set[Any] =
          if (keysBody.trim.isEmpty) Set.empty
          else if (isString)
            "\"([^\"]*)\"".r.findAllMatchIn(keysBody).map(m => dec(m.group(1)): Any).toSet
          else keysBody.split(',').iterator.map(_.trim).filter(_.nonEmpty)
            .map(_.toLong: Any).toSet
        Keys(str(txt, "key").map(dec).getOrElse(""), isString,
          parseArray(txt, "files"), keys)
      }

    /** Read and decode sidecar `name` of table `d`. */
    def read(fs: FileSystem, d: Path, name: String): DvSidecar =
      decode(name, GraftStagingCatalog.readString(fs, new Path(new Path(d, DvDir), name)))
  }

  // ---- the delete state in force at one snapshot ----

  /** Every delete in force at one snapshot, each named sidecar decoded
    * once and each kind in its own part: `inline` keys per file,
    * `keyRuns` descriptors, and `pos` (inline ordinals + run bins).
    * `mode` decides how [[applyTo]] suppresses rows.
    */
  final case class Deletes(mode: MorMode, inline: Map[String, Set[Any]],
      keyRuns: Seq[KeyRuns], pos: PosDvs) {
    /** Every data file some sidecar names. */
    def covered: Set[String] =
      inline.keySet ++ keyRuns.iterator.flatMap(_.files) ++ pos.coveredFiles

    /** The same deletes, scoped to the files `keep` accepts. */
    def restrict(keep: String => Boolean): Deletes =
      Deletes(mode, inline.filter { case (f, _) => keep(f) },
        keyRuns.map(kr => kr.copy(files = kr.files.filter(keep))), pos.filterFiles(keep))

    /** One file's delete state, comparable across versions — the cheap
      * visibility-change test CDF diffing runs: inline keys, the key-bin
      * and run-bin identities (immutable, so identity is content) and
      * inline ordinals.
      */
    def stateOf(f: String): (Set[Any], Set[String], (Set[Long], Seq[String])) =
      (inline.getOrElse(f, Set.empty),
        keyRuns.iterator.filter(_.files(f)).map(_.spec.dirUri).toSet, pos.stateOf(f))

    /** Suppress the deleted rows of a V1 files-read of the table (the
      * maintenance read path): inline keys, then key bins, on a keyed
      * table; positions on a keyless one.
      */
    def applyTo(df: DataFrame): DataFrame = mode match {
      case MorMode.Key(k) => applyKeyRunsToRead(applyToRead(df, k, inline), k, keyRuns)
      case MorMode.Pos    => applyPosToRead(df, pos)
      case MorMode.Off    => df
    }
  }

  object Deletes {
    val none: Deletes = Deletes(MorMode.Off, Map.empty, Nil, PosDvs.empty)

    /** The deletes in force at manifest `mf`: one manifest read; a DV-free
      * version stops there, otherwise one table-record read and one read
      * per sidecar.
      */
    def at(fs: FileSystem, d: Path, mf: Path): Deletes = {
      val names = Manifest.read(fs, mf).dvs
      if (names.isEmpty) none else load(fs, d, TableMeta.read(fs, d).mor, names)
    }

    /** Decode each named sidecar once. Missing sidecars fail loudly — a DV
      * is commit metadata, not an advisory cache.
      */
    def load(fs: FileSystem, d: Path, mode: MorMode, names: Seq[String]): Deletes = {
      val dvDir = new Path(d, DvDir)
      val inline = scala.collection.mutable.Map.empty[String, Set[Any]]
      val keyRuns = scala.collection.mutable.ArrayBuffer.empty[KeyRuns]
      val ords = scala.collection.mutable.Map.empty[String, Set[Long]]
      val runs = scala.collection.mutable.Map.empty[String, Seq[String]]
      names.foreach { n =>
        DvSidecar.read(fs, d, n) match {
          case k: DvSidecar.Keys =>
            k.files.foreach(f => inline(f) = inline.getOrElse(f, Set.empty) ++ k.keys)
          case kr: DvSidecar.KeyRun =>
            keyRuns += KeyRuns(kr.keyCol, kr.isString, kr.files.toSet,
              KeySpec(new Path(dvDir, kr.dir).toString, kr.bins, kr.isString), kr.count)
          case p: DvSidecar.Pos =>
            p.perFile.foreach { case (f, ps) => ords(f) = ords.getOrElse(f, Set.empty) ++ ps }
          case r: DvSidecar.PosRun =>
            val runDir = new Path(dvDir, r.dir)
            r.perFile.foreach { case (f, bins) =>
              if (bins.nonEmpty) runs(f) =
                runs.getOrElse(f, Seq.empty) ++ bins.map(b => new Path(runDir, b).toString)
            }
        }
      }
      Deletes(mode, inline.toMap, keyRuns.toSeq, PosDvs(ords.toMap, runs.toMap))
    }
  }

  // ---- DISTRIBUTED EQUALITY-DELETE KEY BINS (r14 — SURVEY r14 candidate
  // #1, the keyed twin of the r13 position-run sidecars): a CDC burst
  // deleting 100M keys must not materialize them on the driver. Over the
  // inline cap, each DELTA WRITER TASK spills its own deleted keys to a
  // bin file under `_graft_dv/dvk-<token>/` and reports only the bin name;
  // the driver commits ONE `dvk-<token>.json` descriptor naming the key
  // column, the covered files, and the bins. Reads resolve the key set
  // IN THE EXECUTOR (one parse per executor JVM, cached by descriptor
  // dir — the Iceberg equality-delete read economy); maintenance reads
  // suppress via a non-broadcast anti-join over the bins parsed in
  // parallel. OPTIMIZE folds descriptors away; VACUUM reclaims the dir.

  /** Executor-side spec of one descriptor's bin-backed keys. */
  final case class KeySpec(dirUri: String, bins: Seq[String], isString: Boolean)
      extends Serializable

  /** Driver/scan-side handle of one keyrun descriptor. */
  final case class KeyRuns(keyCol: String, isString: Boolean,
      files: Set[String], spec: KeySpec, count: Long)

  /** Executor-resolved membership of one descriptor's bin-backed keys:
    * integral keys live in a SORTED PRIMITIVE array (8 B/key — a 100M-key
    * descriptor costs ~800 MB per executor instead of a multi-GB boxed
    * set; probes are binary searches), string keys in a hash set. The
    * per-executor materialization is the Iceberg equality-delete read
    * economy — and transient: the OPTIMIZE fold retires the descriptors.
    */
  sealed trait KeyMembership { def contains(k: Any): Boolean }
  private final class LongKeyMembership(sorted: Array[Long]) extends KeyMembership {
    override def contains(k: Any): Boolean = k match {
      case l: Long => java.util.Arrays.binarySearch(sorted, l) >= 0
      case _       => false
    }
  }
  private final class StringKeyMembership(set: Set[String]) extends KeyMembership {
    override def contains(k: Any): Boolean = k match {
      case s: String => set(s)
      case _         => false
    }
  }

  private val KeyBinCacheMax = 4
  private val keyBinCache =
    new java.util.concurrent.ConcurrentHashMap[String, KeyMembership]()

  /** One bin's keys (strings URL-encoded, one per line). */
  private[catalog] def readKeyBin(dirUri: String, bin: String, isString: Boolean,
      conf: org.apache.hadoop.conf.Configuration): Iterator[Any] = {
    val dir = new Path(dirUri)
    val in = dir.getFileSystem(conf).open(new Path(dir, bin))
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8))
    new Iterator[Any] {
      private var nextLine = rd.readLine()
      override def hasNext: Boolean = {
        if (nextLine == null) { rd.close(); false } else true
      }
      override def next(): Any = {
        val t = nextLine.trim; nextLine = rd.readLine()
        if (isString) dec(t) else t.toLong
      }
    }
  }

  /** The full key set of a descriptor, resolved and CACHED per executor
    * JVM (descriptor dirs are immutable — token-unique — so the cache
    * never invalidates; a crude size cap bounds leakage across folds).
    */
  private[catalog] def binMembership(spec: KeySpec,
      conf: org.apache.hadoop.conf.Configuration): KeyMembership = {
    // size-cap OUTSIDE the mapping function: a map mutation inside
    // computeIfAbsent on the same ConcurrentHashMap may deadlock
    if (keyBinCache.size >= KeyBinCacheMax) keyBinCache.clear()
    keyBinCache.computeIfAbsent(spec.dirUri, { _ =>
      if (spec.isString)
        new StringKeyMembership(spec.bins.iterator
          .flatMap(b => readKeyBin(spec.dirUri, b, isString = true, conf))
          .map(_.asInstanceOf[String]).toSet)
      else {
        val b = scala.collection.mutable.ArrayBuilder.make[Long]
        spec.bins.foreach(bin =>
          readKeyBin(spec.dirUri, bin, isString = false, conf)
            .foreach(k => b += k.asInstanceOf[Long]))
        val arr = b.result()
        java.util.Arrays.sort(arr)
        new LongKeyMembership(arr)
      }
    })
  }

  /** One executor-written key bin; returns the dir-relative bin name. */
  def writeKeyBin(fs: FileSystem, d: Path, runDir: String,
      keys: Iterator[Any], isString: Boolean, taskId: Long): String = {
    val name = s"b-$taskId-${java.util.UUID.randomUUID().toString.take(8)}.txt"
    val dir = new Path(new Path(d, DvDir), runDir)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, name), false)
    try {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, UTF_8))
      keys.foreach { k =>
        w.write(if (isString) enc(k.asInstanceOf[String]) else k.toString)
        w.write('\n')
      }
      w.flush()
    } finally out.close()
    name
  }

  /** The statement's single keyrun descriptor (named in the manifest's
    * `dvs` like every other sidecar). Returns its DvDir-relative name.
    */
  def writeKeyRunDescriptor(fs: FileSystem, d: Path, runDir: String,
      keyCol: String, isString: Boolean, files: Seq[String],
      bins: Seq[String], count: Long): String =
    writeSidecar(fs, d, s"$runDir.json",
      DvSidecar.KeyRun(keyCol, isString, runDir, count, bins, files))

  // ---- purge support (r14): descriptor remap after a history rewrite ----

  /** Remap surviving run pairs after dropping `purged` ordinals: every
    * surviving position p moves to `p - |{q in purged : q < p}|`, purged
    * positions leave the set, and adjacent images re-merge. `purged` is
    * sorted ascending.
    */
  private[catalog] def remapRuns(runs: Seq[(Long, Long)],
      purged: Array[Long]): Seq[(Long, Long)] = {
    def rankBelow(p: Long): Int = {
      var lo = 0; var hi = purged.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (purged(m) < p) lo = m + 1 else hi = m }
      lo
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    runs.sortBy(_._1).foreach { case (s, e) =>
      var a = s
      var i = rankBelow(s) // index of the first purged ordinal >= s
      while (a <= e) {
        val np = if (i < purged.length && purged(i) <= e) purged(i) else e + 1
        if (np > a) {
          val ns = a - rankBelow(a)
          out += ((ns, ns + (np - 1 - a)))
        }
        a = np + 1
        if (np <= e) i += 1
      }
    }
    mergeRuns(out.toSeq)
  }

  /** Sort inclusive (start, end) runs and merge touching or overlapping
    * ones (possible across sidecars).
    */
  private def mergeRuns(runs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    runs.sortBy(_._1).foreach { case (s, e) =>
      merged.lastOption match {
        case Some((ls, le)) if s <= le + 1 =>
          if (e > le) merged(merged.length - 1) = (ls, e)
        case _ => merged += ((s, e))
      }
    }
    merged.toSeq
  }

  /** Split remapped (survivor-coordinate) run pairs across a file's twins:
    * `cum` is the exclusive prefix-sum of twin row counts (cum(j) = first
    * survivor ordinal of twin j; cum.last = total survivors). Returns, per
    * twin index, that twin's LOCAL run pairs.
    */
  private[catalog] def splitRunsByTwin(pairs: Seq[(Long, Long)],
      cum: Array[Long]): Map[Int, Seq[(Long, Long)]] = {
    val nTwin = cum.length - 1
    val res = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    pairs.foreach { case (s, e) =>
      var j = java.util.Arrays.binarySearch(cum, s) match {
        case k if k >= 0 => math.min(k, nTwin - 1)
        case k           => math.max(0, -k - 2)
      }
      var a = s
      while (a <= e && j < nTwin) {
        val hi = cum(j + 1) - 1
        val b = math.min(e, hi)
        if (b >= a)
          res.getOrElseUpdate(j, scala.collection.mutable.ArrayBuffer.empty) +=
            ((a - cum(j), b - cum(j)))
        a = b + 1
        j += 1
      }
      require(a > e, s"remapped run ($s,$e) exceeds twin rows ${cum.last}")
    }
    res.view.mapValues(_.toSeq).toMap
  }

  /** Write one run sidecar directly from (start, end) pairs (the purge
    * remap already has runs — expanding to ordinals would defeat the
    * constant-space codec). Returns (bin name, ordinal count).
    */
  private def writeRunPairs(conf: org.apache.hadoop.conf.Configuration,
      runDirStr: String, rel: String, pairs: Seq[(Long, Long)]): (String, Long) = {
    val name = s"run-${java.util.UUID.randomUUID().toString.take(12)}.bin"
    val target = new Path(runDirStr, name)
    val fsx = target.getFileSystem(conf)
    val out = new java.io.DataOutputStream(fsx.create(target, false))
    var count = 0L
    try {
      out.writeInt(RunMagic); out.writeInt(1); out.writeUTF(rel)
      pairs.foreach { case (s, e) =>
        out.writeLong(s); out.writeLong(e - s + 1L); count += e - s + 1L
      }
    } finally out.close()
    (name, count)
  }

  /** HISTORY-PURGE DESCRIPTOR REMAP (r14 — what lets `CALL purge` serve
    * DV-carrying history): after purge rewrites candidate files into
    * twins (matching rows dropped, survivor order preserved) and
    * substitutes the names through every readable manifest, the
    * descriptors those manifests share must follow — equality descriptors
    * need only the NAME substitution (membership is by key; a purged
    * ghost key matches nothing), while position descriptors need their
    * ordinals remapped (dropping rows shifts every later ordinal, and
    * ordinals of purged rows leave the set entirely). Descriptors are
    * rewritten IN PLACE — their names appear in many manifests' `dvs`
    * arrays, and one in-place rewrite updates every referencing version
    * consistently (run bins get FRESH names in the same descriptor dir,
    * so nothing serves half-old state; pos run bins are not cached across
    * statements, key bins — which ARE cached per dir — never change).
    *
    * `repl`: candidate file -> its twins in row order (empty = no
    * survivors). `purged`: per pos-covered candidate file, the SORTED
    * original row indices the purge removed. `twinCum`: per such file,
    * the exclusive prefix-sum of its twins' row counts. Driver-side cost:
    * O(descriptor bytes + purged ordinals of pos-covered files).
    */
  def remapDvsForPurge(fs: FileSystem, d: Path,
      conf: org.apache.hadoop.conf.Configuration, names: Seq[String],
      repl: Map[String, Seq[String]],
      purged: Map[String, Array[Long]],
      twinCum: Map[String, Array[Long]]): Unit = {
    val dvDir = new Path(d, DvDir)
    def touches(perFile: Seq[(String, Seq[_])]): Boolean =
      perFile.exists { case (f, _) => repl.contains(f) }
    // equality descriptors: keys survive (a purged ghost key matches
    // nothing) — only the covered-file names substitute
    def substituted(files: Seq[String]): Option[Seq[String]] =
      if (files.exists(repl.contains))
        Some(files.flatMap(f => repl.getOrElse(f, Seq(f))).distinct)
      else None
    names.foreach { n =>
      val rewritten: Option[DvSidecar] = DvSidecar.read(fs, d, n) match {
        case r: DvSidecar.PosRun if touches(r.perFile) =>
          val runDir = new Path(dvDir, r.dir)
          // audit total: start from the descriptor's recorded count and
          // adjust by the covered entries' delta — untouched entries'
          // bins are never re-read
          var total = r.rows
          val newEntries = r.perFile.flatMap { case (f, bins) =>
            if (!repl.contains(f)) Seq(f -> bins)
            else {
              val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              bins.foreach(b => readRunFile(conf, new Path(runDir, b))(rs += _))
              total -= rs.iterator.map { case (a, b) => b - a + 1L }.sum
              val out = splitRunsByTwin(
                remapRuns(rs.toSeq, purged.getOrElse(f, Array.empty[Long])),
                twinCum(f))
              val twins = repl(f)
              val written = out.toSeq.sortBy(_._1).map { case (j, pairs) =>
                val (bin, cnt) = writeRunPairs(conf, runDir.toString, twins(j), pairs)
                total += cnt
                twins(j) -> Seq(bin)
              }
              bins.foreach(b => fs.delete(new Path(runDir, b), false))
              written
            }
          }
          Some(DvSidecar.PosRun(r.dir, total, newEntries))
        case ps: DvSidecar.Pos if touches(ps.perFile) =>
          Some(DvSidecar.Pos(ps.perFile.flatMap { case (f, ords) =>
            if (!repl.contains(f)) Seq(f -> ords)
            else {
              val pg = purged.getOrElse(f, Array.empty[Long])
              def rankBelow(x: Long): Int = {
                var lo = 0; var hi = pg.length
                while (lo < hi) { val m = (lo + hi) >>> 1; if (pg(m) < x) lo = m + 1 else hi = m }
                lo
              }
              val cum = twinCum(f)
              val twins = repl(f)
              ords.filter(o => java.util.Arrays.binarySearch(pg, o) < 0)
                .map(o => o - rankBelow(o))
                .groupBy { o =>
                  val k = java.util.Arrays.binarySearch(cum, o)
                  if (k >= 0) math.min(k, cum.length - 2) else math.max(0, -k - 2)
                }
                .toSeq.map { case (j, os) =>
                  require(os.forall(o => o >= cum(j) && o < cum(j + 1)),
                    s"remapped ordinal outside twin $j of $f")
                  twins(j) -> os.map(_ - cum(j)).sorted
                }
            }
          }))
        case kr: DvSidecar.KeyRun => substituted(kr.files).map(fls => kr.copy(files = fls))
        case k: DvSidecar.Keys    => substituted(k.files).map(fls => k.copy(files = fls))
        case _                    => None
      }
      rewritten.foreach(sc => GraftStagingCatalog.writeString(fs, new Path(dvDir, n), sc.json))
    }
  }

  /** MOR-SNAPSHOT CLONE TRANSPLANT (r14 — what lets `CALL clone` serve
    * DV-carrying snapshots): copy the named descriptors from `src`'s
    * sidecar dir into `dst`'s, renaming every covered-file reference
    * through `rename` (the clone's borrowed entries are ABSOLUTE paths
    * that the read path keys by BARE name, so references rename from
    * source-relative to bare). Run bins and key bins COPY — sidecar
    * bytes, never data bytes — so the clone's delete machinery is its
    * own: either side's VACUUM reclaims only its own dirs, and
    * divergence (new deltas on the clone, folds on the source) cannot
    * cross-contaminate. Returns the dst-relative descriptor names in
    * input order.
    */
  def transplantDvs(fs: FileSystem, src: Path, dst: Path,
      conf: org.apache.hadoop.conf.Configuration, names: Seq[String],
      rename: String => String): Seq[String] = {
    val srcDv = new Path(src, DvDir)
    val dstDv = new Path(dst, DvDir)
    fs.mkdirs(dstDv)
    names.map { n =>
      val token = java.util.UUID.randomUUID().toString.take(12)
      DvSidecar.read(fs, src, n) match {
        case r: DvSidecar.PosRun =>
          val srcRun = new Path(srcDv, r.dir)
          val newDir = s"dvr-$token"
          val dstRun = new Path(dstDv, newDir)
          fs.mkdirs(dstRun)
          var total = 0L
          val newEntries = r.perFile.map { case (f, bins) =>
            val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            bins.foreach(b => readRunFile(conf, new Path(srcRun, b))(rs += _))
            val (bin, cnt) = writeRunPairs(conf, dstRun.toString, rename(f),
              mergeRuns(rs.toSeq))
            total += cnt
            rename(f) -> Seq(bin)
          }
          writeSidecar(fs, dst, s"$newDir.json", DvSidecar.PosRun(newDir, total, newEntries))
        case p: DvSidecar.Pos =>
          writePosDv(fs, dst, p.perFile.map { case (f, ps) => rename(f) -> ps }.toMap)
        case kr: DvSidecar.KeyRun =>
          val srcRun = new Path(srcDv, kr.dir)
          val newDir = s"dvk-$token"
          val dstRun = new Path(dstDv, newDir)
          fs.mkdirs(dstRun)
          kr.bins.foreach { b =>
            GraftStagingCatalog.writeString(fs, new Path(dstRun, b),
              GraftStagingCatalog.readString(fs, new Path(srcRun, b)))
          }
          writeSidecar(fs, dst, s"$newDir.json",
            kr.copy(dir = newDir, files = kr.files.map(rename).distinct))
        case k: DvSidecar.Keys =>
          // keyed inline DV: plain file names, keys copy verbatim
          writeSidecar(fs, dst, s"dv-$token.json", k.copy(files = k.files.map(rename).distinct))
      }
    }
  }

  /** Maintenance-read twin of [[applyToRead]] for bin-backed keys: a
    * NON-broadcast anti-join whose delete side parses one bin per task —
    * the keys never visit the driver. Covered-file scoping rides a small
    * broadcast of the descriptor's file names (O(covered files)).
    */
  def applyKeyRunsToRead(df: DataFrame, keyCol: String,
      krs: Seq[KeyRuns]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, concat, element_at,
      endswith, input_file_name, lit, split}
    val active = krs.filter(kr => kr.files.nonEmpty && kr.spec.bins.nonEmpty)
    if (active.isEmpty) df
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val hconf = ScanConf.broadcast(spark)
      // input_file_name() is only meaningful in the SCAN's stage — tag the
      // provenance columns ONCE, before any of the (shuffling,
      // non-broadcast) anti-joins below, and reuse the materialized values
      // across every descriptor
      val tagged = df
        .withColumn("__gk_path", input_file_name())
        .withColumn("__gk_file", element_at(split(input_file_name(), "/"), -1))
      def base(f: String): String = f.substring(f.lastIndexOf('/') + 1)
      val out = active.zipWithIndex.foldLeft(tagged) { case (cur, (kr, i)) =>
        val spec = kr.spec
        val binRdd = spark.sparkContext
          .parallelize(spec.bins, math.max(spec.bins.size, 1))
        val keysDf =
          if (kr.isString)
            binRdd.flatMap(b => readKeyBin(spec.dirUri, b, isString = true,
              hconf.value.value).map(_.asInstanceOf[String])).toDF("__gdvk")
          else
            binRdd.flatMap(b => readKeyBin(spec.dirUri, b, isString = false,
              hconf.value.value).map(_.asInstanceOf[Long])).toDF("__gdvk")
        val filesDf = kr.files.toSeq.map(f => (base(f), f))
          .toDF("__gk_f", "__gk_rel")
        val cov = s"__gk_cov_$i"
        val flagged = cur.join(broadcast(filesDf),
            cur("__gk_file") === filesDf("__gk_f") &&
              endswith(cur("__gk_path"), concat(lit("/"), filesDf("__gk_rel"))),
            "left")
          .withColumn(cov, filesDf("__gk_rel").isNotNull)
          .drop("__gk_f", "__gk_rel")
        flagged.join(keysDf,
            flagged(keyCol) === keysDf("__gdvk") && col(cov), "left_anti")
          .drop(cov)
      }
      out.drop("__gk_path", "__gk_file")
    }
  }

  // ---- POSITION deletes (keyless MOR — the Iceberg (file, pos) shape) ----

  /** Write one POSITION-delete sidecar: per file, the ordinals of deleted
    * rows — row position = the row's index in an UNFILTERED sequential read
    * of the file (what `_metadata.row_index` reports and what the scan-side
    * counter reproduces). Returns the DvDir-relative name.
    */
  def writePosDv(fs: FileSystem, d: Path, perFile: Map[String, Seq[Long]]): String = {
    val name = s"dv-${java.util.UUID.randomUUID().toString.take(12)}.json"
    fs.mkdirs(new Path(d, DvDir))
    writeSidecar(fs, d, name, DvSidecar.Pos(perFile.toSeq))
  }

  /** POSITION-delete state in force — BOTH representations at once:
    *
    *  - `map`: per-file ordinal SETS materialized from small JSON sidecars
    *    (driver-side, bounded by the DELETE path's matched-row cap);
    *  - `runs` (r13 — the DISTRIBUTED middle band): per-file lists of
    *    run-encoded binary sidecar PATHS written by executors
    *    ([[writePosRunDv]]). The ordinals themselves NEVER materialize on
    *    the driver — readers parse their own file's runs in the executor
    *    ([[PosSpec.resolve]]), and maintenance reads anti-join against a
    *    DataFrame parsed from the run files in parallel.
    *
    * A file may appear in both (one selective delete + one broad one).
    */
  final case class PosDvs(map: Map[String, Set[Long]], runs: Map[String, Seq[String]]) {
    def isEmpty: Boolean = map.isEmpty && runs.isEmpty
    def nonEmpty: Boolean = !isEmpty
    def coveredFiles: Set[String] = map.keySet ++ runs.keySet
    def contains(f: String): Boolean = map.contains(f) || runs.contains(f)
    def filterFiles(p: String => Boolean): PosDvs =
      PosDvs(map.filter { case (f, _) => p(f) }, runs.filter { case (f, _) => p(f) })
    /** Per-file delete spec, comparable across versions (inline ordinals +
      * run-file identities — run files are immutable, so path equality is
      * content equality).
      */
    def stateOf(f: String): (Set[Long], Seq[String]) =
      (map.getOrElse(f, Set.empty), runs.getOrElse(f, Seq.empty))
    def specFor(f: String): PosSpec = PosSpec(map.getOrElse(f, Set.empty),
      runs.getOrElse(f, Seq.empty))
  }
  object PosDvs {
    val empty: PosDvs = PosDvs(Map.empty, Map.empty)
  }

  /** One file's position-delete spec as shipped inside an InputPartition:
    * inline ordinals plus the file's run-sidecar paths, resolved to a
    * queryable membership in the EXECUTOR that reads the file.
    */
  final case class PosSpec(inline: Set[Long], runFiles: Seq[String]) {
    def isEmpty: Boolean = inline.isEmpty && runFiles.isEmpty
    def resolve(conf: org.apache.hadoop.conf.Configuration): PosMembership =
      if (runFiles.isEmpty) new PosMembership(inline, Array.emptyLongArray,
        Array.emptyLongArray)
      else {
        val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        runFiles.foreach(p => readRunFile(conf, new Path(p))(rs += _))
        val merged = mergeRuns(rs.toSeq)
        new PosMembership(inline, merged.map(_._1).toArray, merged.map(_._2).toArray)
      }
  }

  /** Ordinal-membership over inline deletes + sorted, disjoint runs. */
  final class PosMembership(inline: Set[Long], starts: Array[Long], ends: Array[Long])
      extends Serializable {
    require(starts.length == ends.length, "run starts/ends length mismatch")
    def contains(p: Long): Boolean = {
      if (inline.contains(p)) return true
      if (starts.length == 0) return false
      var lo = 0; var hi = starts.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= p) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      ans >= 0 && p <= ends(ans)
    }
  }

  /** Binary run-sidecar format (executor-written, r13): magic "GDVR", an
    * int version, the covered file's table-relative name (writeUTF), then
    * (start, len) long pairs until EOF — the count is NOT in the header so
    * the writer can stream runs in one pass (the descriptor JSON carries
    * the audit totals instead).
    */
  private val RunMagic = 0x47445652

  /** Executor-side: write ONE run sidecar for `rel` from SORTED, DEDUPED
    * ordinals (run-encoded streaming — constant space). Returns
    * (bin name, ordinal count). Names are UUID-fresh so task retries never
    * collide; orphans stay unreferenced for vacuum.
    */
  def writeRunFile(conf: org.apache.hadoop.conf.Configuration, runDirStr: String,
      rel: String, sortedOrdinals: Iterator[Long]): (String, Long) = {
    val name = s"run-${java.util.UUID.randomUUID().toString.take(12)}.bin"
    val target = new Path(runDirStr, name)
    val fsx = target.getFileSystem(conf)
    val out = new java.io.DataOutputStream(fsx.create(target, false))
    var count = 0L
    try {
      out.writeInt(RunMagic); out.writeInt(1); out.writeUTF(rel)
      var runStart = 0L; var runLen = 0L
      sortedOrdinals.foreach { p =>
        if (runLen > 0 && p == runStart + runLen - 1) () // duplicate: skip
        else if (runLen > 0 && p == runStart + runLen) { runLen += 1; count += 1 }
        else {
          if (runLen > 0) { out.writeLong(runStart); out.writeLong(runLen) }
          runStart = p; runLen = 1; count += 1
        }
      }
      if (runLen > 0) { out.writeLong(runStart); out.writeLong(runLen) }
    } finally out.close()
    (name, count)
  }

  /** Executor-side: COMPACT one file's position deletes — inline ordinals
    * (as singleton runs) plus every existing run sidecar — into ONE fresh
    * merged bin (r13, `optimize(scope => 'dvs')`). Returns
    * (bin name, merged ordinal count).
    */
  def compactRunsTo(conf: org.apache.hadoop.conf.Configuration, runDirStr: String,
      rel: String, inline: Seq[Long], bins: Seq[String]): (String, Long) = {
    val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    bins.foreach(b => readRunFile(conf, new Path(b))(rs += _))
    inline.foreach(p => rs += ((p, p)))
    writeRunPairs(conf, runDirStr, rel, mergeRuns(rs.toSeq))
  }

  /** Driver-side: commit a run-descriptor sidecar naming the per-file bins
    * written by [[writeRunFile]]. Returns the DvDir-relative name.
    */
  def writeRunDescriptor(fs: FileSystem, d: Path, runDirName: String,
      perFile: Map[String, Seq[String]], totalRows: Long): String =
    writeSidecar(fs, d, s"$runDirName.json",
      DvSidecar.PosRun(runDirName, totalRows, perFile.toSeq))

  private def readRunFile(conf: org.apache.hadoop.conf.Configuration, p: Path)
      (emit: ((Long, Long)) => Unit): Unit = {
    val fsx = p.getFileSystem(conf)
    val len = fsx.getFileStatus(p).getLen
    val raw = fsx.open(p)
    try {
      val in = new java.io.DataInputStream(raw)
      require(in.readInt() == RunMagic, s"$p is not a graft run sidecar")
      require(in.readInt() == 1, s"$p has an unknown run-sidecar version")
      in.readUTF() // covered file name (descriptor already attributes paths)
      val remaining = len - raw.getPos
      require(remaining % 16 == 0, s"$p is truncated (odd run bytes: $remaining)")
      var i = 0L
      val n = remaining / 16
      while (i < n) {
        val s = in.readLong(); val l = in.readLong()
        emit((s, s + l - 1L))
        i += 1
      }
    } finally raw.close()
  }

  /** Write DISTRIBUTED position-delete run sidecars (r13 — the 10M–500M
    * matched-ordinal band where a driver-map sidecar is too big and a COW
    * rewrite too blunt): `matched` is the (full path `__f`, ordinal `__p`)
    * frame of the DELETE's located rows. Executors repartition by file,
    * sort by (file, ordinal), and stream run-encoded binary files — one
    * per (task, covered file) — under `_graft_dv/dvr-<token>/`; the driver
    * sees ONLY (file, sidecar-name, count) triples (O(covered files)) and
    * commits a descriptor JSON naming them. Returns (descriptor name,
    * total ordinals, run dir name). Task retries write fresh UUID-named
    * bins; orphans are unreferenced and vacuum-reclaimed.
    */
  def writePosRunDv(fs: FileSystem, d: Path,
      matched: DataFrame): (String, Long, String) = {
    import org.apache.spark.sql.functions.col
    val spark = matched.sparkSession
    import spark.implicits._
    val token = java.util.UUID.randomUUID().toString.take(12)
    val dvDir = new Path(d, DvDir)
    fs.mkdirs(dvDir)
    val runDirName = s"dvr-$token"
    val runDir = new Path(dvDir, runDirName)
    fs.mkdirs(runDir)
    val runDirStr = runDir.toString
    val prefix = d.toString + "/"
    val confBc = ScanConf.broadcast(spark)
    val written: Array[(String, String, Long)] = matched
      .select(col("__f").cast("string").as("__f"), col("__p").cast("long").as("__p"))
      .repartition(col("__f"))
      .sortWithinPartitions("__f", "__p")
      .as[(String, Long)]
      .mapPartitions { it =>
        val conf = confBc.value.value
        def rel(full: String): String = {
          val ix = full.indexOf(prefix)
          if (ix >= 0) full.substring(ix + prefix.length)
          else full.substring(full.lastIndexOf('/') + 1)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val rows = it.buffered // name must not collide with Iterator.buffered
        while (rows.hasNext) {
          val full = rows.head._1
          val ords = new Iterator[Long] {
            override def hasNext: Boolean = rows.hasNext && rows.head._1 == full
            override def next(): Long = rows.next()._2
          }
          val r = rel(full)
          val (bin, count) = writeRunFile(conf, runDirStr, r, ords)
          out += ((r, bin, count))
        }
        out.iterator
      }.collect()
    val perFile = written.groupBy(_._1).map { case (f, bins) =>
      f -> bins.map(_._2).toSeq }
    val total = written.iterator.map(_._3).sum
    val name = writeRunDescriptor(fs, d, runDirName, perFile, total)
    (name, total, runDirName)
  }

  /** Apply a POSITION-delete map to a V1 DataFrame read of the table's
    * files (the maintenance/fold read path): rows are identified by
    * `(_metadata.file_path suffix-matched to the table-relative name,
    * _metadata.row_index)` and removed with one broadcast anti-join —
    * the same shape (and the same r9 sibling-dir guard) as the equality
    * [[applyToRead]].
    */
  def applyPosToRead(df: DataFrame, dv: PosDvs): DataFrame =
    if (dv.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{broadcast, col, concat, element_at, endswith,
        lit, split}
      val spark = df.sparkSession
      import spark.implicits._
      def base(f: String): String = f.substring(f.lastIndexOf('/') + 1)
      val keep = df.columns // _metadata is a hidden pseudo-column: select it explicitly
      val tagged = df.select(col("*"), col("_metadata.file_path").as("__gdv_path"),
        col("_metadata.row_index").as("__gdv_pos"))
        .withColumn("__gdv_file", element_at(split(col("__gdv_path"), "/"), -1))
      def anti(in: DataFrame, dvDf: DataFrame, bcast: Boolean): DataFrame =
        in.join(if (bcast) broadcast(dvDf) else dvDf,
          in("__gdv_file") === dvDf("__gdv_f") &&
            endswith(in("__gdv_path"), concat(lit("/"), dvDf("__gdv_rel"))) &&
            in("__gdv_pos") === dvDf("__gdv_p"), "left_anti")
      val afterMap =
        if (dv.map.isEmpty) tagged
        else {
          val triples = dv.map.toSeq.flatMap { case (f, ps) =>
            ps.iterator.map(p => (base(f), f, p)) }
          anti(tagged, triples.toDF("__gdv_f", "__gdv_rel", "__gdv_p"), bcast = true)
        }
      val afterRuns =
        if (dv.runs.isEmpty) afterMap
        else {
          // DISTRIBUTED sidecars: the ordinals stay out of the driver —
          // executors parse the run files in parallel and the suppression
          // is a plain (non-broadcast) anti-join, the shape that holds at
          // a 500M-ordinal delete
          val refs: Seq[(String, String)] = dv.runs.toSeq
            .flatMap { case (f, bins) => bins.map(f -> _) }
          val confBc = ScanConf.broadcast(spark)
          val runDf = spark.createDataset(refs)
            .repartition(math.min(refs.size,
              math.max(1, spark.sparkContext.defaultParallelism)))
            .flatMap { case (f, bin) =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              readRunFile(confBc.value.value, new Path(bin))(buf += _)
              val b = base(f)
              buf.iterator.flatMap { case (s, e) =>
                (s to e).iterator.map(p => (b, f, p)) }
            }.toDF("__gdv_f", "__gdv_rel", "__gdv_p")
          anti(afterMap, runDf, bcast = false)
        }
      afterRuns.select(keep.map(col).toIndexedSeq: _*)
    }

  /** One position-DV'd file's splits as their own partition (splits stay
    * together, sorted by offset, so the reader's sequential row counter IS
    * the file position — valid only because position-mode scans push no
    * data filters to parquet; see ZoneMapScanBuilder.pushFilters).
    */
  final case class PosDvPartition(inner: FilePartition, spec: PosSpec)
      extends InputPartition {
    override def preferredLocations(): Array[String] = inner.preferredLocations()
  }

  /** One file's splits as their own partition for reads that ATTRIBUTE
    * rows to their `(file, ordinal)` position row id — plain
    * `_graft_file`/`_graft_pos` metadata reads and the position-delta
    * rewrite scan (r13). Carries the file's table-relative name, its
    * lineage id base (0 off-lineage), and its in-force position deletes.
    */
  final case class PosMetaPartition(fp: FilePartition, rel: String, base: Long,
      spec: PosSpec) extends InputPartition {
    override def preferredLocations(): Array[String] = fp.preferredLocations()
  }

  /** Scan-side info for a posMeta read, resolved on the driver against the
    * delegate's BUILT wide schema: `requested` is what the scan reports;
    * `physOrd` (-1 = lineage carrier absent) and `idxOrd` locate the
    * carriers; `outOrds` maps each requested field — ≥0 a delegate
    * ordinal, -1 `_graft_file`, -2 `_graft_pos`, -3 `_row_id`.
    */
  final case class PosMetaInfo(requested: StructType, physOrd: Int, idxOrd: Int,
      outOrds: Array[Int], wide: StructType,
      entries: Map[String, RowLineage.Entry] = Map.empty)

  /** Reader factory of the position-row-id read: drop rows the in-force
    * position deletes suppress (inline + distributed runs, resolved
    * in-executor), then project the requested schema — data columns off
    * the delegate row, `_graft_file` as the partition's constant,
    * `_graft_pos` as the parquet-generated true ordinal (row-group-skip
    * safe, so pushdown stays on), `_row_id` via the lineage rule.
    */
  final class PosMetaReaderFactory(inner: PartitionReaderFactory, info: PosMetaInfo,
      hconf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}

    override def supportColumnarReads(partition: InputPartition): Boolean = false

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case PosMetaPartition(fp, rel, base, spec) =>
          val r = inner.createReader(fp)
          val deleted = spec.resolve(hconf.value.value)
          val active = !spec.isEmpty
          val relU = org.apache.spark.unsafe.types.UTF8String.fromString(rel)
          val idx = info.idxOrd
          new PartitionReader[InternalRow] {
            private lazy val proj = UnsafeProjection.create(info.requested)
            private val buf = new GenericInternalRow(info.outOrds.length)
            private var cur: InternalRow = _
            override def next(): Boolean = {
              while (r.next()) {
                val row = r.get()
                if (!(active && deleted.contains(row.getLong(idx)))) {
                  cur = row; return true
                }
              }
              false
            }
            override def get(): InternalRow = {
              var i = 0
              while (i < info.outOrds.length) {
                val v: Any = info.outOrds(i) match {
                  case -1 => relU
                  case -2 => cur.getLong(idx)
                  case -3 =>
                    if (info.physOrd >= 0 && !cur.isNullAt(info.physOrd))
                      cur.getLong(info.physOrd)
                    else base + cur.getLong(idx)
                  case ord =>
                    if (cur.isNullAt(ord)) null
                    else cur.get(ord, info.wide(ord).dataType)
                }
                buf.update(i, v)
                i += 1
              }
              proj(buf)
            }
            override def close(): Unit = r.close()
          }
        case other => inner.createReader(other)
      }
  }

  /** Repack pruned partitions one-file-per-partition for the position-
    * row-id read: every file's splits stay together (offset-sorted), each
    * carrying its relative name, lineage base, and in-force deletes.
    */
  def repackPosMeta(parts: Array[InputPartition], dv: PosDvs,
      entries: Map[String, RowLineage.Entry],
      statKey: org.apache.hadoop.fs.Path => String): Array[InputPartition] = {
    val byFile = scala.collection.mutable.LinkedHashMap.empty[String,
      scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile]]
    parts.foreach {
      case fp: FilePartition =>
        fp.files.foreach { pf =>
          byFile.getOrElseUpdate(statKey(pf.toPath),
            scala.collection.mutable.ArrayBuffer.empty) += pf
        }
      case other =>
        throw new IllegalStateException(
          s"position-row-id read over a non-file partition: $other")
    }
    byFile.iterator.zipWithIndex.map { case ((rel, pfs), i) =>
      PosMetaPartition(FilePartition(i, pfs.sortBy(_.start).toArray), rel,
        entries.get(rel).map(_.base).getOrElse(0L),
        dv.specFor(rel)): InputPartition
    }.toArray
  }

  /** Spark's generated row-index column under its TEMPORARY name — a read
    * schema containing this field makes every parquet reader (vectorized or
    * record-level, V1 or DSv2) emit the row's TRUE file ordinal in it,
    * row-group skipping included; it is the column `_metadata.row_index`
    * itself materializes through.
    */
  val RowIdxField: StructField = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // NULLABLE: the column does not exist in the data files (the readers
    // GENERATE it), and the parquet readers reject a missing non-nullable
    // column before the row-index special case gets a look — generation is
    // keyed on the name alone (ParquetRowIndexUtil.isRowIndexColumn)
    ParquetFileFormat.ROW_INDEX_FIELD.copy(
      name = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, nullable = true)
  }

  /** Position-delete scan info for the ROW-INDEX read path (the plain-scan
    * mode that KEEPS parquet predicate pushdown): the delegate's read schema
    * was widened with Spark's `_tmp_metadata_row_index` generated column —
    * the parquet readers populate it with TRUE file ordinals, row-group
    * skipping included (the same machinery `_metadata.row_index` rides), so
    * pushed predicates can skip row groups without desyncing positions.
    * Readers drop rows whose (file, ordinal) is deleted and project the
    * generated column back off; `idxOrdinal` is resolved from the BUILT
    * scan's schema (never assumed trailing — FileScanBuilder reorders to
    * table-schema order).
    */
  final case class PosIdxInfo(
      idxOrdinal: Int,
      outputSchema: StructType,
      projectOrdinals: Array[Int])

  /** Reader factory for the row-index position-delete path: partitions of
    * DV'd files ([[PosDvPartition]]) filter rows by the generated ordinal
    * column; every partition projects the generated column off. All
    * row-based (the mixed-partition rule).
    */
  final class PosIdxReaderFactory(inner: PartitionReaderFactory, info: PosIdxInfo,
      tableDir: String,
      hconf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

    override def supportColumnarReads(partition: InputPartition): Boolean = false

    private def projected(r: PartitionReader[InternalRow]): PartitionReader[InternalRow] = {
      val cols = info.projectOrdinals.zip(info.outputSchema.fields).map { case (ord, f) =>
        (ord, f.dataType, f.nullable)
      }
      new PartitionReader[InternalRow] {
        private lazy val proj = UnsafeProjection.create(cols.toIndexedSeq.map {
          case (i, dt, n) => BoundReference(i, dt, n)
        })
        override def next(): Boolean = r.next()
        override def get(): InternalRow = proj(r.get())
        override def close(): Unit = r.close()
      }
    }

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case PosDvPartition(fp, spec) =>
          val base = inner.createReader(fp)
          val deleted = spec.resolve(hconf.value.value)
          val ord = info.idxOrdinal
          projected(new PartitionReader[InternalRow] {
            private var current: InternalRow = _
            override def next(): Boolean = {
              while (base.next()) {
                val row = base.get()
                graft.sources.catalog.ZoneMapScan.bumpPosRows(tableDir)
                if (!deleted.contains(row.getLong(ord))) { current = row; return true }
              }
              false
            }
            override def get(): InternalRow = current
            override def close(): Unit = base.close()
          })
        case other => projected(inner.createReader(other))
      }
  }

  /** Repack pruned partitions for POSITION-delete application — the
    * position twin of [[repack]].
    */
  def repackPos(parts: Array[InputPartition], dv: PosDvs,
      statKey: org.apache.hadoop.fs.Path => String): Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    val affected = scala.collection.mutable.LinkedHashMap
      .empty[String, (PosSpec, scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile])]
    var idx = 0
    parts.foreach {
      case fp: FilePartition =>
        val (hit, clean) = fp.files.partition(pf => dv.contains(statKey(pf.toPath)))
        if (clean.nonEmpty) { out += FilePartition(idx, clean); idx += 1 }
        hit.foreach { pf =>
          val k = statKey(pf.toPath)
          affected.getOrElseUpdate(k,
            (dv.specFor(k), scala.collection.mutable.ArrayBuffer.empty))._2 += pf
        }
      case other => out += other
    }
    affected.valuesIterator.foreach { case (spec, pfs) =>
      out += PosDvPartition(FilePartition(idx, pfs.sortBy(_.start).toArray), spec)
      idx += 1
    }
    out.result()
  }

  /** Reader factory applying POSITION deletes: a sequential row counter per
    * partition (= per file, by [[repackPos]]'s packing) skips the deleted
    * ordinals. Everything reads row-based while position DVs are active —
    * the same mixed-partition rule as the equality factory — and
    * non-position partitions pass through to the delegate.
    */
  final class PosDvReaderFactory(inner: PartitionReaderFactory,
      hconf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    override def supportColumnarReads(partition: InputPartition): Boolean = false
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case PosDvPartition(fp, spec) =>
          val base = inner.createReader(fp)
          val deleted = spec.resolve(hconf.value.value)
          new PartitionReader[InternalRow] {
            private var pos = -1L
            private var current: InternalRow = _
            override def next(): Boolean = {
              while (base.next()) {
                pos += 1
                if (!deleted.contains(pos)) { current = base.get(); return true }
              }
              false
            }
            override def get(): InternalRow = current
            override def close(): Unit = base.close()
          }
        case other => inner.createReader(other)
      }
  }

  /** Apply a DV map to a V1 DataFrame read of the table's files — the
    * MAINTENANCE read path (OPTIMIZE fold, rename rewrite, overwrite's
    * delete phase), where rows must not resurrect. File attribution rides
    * `input_file_name()`: the broadcast-hash join key is the BASENAME (one
    * canonical component on both sides), and an `endswith` guard on
    * `"/" + <table-relative path>` scopes the match to the exact laid-out
    * file — a basename alone is ambiguous under partition layout, where
    * one OPTIMIZE partitionBy job writes the SAME part number + job UUID
    * into every partition dir, and a DV scoped to one dir must not
    * suppress its keys in sibling-dir files (r9 advisory). The delete is
    * one broadcast anti-join on (file, key) — the shape that survives
    * 100 TB (the DV set is bounded by churn since the last OPTIMIZE, never
    * by table size).
    */
  def applyToRead(df: DataFrame, keyCol: String, dv: Map[String, Set[Any]]): DataFrame =
    if (dv.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{broadcast, concat, element_at, endswith,
        input_file_name, lit, split}
      val spark = df.sparkSession
      import spark.implicits._
      def base(f: String): String = f.substring(f.lastIndexOf('/') + 1)
      val triples = dv.toSeq.flatMap { case (f, ks) => ks.iterator.map(k => (base(f), f, k)) }
      val dvDf =
        if (triples.headOption.exists(_._3.isInstanceOf[String]))
          triples.map { case (b, f, k) => (b, f, k.asInstanceOf[String]) }
            .toDF("__gdv_f", "__gdv_rel", "__gdv_k")
        else triples.map { case (b, f, k) => (b, f, k.asInstanceOf[Long]) }
          .toDF("__gdv_f", "__gdv_rel", "__gdv_k")
      val tagged = df.withColumn("__gdv_path", input_file_name())
        .withColumn("__gdv_file", element_at(split(input_file_name(), "/"), -1))
      tagged.join(broadcast(dvDf),
          tagged("__gdv_file") === dvDf("__gdv_f") &&
            endswith(tagged("__gdv_path"), concat(lit("/"), dvDf("__gdv_rel"))) &&
            tagged(keyCol) === dvDf("__gdv_k"), "left_anti")
        .drop("__gdv_file", "__gdv_path")
    }

  /** DV info threaded from the scan builder into the pruned scan: the
    * per-file deleted keys, the key column's position and type in the
    * DELEGATE's (possibly widened, table-ordered) read schema, the schema
    * this scan REPORTS to Spark, and — when the key column had to be added
    * for filtering — the delegate-row ordinals of the reported columns
    * (readers project the key back off).
    */
  final case class DvScanInfo(
      fileKeys: Map[String, Set[Any]],
      keyOrdinal: Int,
      keyType: DataType,
      outputSchema: StructType,
      projectOrdinals: Option[Array[Int]],
      // r14 distributed equality-delete bins: per covered file, the
      // descriptor specs whose keys suppress its rows (resolved in the
      // executor — see KeySpec/binKeys)
      keyBins: Map[String, Seq[KeySpec]] = Map.empty)

  /** One DV-affected file's splits, planned as their own partition so the
    * reader knows every row's file. Carries that file's deleted keys.
    */
  final case class DvPartition(inner: FilePartition, deleted: Set[Any],
      binSpecs: Seq[KeySpec] = Nil)
      extends InputPartition {
    override def preferredLocations(): Array[String] = inner.preferredLocations()
  }

  /** Repack pruned partitions for DV application: files with a DV entry
    * move into one [[DvPartition]] per FILE (splits of the same file stay
    * together); unaffected files keep the delegate's packing.
    */
  def repack(parts: Array[InputPartition], dv: Map[String, Set[Any]],
      statKey: org.apache.hadoop.fs.Path => String,
      bins: Map[String, Seq[KeySpec]] = Map.empty): Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    val affected = scala.collection.mutable.LinkedHashMap
      .empty[String, (Set[Any], Seq[KeySpec], scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile])]
    var idx = 0
    parts.foreach {
      case fp: FilePartition =>
        val (hit, clean) = fp.files.partition { pf =>
          val k = statKey(pf.toPath); dv.contains(k) || bins.contains(k)
        }
        if (clean.nonEmpty) { out += FilePartition(idx, clean); idx += 1 }
        hit.foreach { pf =>
          val k = statKey(pf.toPath)
          affected.getOrElseUpdate(k,
            (dv.getOrElse(k, Set.empty), bins.getOrElse(k, Nil),
              scala.collection.mutable.ArrayBuffer.empty))._3 += pf
        }
      case other => out += other
    }
    affected.valuesIterator.foreach { case (keys, specs, pfs) =>
      out += DvPartition(FilePartition(idx, pfs.toArray), keys, specs)
      idx += 1
    }
    out.result()
  }

  /** Reader factory applying DVs (and the widened-schema projection) around
    * the delegate's row-based readers. Columnar reads are kept for
    * unaffected partitions when no projection is needed; everything else
    * goes row-based (the Iceberg MOR trade — paid only until OPTIMIZE
    * folds the DVs away).
    */
  final class DvReaderFactory(inner: PartitionReaderFactory, info: DvScanInfo,
      hconf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    private val project: Option[Array[(Int, DataType, Boolean)]] =
      info.projectOrdinals.map(_.zip(info.outputSchema.fields).map { case (ord, f) =>
        (ord, f.dataType, f.nullable)
      })

    // BatchScanExec refuses MIXED row/columnar partitions, so a DV-active
    // scan reads everything row-based (the Iceberg MOR trade, paid only
    // until OPTIMIZE folds the DVs and the plain columnar path returns)
    override def supportColumnarReads(partition: InputPartition): Boolean = false

    private def projected(r: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
      project.fold(r) { cols =>
        import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
        new PartitionReader[InternalRow] {
          private lazy val proj = UnsafeProjection.create(cols.toIndexedSeq.map {
            case (i, dt, n) => BoundReference(i, dt, n)
          })
          override def next(): Boolean = r.next()
          override def get(): InternalRow = proj(r.get())
          override def close(): Unit = r.close()
        }
      }

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      partition match {
        case DvPartition(fp, deleted, binSpecs) =>
          val base = inner.createReader(fp)
          // bin-backed keys resolve HERE, in the executor (cached per JVM;
          // integral keys as a sorted primitive array, not a boxed set)
          val membs: Seq[KeyMembership] =
            binSpecs.map(sp => binMembership(sp, hconf.value.value))
          val ord = info.keyOrdinal
          val isInt = info.keyType == IntegerType
          val isLong = info.keyType == LongType
          val filtered = new PartitionReader[InternalRow] {
            private var current: InternalRow = _
            override def next(): Boolean = {
              while (base.next()) {
                val row = base.get()
                val keep =
                  if (row.isNullAt(ord)) true // NULL keys are never DV'd
                  else {
                    val k: Any =
                      if (isInt) row.getInt(ord).toLong
                      else if (isLong) row.getLong(ord)
                      else row.getUTF8String(ord).toString
                    !deleted.contains(k) && !membs.exists(_.contains(k))
                  }
                if (keep) { current = row; return true }
              }
              false
            }
            override def get(): InternalRow = current
            override def close(): Unit = base.close()
          }
          projected(filtered)
        case other => projected(inner.createReader(other))
      }
  }
}
