package graft.sources.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** CROSS-TABLE COMMIT GROUPS — atomic multi-table publication for the
  * serving stacks this engine itself builds (bm25_postings + bm25_doclen;
  * pq_codes + pq_codebook + ivf_index), where a reader that sees table A's
  * new version with table B's old one computes garbage (postings with no
  * doc lengths, codes against a stale codebook).
  *
  * Single-table commits are already atomic (create-exclusive manifests,
  * GraftStagingCatalog.scala:1707), but nothing bound MEMBER tables
  * together: a crash between the postings INSERT and the doclen INSERT
  * left a torn combination that only an in-process `computeIfAbsent` guard
  * papered over. The group manifest closes that hole with the same
  * two-phase shape Iceberg proposes for multi-table transactions and the
  * reference's own commit discipline models at file granularity (writes
  * become visible only at a metadata flip — `CephRgwFileSystem.create`'s
  * exclusive-create contract, CephRgwFileSystem.java:42ff):
  *
  *   phase 1 — members commit NORMALLY (plain INSERT/CTAS versions in each
  *     table's own log; cheap, restartable, invisible to group readers),
  *   phase 2 — ONE create-exclusive group manifest
  *     (`<ns>/_graft_groups/<group>/g-<seq>.json`) binds the exact
  *     (table → version) vector; the rename that lands it is the only
  *     publication point.
  *
  * Readers of a member table resolve their snapshot THROUGH the group: the
  * table's record names its group ([[TableMeta.group]]), and
  * `loadTable` pins the read at the latest valid group manifest's version
  * for that table instead of the table head. A writer killed anywhere
  * between member commits leaves the group manifest unwritten — every
  * reader keeps resolving the PREVIOUS vector, so no torn combination is
  * ever observable, and the retry simply re-runs phase 1 (idempotent:
  * re-INSERTed versions beyond the pin are unread) and publishes once.
  *
  * Durability discipline mirrors the manifest checkpoints
  * (GraftStagingCatalog.writeCheckpoint): bytes land under a temp name and
  * RENAME into the sequenced slot (readers see absent or complete, never
  * torn — a trailing `"eof":1` sentinel rejects the torn-rename pathologies
  * object stores permit), and the rename's create-exclusive semantics make
  * concurrent publishers a detected conflict, not a lost update. VACUUM
  * exempts every version a retained group manifest pins (the tag rule),
  * so a group pin never dangles.
  *
  * At 100 TB the group manifest is O(members) bytes and the publish is one
  * metadata rename — no data moves, no cross-table lock is held while
  * member INSERTs run (hours-long index builds stay unserialized; only the
  * pointer flip is exclusive).
  */
object CommitGroups {

  private val GroupsDir = "_graft_groups"
  /** Retained group manifests per group: readers only use the latest, the
    * tail exists so a publish racing a vacuum never strands a reader
    * mid-resolution; versions pinned by ANY retained manifest are
    * vacuum-exempt, so the bound also caps the exemption set.
    */
  private val Retain = 8

  private def groupDir(nsDir: Path, group: String) =
    new Path(new Path(nsDir, GroupsDir), group)

  private def seqOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("g-") && n.endsWith(".json"))
      try Some(n.substring(2, n.length - 5).toLong)
      catch { case _: NumberFormatException => None }
    else None
  }

  /** Parse a group manifest; None unless the integrity sentinel survives
    * (torn bytes read as ABSENT — the previous sequence keeps serving).
    */
  private def parse(fs: FileSystem, p: Path): Option[Map[String, Long]] =
    try {
      val txt = GraftStagingCatalog.readString(fs, p)
      if (!txt.contains("\"eof\":1")) None
      else Some(
        """"([^"]+)":(\d+)""".r.findAllMatchIn(
            """"members":\{([^}]*)\}""".r.findFirstMatchIn(txt)
              .map(_.group(1)).getOrElse(""))
          .map(m => m.group(1) -> m.group(2).toLong).toMap)
    } catch { case _: java.io.IOException => None }

  /** Latest VALID (sequence, member-vector) of a group; sentinel-less or
    * unreadable manifests are skipped, not trusted.
    */
  private def latest(fs: FileSystem, gd: Path): Option[(Long, Map[String, Long])] = {
    val seqs =
      (try fs.listStatus(gd).toIndexedSeq
       catch { case _: java.io.IOException => IndexedSeq.empty })
        .flatMap(s => seqOf(s.getPath).map(_ -> s.getPath))
        .sortBy(-_._1)
    seqs.iterator.flatMap { case (s, p) => parse(fs, p).map(s -> _) }
      .nextOption()
  }

  private def headVersion(fs: FileSystem, tdir: Path): Long =
    GraftStagingCatalog.headManifest(fs, tdir).map(_._1).getOrElse(0L)

  private def memberDir(spark: SparkSession, catalog: String, ns: String,
      table: String): (FileSystem, Path) =
    StagingMaintenance.tableDir(spark, catalog, ns, table)

  /** CREATE a group over `tables`, binding their CURRENT head versions as
    * sequence 1 and naming the group in each member's table record. Re-creating
    * an existing group resets it (the ensure-guards' DROP-and-rebuild
    * lifecycle) — old manifests are discarded with the old tables.
    */
  def create(spark: SparkSession, catalog: String, ns: String, group: String,
      tables: Seq[String]): Unit = GraftStagingCatalog.synchronized {
    require(tables.nonEmpty, "a commit group needs at least one member table")
    require(group.matches("[\\w.-]+"), s"invalid group name '$group'")
    val dirs = tables.map(t => t -> memberDir(spark, catalog, ns, t))
    val nsDir = dirs.head._2._2.getParent
    val fs = dirs.head._2._1
    val gd = groupDir(nsDir, group)
    fs.delete(gd, true)
    fs.mkdirs(gd)
    publishManifest(fs, gd, 1L,
      dirs.map { case (t, (tfs, td)) => t -> headVersion(tfs, td) }.toMap)
    // records AFTER the binding manifest: a reader that sees the group
    // name always finds a group to resolve through
    dirs.foreach { case (_, (tfs, td)) =>
      TableMeta.update(tfs, td)(_.copy(group = Some(group)))
    }
  }

  /** PUBLISH the members' current head versions as the group's next
    * sequence — the phase-2 pointer flip. Members are the latest
    * manifest's member set (the group's charter); a concurrent publisher
    * loses the rename race and surfaces as a conflict, never a lost or
    * merged vector.
    */
  def publish(spark: SparkSession, catalog: String, ns: String,
      group: String): Long = GraftStagingCatalog.synchronized {
    val (fs, nsDir, gd) = resolveGroupDir(spark, catalog, ns, group)
    val (seq, members) = latest(fs, gd).getOrElse(
      throw new IllegalArgumentException(
        s"commit group '$group' in $catalog.$ns does not exist — CALL group_create first"))
    val bound = members.keys.toSeq.sorted.map { t =>
      // memberDir throws if the table vanished — a group with a dropped
      // member cannot publish (recreate the group over the new charter)
      val (tfs, td) = memberDir(spark, catalog, ns, t)
      t -> headVersion(tfs, td)
    }.toMap
    publishManifest(fs, gd, seq + 1L, bound)
    // trim beyond the retention window (vacuum exempts what remains)
    (try fs.listStatus(gd).toIndexedSeq
     catch { case _: java.io.IOException => IndexedSeq.empty })
      .flatMap(s => seqOf(s.getPath).map(_ -> s.getPath))
      .filter(_._1 <= seq + 1L - Retain)
      .foreach { case (_, p) => fs.delete(p, false) }
    seq + 1L
  }

  private def resolveGroupDir(spark: SparkSession, catalog: String, ns: String,
      group: String): (FileSystem, Path, Path) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = spark.conf.getOption(s"spark.sql.catalog.$catalog.root").getOrElse(
      throw new IllegalArgumentException(s"catalog $catalog has no root"))
    val nsDir = new Path(root, ns)
    val fs = nsDir.getFileSystem(conf)
    (fs, nsDir, groupDir(nsDir, group))
  }

  /** Land `g-<seq>.json` atomically: temp write + rename (absent or
    * complete), create-exclusive by rename semantics — an existing
    * destination means a racer published this sequence, a conflict the
    * caller must see (its validated member heads may be stale).
    */
  private def publishManifest(fs: FileSystem, gd: Path, seq: Long,
      members: Map[String, Long]): Unit = {
    val body = members.toSeq.sorted
      .map { case (t, v) => "\"" + t + "\":" + v }.mkString(",")
    val txt = s"""{"seq":$seq,"members":{$body},"eof":1}"""
    val tmp = new Path(gd, s".g-$seq.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    GraftStagingCatalog.writeString(fs, tmp, txt)
    val dest = new Path(gd, s"g-$seq.json")
    if (GraftStagingCatalog.isFile(fs, dest) || !fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"commit group sequence $seq at $gd was published concurrently — " +
          "re-validate member versions and retry")
    }
  }

  /** The version `loadTable` must pin for a member of `group` (the
    * table record's [[TableMeta.group]]), resolved through the group's
    * latest valid manifest. None (read the table head) when the table is
    * in no group, its group vanished, or the group does not list it —
    * group resolution is an override, never a gate that can brick a table.
    */
  def pinnedVersion(fs: FileSystem, tableDir: Path, group: Option[String]): Option[Long] =
    group.flatMap(g => latest(fs, groupDir(tableDir.getParent, g)))
      .flatMap(_._2.get(tableDir.getName))

  /** Every version of `tableDir` pinned by ANY retained manifest of its
    * group — the vacuum exemption set (bounded by [[Retain]]).
    */
  def pins(fs: FileSystem, tableDir: Path, group: Option[String]): Set[Long] =
    group.fold(Set.empty[Long]) { g =>
      val gd = groupDir(tableDir.getParent, g)
      (try fs.listStatus(gd).toIndexedSeq
       catch { case _: java.io.IOException => IndexedSeq.empty })
        .filter(s => seqOf(s.getPath).isDefined)
        .flatMap(s => parse(fs, s.getPath))
        .flatMap(_.get(tableDir.getName))
        .toSet
    }
}
