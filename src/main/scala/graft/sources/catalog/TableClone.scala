package graft.sources.catalog

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** ZERO-COPY SHALLOW CLONE (r14) — `CALL clone(ns, src, dst)`: a new
  * catalog table whose first version REFERENCES the source snapshot's data
  * files in place (absolute manifest entries), copying metadata sidecars
  * but not one data byte. The lakehouse dev/test/backfill staple (Delta
  * SHALLOW CLONE, Iceberg snapshot-ref tables): at 100 TB a clone commits
  * in milliseconds and O(metadata), where any copy is hours and doubles
  * storage. Divergence is ordinary commits — the clone's own writes land
  * in its OWN directory (relative entries), so a manifest freely mixes
  * borrowed and owned files; `new Path(dir, entry)` resolves both (an
  * absolute child discards the parent), which every read path already
  * goes through.
  *
  * What the reference grounds: clones are pure FileSystem-metadata
  * constructions — the data files are never opened (the reference's own
  * rename-as-copy contract, `CephRgwFileSystem.java:310-313`, is exactly
  * what shallow cloning avoids paying).
  *
  * VACUUM SAFETY, both directions (the hazard Delta documents and leaves
  * open — vacuuming a cloned source breaks its clones):
  *  - clone-side: dead-file discovery LISTS the clone's directory, so
  *    borrowed (absolute) entries can never be classified dead; they age
  *    out of manifests by rewrite, never by clone-side delete.
  *  - source-side: the clone registers itself under the source's
  *    `_graft_clones/` at creation; the source's vacuum plan reads every
  *    live registrant's readable manifests and EXEMPTS the still-borrowed
  *    files from reclamation ([[cloneReferenced]]). Dropped clones
  *    deregister (and a registration whose clone directory vanished is
  *    garbage-collected in passing).
  * DROP TABLE on a source with live clones REFUSES (the clones would be
  * bricked); drop the clones first.
  *
  * MERGE-ON-READ sources and DV-carrying snapshots clone too (late r14):
  * the snapshot's descriptors TRANSPLANT into the clone's own sidecar dir
  * ([[DeletionVectors.transplantDvs]]) with covered-file references
  * renamed to the bare names the borrowed-entry read path keys by —
  * suppressed rows stay invisible through the clone, divergence on either
  * side runs its own delete machinery, and either side's vacuum reclaims
  * only its own sidecars. Refused only when two covered files share a
  * bare name (partition-layout reuse — fold the source first).
  *
  * Scope boundaries (refused with clear errors, not silently wrong):
  * row-lineage tables (per-file id bases do not transfer). Cloning a still-borrowing
  * clone IS legal: the new clone registers at every upstream table its
  * entries reference (and [[sync]] registers at upstreams that appear
  * later), so the whole chain stays vacuum-safe end to end.
  *
  * Declared sort order transfers WITH provenance: if the source's files
  * are all write-path-proven sorted, the clone's report stands; if the
  * source carries an `#unsorted@` marker, the affected borrowed files stay
  * unproven in the clone too ([[TableMeta.sortUnproven]]).
  */
object TableClone {

  private[catalog] val ClonesDir = "_graft_clones"
  private[catalog] val CloneSrcSidecar = "_graft_clonesrc.txt"

  /** A manifest entry borrowed from another table's directory. */
  private[catalog] def isForeign(entry: String): Boolean =
    entry.startsWith("/") || entry.contains(":/")

  /** Stable fingerprint of a table's declared schema (empty = none). */
  private[catalog] def schemaFingerprint(meta: TableMeta): String =
    meta.schema.map(s => java.lang.Integer.toHexString(s.json.hashCode)).getOrElse("-")

  /** The table directory an absolute manifest entry lives in: its parent,
    * or — for partition-laid-out entries (`…/k=v/file`) — the grandparent;
    * identified by the version log it carries.
    */
  private[catalog] def tableDirOf(fs: FileSystem, entry: String): Path = {
    val parent = new Path(entry).getParent
    def hasLog(p: Path): Boolean =
      p != null && (try fs.getFileStatus(
        new Path(p, GraftStagingCatalog.VersionsDir)).isDirectory
      catch { case _: FileNotFoundException => false })
    if (hasLog(parent)) parent
    else if (hasLog(parent.getParent)) parent.getParent
    else throw new IllegalStateException(
      s"cannot locate the owning table of borrowed entry $entry " +
        "(no version log at its parent or grandparent)")
  }

  /** Registers `cloneDir` at `u`'s clone registry; returns the name. */
  private[catalog] def register(fs: FileSystem, u: Path, cloneDir: Path): String = {
    val regDir = new Path(u, ClonesDir)
    fs.mkdirs(regDir)
    val reg = s"clone-${System.nanoTime()}"
    GraftStagingCatalog.writeString(fs, new Path(regDir, reg), cloneDir.toString)
    reg
  }

  /** Creates `dstNs.dstTable` as a shallow clone of the resolved source
    * snapshot. Returns (sourceVersion, fileCount, cloneVersion).
    */
  def clone(spark: SparkSession, catalog: String, ns: String, table: String,
      dstNs: String, dstTable: String, version: Option[Long] = None,
      tag: Option[String] = None, branch: Option[String] = None)
      : (Long, Int, Long) = {
    import GraftStagingCatalog._
    require(Seq(version, tag, branch).count(_.isDefined) <= 1,
      "clone takes at most one of version / tag / branch")
    val (fs, src) = StagingMaintenance.tableDir(spark, catalog, ns, table)
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dst = fs.makeQualified(new Path(new Path(root, dstNs), dstTable))
    require(dst != src, s"clone target equals the source: $src")
    require(!(try fs.exists(dst) catch { case _: FileNotFoundException => false }),
      s"clone target already exists: $dst")
    // resolve the source snapshot manifest
    val resolvedTag = tag.map(t => StagingMaintenance.resolveTag(
      spark, catalog, ns, table, t))
    val (srcV, srcM) = branch match {
      case Some(b) =>
        readHead(fs, src, branch).getOrElse(throw new IllegalArgumentException(
          s"$catalog.$ns.$table has no branch '$b'"))
      case None =>
        version.orElse(resolvedTag) match {
          case Some(v) => (v, readVersion(fs, src, v).getOrElse(
            throw new IllegalArgumentException(
              s"$catalog.$ns.$table has no version $v")))
          case None => readHead(fs, src).getOrElse(
            throw new IllegalArgumentException(
              s"$catalog.$ns.$table has no committed version to clone"))
        }
    }
    // scope boundaries — refuse, never silently mis-clone
    val srcMeta = TableMeta.read(fs, src)
    require(!srcMeta.rowLineage,
      s"cannot shallow-clone $catalog.$ns.$table: row-lineage tables' " +
        "per-file id bases do not transfer (materialize with CTAS instead)")
    val names = srcM.files
    // MERGE-ON-READ snapshot (late r14): the in-force descriptors
    // transplant into the clone's own sidecar dir, references renamed to
    // the bare names the borrowed-entry read path keys by — unambiguous
    // only when no two covered files share a bare name
    val srcDvNames = srcM.dvs
    if (srcDvNames.nonEmpty) {
      val collide = names.groupBy(f => f.substring(f.lastIndexOf('/') + 1))
        .filter(_._2.size > 1)
      require(collide.isEmpty,
        s"cannot shallow-clone $catalog.$ns.$table at version $srcV: " +
          s"snapshot files collide on bare names " +
          s"(${collide.keys.take(3).mkString(", ")}…) so the transplanted " +
          "deletion vectors would be ambiguous — OPTIMIZE the source first")
    }
    // TRANSITIVE CHAINS (r14): cloning a still-borrowing clone is legal —
    // the new clone registers at EVERY upstream table its entries
    // reference (registration is per-TABLE, so files it borrows from an
    // upstream LATER, via sync, are covered automatically: the upstream's
    // vacuum walks every registrant's manifests)
    val absolute = names.map(f =>
      if (isForeign(f)) f else new Path(src, f).toString)
    val upstreams: Seq[Path] = (src +:
      names.filter(isForeign).map(f => tableDirOf(fs, f))).distinct
    fs.mkdirs(dst)
    // the table record transfers (data bytes do not): schema, partitioning,
    // the maintenance knobs, CHECK and the write-admission declarations.
    // Not the source's commit-group membership, and not its checkpoint
    // cadence (the clone's log checkpoints at the default interval); the
    // declared sort order transfers with provenance (see class doc) —
    // the clone's marker names the borrowed unproven files by absolute path
    val dstMeta = TableMeta.update(fs, dst)(_ => srcMeta.copy(
      group = None, checkpointEvery = TableMeta.DefaultCkptInterval,
      stats = false, // set below when stats transfer
      sortUnproven =
        if (srcMeta.sortOrder.isEmpty) None
        else srcMeta.sortUnproven.flatMap { case (_, u) =>
          val borrowedUnproven = names.filter(u).map(f => new Path(src, f).toString)
          if (borrowedUnproven.isEmpty) None else Some((1L, borrowedUnproven.toSet))
        }))
    // zone-map stats / null counts / bloom sidecars transfer keyed by
    // BARE file name — exactly the key the scan's statKey falls back to
    // for a file outside the table directory. A partition-laid-out source
    // can reuse one part name across its `k=v/` dirs; such ambiguous
    // names transfer NO stats (conservative: unpruned, never mispruned).
    val byBare = names.groupBy(f => f.substring(f.lastIndexOf('/') + 1))
    val bare: Map[String, String] =
      names.filter(f => byBare(f.substring(f.lastIndexOf('/') + 1)).size == 1)
        .map(f => f -> f.substring(f.lastIndexOf('/') + 1)).toMap
    val (srcStats, srcNulls) = StagingMaintenance.readStatsFor(fs, src)
    val stats = srcStats
      .collect { case ((f, c), st) if bare.contains(f) => (bare(f), c) -> st }
    if (stats.nonEmpty)
      StagingMaintenance.writeStats(fs, dst, stats,
        srcNulls.collect { case ((f, c), n) if bare.contains(f) => (bare(f), c) -> n })
    val blooms = StagingMaintenance.readBloomsFor(fs, src)
      .collect { case ((f, c), b) if bare.contains(f) => (bare(f), c) -> b }
    if (blooms.nonEmpty) StagingMaintenance.writeBlooms(fs, dst, blooms)
    // REGISTER in the source before the clone's first manifest exists: a
    // source vacuum racing this clone must already see the registration
    // when the clone becomes readable (the reverse order has a window
    // where the clone reads files a vacuum just reclaimed)
    val regs = upstreams.map { u => u -> register(fs, u, dst) }
    // lines 1-4: direct source dir, its registration, the source version
    // this clone has absorbed ([[sync]]'s watermark), and the source
    // schema fingerprint at that watermark (sync refuses on drift —
    // borrowed files written under an evolved source schema would
    // silently mis-read through the clone's copied schema). Lines 5+:
    // additional upstream registrations ("dir<TAB>reg") for transitive
    // chains — deregistered together at DROP.
    // a BRANCH-sourced clone's version number belongs to the BRANCH log —
    // meaningless against main's numbering, so the watermark records the
    // branch and sync refuses (re-clone after publish)
    val watermark = branch.map(b => s"branch:$b:$srcV").getOrElse(srcV.toString)
    writeString(fs, new Path(dst, CloneSrcSidecar),
      (s"$src\n${regs.head._2}\n$watermark\n${schemaFingerprint(srcMeta)}" +:
        regs.tail.map { case (u, r) => s"$u\t$r" }).mkString("\n"))
    val dvs2 =
      if (srcDvNames.isEmpty) Seq.empty[String]
      else DeletionVectors.transplantDvs(fs, src, dst,
        SparkSession.active.sessionState.newHadoopConf(), srcDvNames,
        f => f.substring(f.lastIndexOf('/') + 1))
    val v = writeExplicitManifest(fs, dst, dstMeta, absolute, kind = "clone",
      expectedBase = Some(0L), dvs = dvs2)
    (srcV, names.size, v)
  }

  /** INCREMENTAL CLONE REFRESH — `CALL sync(ns, clone)`: absorbs the
    * source versions committed since the clone's watermark by BORROWING
    * their newly-added files (absolute entries, exactly like the original
    * clone — zero copy again), then advances the watermark. The
    * clone-then-keep-fresh loop at 100 TB: nightly source appends reach
    * the clone as one manifest write each, O(new files), while the
    * clone's own divergent writes ride along untouched.
    *
    * Append-only by contract: a source version that REMOVED files
    * (overwrite, delete, optimize) cannot be absorbed by borrowing —
    * borrowed entries the clone already serves stay valid, but absorbing
    * a rewrite would double its rows. With no `keys` declared such a
    * version REFUSES (re-clone, or pass keys). With `keys` (r14 — "sync
    * through rewrites"): the whole pending range applies as the SOURCE's
    * row-level change feed ([[StagingMaintenance.rowLevelChangesAt]] — net
    * deletes/inserts at changed-slice cost) MERGEd into the clone by those
    * key columns: upserts for net inserts, deletes for keys with no
    * replacement. Key identity is the follow semantic — a clone-divergent
    * row sharing a source key is overwritten by source state, divergent
    * rows under other keys ride along; source keys must be unique per
    * version (MERGE's cardinality check enforces it). The CDF path needs
    * only the WATERMARK and HEAD manifests, so a vacuumed intermediate
    * version that wrecks the append walk still syncs with keys.
    *
    * A vacuumed gap (the watermark's manifest no longer readable)
    * refuses: the delta cannot be reconstructed. A version whose
    * delete-machinery state moved since the watermark (a delta commit or
    * fold) is rewrite-equivalent — new suppressions cover already-borrowed
    * files — so it follows with keys or refuses without; versions whose
    * descriptors are unchanged absorb by borrowing as usual (the clone's
    * transplanted copies keep covering the old files). Crash-safe: the
    * manifest (or MERGE)
    * commits before the watermark advances; re-absorbing files dedups
    * and re-applying the same net changes is idempotent (same upserts,
    * same ghost deletes).
    *
    * Returns (from_version, to_version, absorbed, clone_version) —
    * absorbed = files borrowed (append path) or net rows applied (CDF
    * path); clone_version = -1 when already current (no commit).
    */
  def sync(spark: SparkSession, catalog: String, ns: String, table: String,
      keys: Seq[String] = Seq.empty): (Long, Long, Long, Long) = {
    import GraftStagingCatalog._
    val (fs, d) = StagingMaintenance.tableDir(spark, catalog, ns, table)
    val scp = new Path(d, CloneSrcSidecar)
    require(isFile(fs, scp),
      s"$catalog.$ns.$table is not a shallow clone — sync refreshes clones " +
        "from their source")
    val lines = readString(fs, scp).trim.split('\n')
    require(lines.length >= 3,
      s"$catalog.$ns.$table: clone sidecar carries no sync watermark")
    val src = new Path(lines(0))
    require(!lines(2).trim.startsWith("branch:"),
      s"$catalog.$ns.$table was cloned from a BRANCH face (${lines(2).trim}) " +
        "— branch version numbers cannot anchor a main-log sync; re-clone " +
        "after the branch publishes")
    val lastV = lines(2).trim.toLong
    val (headV, _) = headManifest(fs, src).getOrElse(
      throw new IllegalStateException(
        s"clone source $src has no readable head — was it dropped?"))
    // the source record is read AFTER its head: a source commit marks its
    // delta files unsorted before it publishes them, so this marker covers
    // every file the head can hold
    val srcMeta = TableMeta.read(fs, src)
    // schema-drift guard: borrowed files written under an evolved source
    // schema would read wrongly through the clone's copied schema
    if (lines.length >= 4)
      require(schemaFingerprint(srcMeta) == lines(3).trim,
        s"sync: clone source $src changed its schema since the clone — " +
          "the borrowed files would mis-read through the clone's copied " +
          "schema; re-clone")
    if (headV <= lastV) return (lastV, lastV, 0, -1L)
    require(!srcMeta.rowLineage,
      s"clone source $src enabled row lineage after the clone — re-clone")
    def stateAt(v: Long): (Seq[String], Set[String]) = {
      val m = readVersion(fs, src, v).getOrElse(
        throw new IllegalStateException(
          s"sync: source version $v was vacuumed past the clone's " +
            s"watermark $lastV — the file delta cannot be reconstructed; re-clone"))
      (m.files, m.dvs.toSet)
    }
    val fp = if (lines.length >= 4) lines(3).trim
             else schemaFingerprint(srcMeta)
    // watermark updates REPLACE line 3 only — lines 5+ carry the
    // transitive upstream registrations and must survive every rewrite
    def writeWatermark(): Unit = {
      val cur = readString(fs, scp).trim.split('\n')
      writeString(fs, scp,
        (Seq(cur(0), cur(1), headV.toString, fp) ++ cur.drop(4)).mkString("\n"))
    }
    val (files0, baseDvs) = stateAt(lastV)
    var prev = files0.toSet
    val added = scala.collection.mutable.LinkedHashSet.empty[String]
    var rewriteAt = -1L
    var wv = lastV + 1
    while (wv <= headV && rewriteAt < 0) {
      // a vacuumed INTERMEDIATE version wrecks only the append walk — the
      // CDF path diffs the endpoints, so with keys it routes there instead
      val curOpt =
        if (wv == headV) Some(stateAt(wv))
        else try Some(stateAt(wv))
          catch { case _: IllegalStateException if keys.nonEmpty => None }
      curOpt match {
        // a version whose DELETE-MACHINERY state moved (a delta commit or
        // fold since the watermark) also cannot be absorbed by borrowing:
        // new suppressions cover already-borrowed files — the CDF path
        // reads each side under its own descriptors, so it follows fine
        case Some((cur0, dvs)) if (prev -- cur0.toSet).isEmpty && dvs == baseDvs =>
          cur0.filterNot(prev).foreach { f => added += f; () }
          prev = cur0.toSet
          wv += 1
        case _ => rewriteAt = wv
      }
    }
    if (rewriteAt >= 0) {
      require(keys.nonEmpty,
        s"sync: source version $rewriteAt removed files or changed its " +
          "delete-machinery state (rewrite, row-level op, or fold) — " +
          "append-only refresh cannot absorb it; pass keys => 'k1[,k2…]' " +
          "to follow through the row-level change feed, or re-clone")
      return cdfSync(spark, fs, d, src, catalog, ns, table, lastV, headV,
        keys, () => writeWatermark())
    }
    if (added.isEmpty) {
      writeWatermark()
      return (lastV, headV, 0L, -1L)
    }
    val absolute = added.toSeq.map(f =>
      if (isForeign(f)) f else new Path(src, f).toString)
    val head = readHead(fs, d)
    val curFiles = head.fold(Seq.empty[String])(_._2.files)
    val base = head.fold(0L)(_._1)
    // transitive chains: files the SOURCE itself borrowed arrive as
    // foreign entries pointing at ITS upstream — register there too (once)
    // so that upstream's vacuum keeps walking this clone's manifests
    val knownUpstreams: Set[String] =
      Set(lines(0)) ++ lines.drop(4).flatMap(_.split('\t').headOption)
    val newUpstreams = added.toSeq.filter(isForeign)
      .map(f => tableDirOf(fs, f)).distinct
      .filterNot(u => knownUpstreams(u.toString))
    if (newUpstreams.nonEmpty) {
      val extra = newUpstreams.map(u => s"$u\t${register(fs, u, d)}")
      writeString(fs, scp,
        (GraftStagingCatalog.readString(fs, scp).trim +: extra).mkString("\n"))
    }
    // borrowed files the SOURCE knows are sort-order-unproven (its own
    // provenance marker) stay unproven through the clone's report too
    val srcUnproven = srcMeta.sortUnproven.map(_._2).getOrElse(Set.empty[String])
    markUnsorted(fs, d, added.toSeq.filter(srcUnproven)
      .map(f => new Path(src, f).toString))
    val v = writeExplicitManifest(fs, d, TableMeta.read(fs, d), (curFiles ++ absolute).distinct,
      kind = "sync", expectedBase = Some(base))
    writeWatermark()
    (lastV, headV, absolute.size.toLong, v)
  }

  /** CDF-DRIVEN SYNC (r14 — the "sync through rewrites" path): apply the
    * source's NET row-level changes between the watermark and its head to
    * the clone as two keyed MERGEs — upserts for net inserts, deletes for
    * keys with no replacement. Cost is the changed slices on the source
    * side plus ordinary keyed DML on the clone (rewritten borrowed files
    * materialize locally as twins; untouched borrowed entries stay
    * zero-copy). Crash-safe: the watermark advances only after both
    * MERGEs commit, and re-applying the same net changes is idempotent.
    */
  private def cdfSync(spark: SparkSession, fs: FileSystem, d: Path, src: Path,
      catalog: String, ns: String, table: String, lastV: Long, headV: Long,
      keys: Seq[String], writeWatermark: () => Unit): (Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val declared = TableMeta.read(fs, d).schema
    keys.foreach(k => require(
      declared.forall(_.fieldNames.exists(_.equalsIgnoreCase(k))),
      s"sync keys: unknown column '$k' (declared: " +
        s"${declared.map(_.fieldNames.mkString(", ")).getOrElse("?")})"))
    val token = java.util.UUID.randomUUID().toString.take(8)
    val net = StagingMaintenance.rowLevelChangesAt(spark, fs, src, lastV, headV)
      .persist()
    val insView = s"__graft_sync_ins_$token"
    val delView = s"__graft_sync_del_$token"
    try {
      val ins = net.filter(col("_change") === "insert").drop("_change")
      val del = net.filter(col("_change") === "delete").drop("_change")
      // a key that reappears among the inserts is an UPDATE (its delete
      // leg cancels); only keys with no replacement row actually delete
      val delKeys = del.select(keys.map(col): _*).distinct()
        .join(ins.select(keys.map(col): _*).distinct(), keys, "left_anti")
      val insN = ins.count()
      val delN = delKeys.count()
      val ident = s"$catalog.`$ns`.`$table`"
      val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
      if (insN > 0L) {
        ins.createOrReplaceTempView(insView)
        spark.sql(
          s"""MERGE INTO $ident t USING $insView s ON $on
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      if (delN > 0L) {
        delKeys.createOrReplaceTempView(delView)
        spark.sql(
          s"""MERGE INTO $ident t USING $delView s ON $on
             |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      writeWatermark()
      val v =
        if (insN + delN == 0L) -1L
        else GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L)
      (lastV, headV, insN + delN, v)
    } finally {
      net.unpersist()
      spark.catalog.dropTempView(insView)
      spark.catalog.dropTempView(delView)
      ()
    }
  }

  /** Data files of `d` still referenced by a live registered clone's
    * readable manifests (main + branch logs), as source-relative names —
    * the source vacuum's exemption set. Registrations whose clone
    * directory vanished are garbage-collected in passing.
    */
  private[catalog] def cloneReferenced(fs: FileSystem, d: Path): Set[String] = {
    val regDir = new Path(d, ClonesDir)
    val regs =
      try fs.listStatus(regDir).toIndexedSeq
      catch { case _: FileNotFoundException => IndexedSeq.empty }
    val prefix = d.toString + "/"
    regs.iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("clone-"))
      .flatMap { st =>
        val cloneDir = new Path(
          GraftStagingCatalog.readString(fs, st.getPath).trim)
        val live =
          try fs.getFileStatus(cloneDir).isDirectory
          catch { case _: FileNotFoundException => false }
        if (!live) { fs.delete(st.getPath, false); Iterator.empty }
        else {
          GraftStagingCatalog.allManifests(fs, cloneDir).iterator
            .flatMap(Manifest.read(fs, _).files)
            .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
        }
      }.toSet
  }

  /** Live clone directories registered on `d` (empty for non-sources). */
  private[catalog] def liveClones(fs: FileSystem, d: Path): Seq[String] = {
    val regDir = new Path(d, ClonesDir)
    (try fs.listStatus(regDir).toIndexedSeq
     catch { case _: FileNotFoundException => IndexedSeq.empty })
      .filter(st => st.isFile && st.getPath.getName.startsWith("clone-"))
      .map(st => GraftStagingCatalog.readString(fs, st.getPath).trim)
      .filter(dir =>
        try fs.getFileStatus(new Path(dir)).isDirectory
        catch { case _: FileNotFoundException => false })
  }

  /** DROP TABLE hook: refuses while live clones borrow this table's files
    * (they would be bricked); deregisters this table from its own source
    * when it is itself a clone.
    */
  private[catalog] def onDrop(fs: FileSystem, d: Path): Unit = {
    val clones = liveClones(fs, d)
    if (clones.nonEmpty)
      throw new IllegalStateException(
        s"cannot drop $d: shallow clones still reference its files " +
          s"(${clones.mkString(", ")}) — drop the clones first")
    val scp = new Path(d, CloneSrcSidecar)
    if (GraftStagingCatalog.isFile(fs, scp)) {
      val lines = GraftStagingCatalog.readString(fs, scp).trim.split('\n')
      val pairs =
        (if (lines.length >= 2) Seq((lines(0), lines(1))) else Nil) ++
          lines.drop(4).toSeq.flatMap(_.split('\t') match {
            case Array(u, r) => Some((u, r))
            case _           => None
          })
      pairs.foreach { case (u, r) =>
        try { fs.delete(new Path(new Path(u, ClonesDir), r), false); () }
        catch { case _: FileNotFoundException => () }
      }
    }
  }
}
