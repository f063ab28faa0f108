package graft.sources.catalog

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, coalesce, col, expr, lit, not, typedLit}

/** COMPLIANCE PURGE ACROSS HISTORY (r14) — `CALL purge(ns, t, where)`:
  * physically removes every row matching the predicate from EVERY
  * still-readable version of the table — main log, branch logs, tagged
  * versions, time travel — while keeping the version history itself
  * intact. This is the right-to-be-forgotten operation ordinary DELETE
  * cannot be: a DELETE commits a new version and the purged rows stay
  * readable through `VERSION AS OF` (and physically on disk) until
  * retention lapses, which compliance clocks do not wait for. Purge is
  * the complement of the retention machinery: VACUUM forgets versions,
  * purge forgets ROWS.
  *
  * Mechanics — O(matching files across history), never O(table):
  *  1. candidate files = the union of every readable manifest's entries,
  *     zone-map- and partition-path-pruned by the predicate when it is
  *     V1-translatable ([[ZoneMapPrunedScan.canMatch]] — the same test
  *     DELETE's three-way split uses); a file provably unable to hold a
  *     matching row is never read, rewritten, or even opened.
  *  2. survivors of the candidates are rewritten in ONE distributed pass:
  *     rows carry their `_metadata` (file name, row index), regroup by
  *     source file, and write one twin per input file with the original
  *     row order preserved (so per-file sortedness — the ordering-report
  *     invariant — survives). A partition-laid-out file's twin lands in
  *     the SAME `k=v/` directory (path-based pruning keeps working).
  *  3. every manifest (main + branch logs) substitutes twin for original
  *     (files with no survivors drop out), the checkpoint is rebuilt at
  *     the head with the exactly-once batch ledger carried over,
  *     materialized change-feed caches are invalidated (they lazily
  *     re-derive from the purged files), stale zone-map/bloom entries are
  *     trimmed, and only then are the originals deleted.
  *
  * DV-carrying history is SERVED, not refused (r14): the descriptors the
  * readable manifests share follow the rewrite — equality descriptors
  * substitute twin names (membership is by key; a purged ghost key
  * matches nothing), position descriptors remap their ordinals against
  * the per-file purged row indices (purged ordinals leave the set, later
  * ordinals close ranks) with run bins rewritten under fresh names — all
  * IN PLACE, so every referencing version updates consistently without
  * touching one manifest's `dvs` array
  * ([[DeletionVectors.remapDvsForPurge]]). The one extra driver-side cost
  * is the purged ordinals of POSITION-covered candidate files (exact
  * remap input), bounded by the purge's own selectivity on those files.
  * `rows_purged` counts physical matching rows on the live faces' files —
  * including rows a head DV currently suppresses: those bytes are
  * precisely what compliance wants gone, and the purge removes them.
  *
  * ROW-LINEAGE tables are served too (r14): per-file id bases are
  * positional, so instead of shifting every later identity the purge
  * MATERIALIZES each survivor's resolved id into the twin's physical
  * column (exactly the OPTIMIZE-fold rule) and swaps the twins into each
  * manifest's `rowIds` vector as materialized entries — identities
  * survive the row drop verbatim, on every readable version.
  *
  * Boundaries (refused loudly): tables
  * with live shallow clones (the
  * borrowed bytes would keep the purged rows alive elsewhere — purge the
  * clones first), and clones still borrowing foreign files (purge the
  * source instead). Readers racing a purge are the documented multi-writer
  * caveat: manifests are rewritten under the single-driver catalog
  * monitor.
  */
object StagingPurge {

  /** Returns (files_rewritten, files_dropped, rows_purged, versions_touched). */
  def purge(spark: SparkSession, catalog: String, ns: String, table: String,
      where: String): (Int, Int, Long, Int) = {
    import GraftStagingCatalog._
    import StagingMaintenance.{readStatsFor, CdfDir}
    val (fs, d) = StagingMaintenance.tableDir(spark, catalog, ns, table)
    val meta = TableMeta.read(fs, d)

    // ---- predicate: validated against the declared schema, V1-translated
    // when possible (file pruning), always applied row-exactly
    val parsed = spark.sessionState.sqlParser.parseExpression(where)
    val declaredNames = meta.schema
      .map(_.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
      .getOrElse(Set.empty)
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        require(declaredNames.isEmpty ||
            declaredNames(a.name.toLowerCase(java.util.Locale.ROOT)),
          s"purge predicate references unknown column '${a.name}' " +
            s"(declared: ${declaredNames.toSeq.sorted.mkString(", ")})")
    }
    val v1 = ZoneMapScanBuilder.toV1(parsed)

    // ---- refusals (see class doc)
    val lineage = meta.rowLineage
    val clones = TableClone.liveClones(fs, d)
    require(clones.isEmpty,
      s"cannot purge $catalog.$ns.$table: live shallow clones borrow its " +
        s"files (${clones.mkString(", ")}) — purge or drop the clones first")
    val branchNames = readBranches(fs, d).keys.toSeq.sorted
    val manifests0 = allManifests(fs, d).map(Manifest.read(fs, _))
    // every descriptor any readable version references (r14: purge serves
    // DV-carrying history by remapping these in place after the rewrite)
    val allDvNames = manifests0.flatMap(_.dvs).distinct
    val union0 = manifests0.flatMap(_.files).distinct
    val lineageEntries = manifests0.foldLeft(Map.empty[String, RowLineage.Entry])(_ ++ _.rowIds)
    require(union0.forall(f => !TableClone.isForeign(f)),
      s"cannot purge $catalog.$ns.$table: it borrows files from a clone " +
        "source — purge the source table, or OPTIMIZE to materialize first")
    if (union0.isEmpty) return (0, 0, 0L, 0)

    // ---- candidate selection: zone maps + partition paths prune files
    // the predicate provably cannot touch (conservative keep otherwise)
    val (stats0, nulls0) = readStatsFor(fs, d)
    val specs0 = meta.partSpecsAll
    val cand = v1 match {
      case Some(f) => union0.filter(fl =>
        ZoneMapPrunedScan.canMatch(stats0, nulls0, fl, f) &&
          ZoneMapPrunedScan.partCanMatch(specs0, fl, f))
      case None => union0
    }
    if (cand.isEmpty) return (0, 0, 0L, 0)
    val candSet0 = cand.toSet

    val headBefore = headManifest(fs, d).map(_._1).getOrElse(0L)
    def branchHeads(): Map[String, Long] =
      readBranches(fs, d).keys.map(b =>
        b -> branchHead(fs, d, b).map(_._1).getOrElse(0L)).toMap
    val branchesBefore = branchHeads()

    // ---- one distributed pass: read candidates with provenance metadata,
    // split matched from survivors, regroup survivors per source file in
    // original row order
    val reader = spark.read
    if (lineage) meta.schema.foreach(sch => reader.schema(RowLineage.readSchema(sch)))
    else meta.schema.foreach(reader.schema)
    val raw0 = reader.parquet(cand.map(f => new Path(d, f).toString): _*)
    // key each row back to its source file by the path's LAST TWO segments
    // ("<partition-dir>/<name>", or "<table-dir>/<name>" for root files):
    // bare names alone collide — a partition-laid-out OPTIMIZE reuses the
    // same part name across its `k=v/` directories
    val segs = org.apache.spark.sql.functions.split(
      col("_metadata.file_path"), "/")
    val raw = raw0.select(col("*"),
      org.apache.spark.sql.functions.concat_ws("/",
        org.apache.spark.sql.functions.element_at(segs, -2),
        org.apache.spark.sql.functions.element_at(segs, -1)).as("__graft_pf"),
      col("_metadata.row_index").as("__graft_pr"))
    // DELETE-WHERE truth table: a NULL predicate keeps the row
    val hit = coalesce(expr(where), lit(false))
    val tableDirName = d.getName
    def dirKey(f: String): String =
      if (f.contains("/")) f else s"$tableDirName/$f"
    val pidOf: Map[String, Int] = cand.zipWithIndex.map { case (f, i) =>
      dirKey(f) -> i }.toMap
    require(pidOf.size == cand.size,
      s"purge: candidate dir/name keys are not unique (${cand.size} files, " +
        s"${pidOf.size} distinct keys)")
    // rows_purged = matching rows in the LIVE faces (main head + every
    // branch head — the compliance-facing number); a logical row whose
    // history spans several rewrites lives in several candidate files, and
    // counting the union would double-report it. Any matched row anywhere
    // still triggers the rewrite (the survivors pass covers every
    // candidate). A row live on BOTH main and a branch face still counts
    // once per face it is served from.
    val headKeys: Set[String] =
      (readHead(fs, d).iterator ++ branchNames.iterator.flatMap(b => readHead(fs, d, Some(b))))
        .flatMap(_._2.files.filter(candSet0).map(dirKey))
        .toSet
    val headKeyCol = typedLit(headKeys.toSeq)
    val purgedRows = raw.filter(hit &&
      org.apache.spark.sql.functions.array_contains(headKeyCol, col("__graft_pf")))
      .count()
    val anyMatched = purgedRows > 0L || raw.filter(hit).limit(1).count() > 0L
    if (!anyMatched) return (0, 0, 0L, 0)
    // POSITION-covered candidates need exact remap input: the sorted
    // original row indices the purge removes, per file. Driver-side
    // materialization bounded by the purge's matched rows IN THOSE FILES
    // (equality descriptors need no ordinals — keys survive a row drop).
    val posAll = DeletionVectors.Deletes.load(fs, d, meta.mor, allDvNames).pos
    val posCovered: Set[String] = cand.filter(posAll.contains).toSet
    val purgedByFile: Map[String, Array[Long]] =
      if (posCovered.isEmpty) Map.empty
      else {
        val wanted = posCovered.map(dirKey).toSeq
        val inv = posCovered.iterator.map(f => dirKey(f) -> f).toMap
        raw.filter(hit && col("__graft_pf").isin(wanted: _*))
          .select(col("__graft_pf"), col("__graft_pr")).collect()
          .groupBy(_.getString(0))
          .map { case (k, rs) => inv(k) -> rs.map(_.getLong(1)).sorted }
      }
    val survivors0 = raw.filter(not(hit))
    // ROW LINEAGE (r14): survivors land their RESOLVED id in the physical
    // column (the OPTIMIZE-fold rule) — dropping rows shifts positions,
    // so positional (virtual) bases cannot carry; materialized ids can
    val survivors =
      if (!lineage) survivors0
      else {
        // ROW LINEAGE: materialize each survivor's resolved id into the
        // physical column. Resolution keys by the SAME dir/name key the
        // twin pass uses (__graft_pf) — immune to the bare-name reuse a
        // partition-laid-out history carries, which the resolveIds join
        // (bare names) could mis-attribute.
        import spark.implicits._
        val phys = RowLineage.PhysField.name
        val entDf = lineageEntries.toSeq
          .map { case (f, e) => (dirKey(f), e.base) }
          .toDF("__gl_pf", "__gl_base")
        survivors0.join(broadcast(entDf),
            survivors0("__graft_pf") === entDf("__gl_pf"), "left")
          .withColumn(phys,
            coalesce(col(phys), col("__gl_base") + col("__graft_pr")))
          .drop("__gl_pf", "__gl_base")
      }
    // ---- place twins beside their originals (same partition directory:
    // the path-based pruner must keep judging them by the same spec), then
    // swap names through every manifest under the catalog monitor. A
    // multi-part twin keeps its row order (the DV ordinal remap riding
    // twinCum depends on it): parts publish in part-name order.
    val repl = scala.collection.mutable.Map.empty[String, Seq[String]]
    StagedRewrite(fs, d, "purge") { (token, tmp) =>
      survivors
        .withColumn("__graft_pid",
          org.apache.spark.sql.functions.element_at(typedLit(pidOf), col("__graft_pf")))
        .repartition(math.max(cand.size, 1), col("__graft_pid"))
        .sortWithinPartitions(col("__graft_pid"), col("__graft_pr"))
        .drop("__graft_pf", "__graft_pr")
        .write.partitionBy("__graft_pid").mode("overwrite").parquet(tmp.toString)
      StagedRewrite.partitions(fs, tmp, "__graft_pid").foreach { case (v, pd) =>
        val pid = v.toInt
        val old = cand(pid)
        val slash = old.lastIndexOf('/')
        val dirPart = if (slash > 0) old.substring(0, slash + 1) else ""
        repl(old) = StagedRewrite.publish(fs, d, pd)(
          (_, j) => s"${dirPart}purge-$token-$pid-$j.parquet")
      }
    }
    // a twin of a sort-order-UNPROVEN file inherits its unprovenness: it
    // preserves the original (possibly unsorted) row order under a fresh
    // name the provenance marker doesn't know — re-mark it, or the
    // ordering report would falsely re-admit (the exact r13-advice bug)
    if (meta.sortOrder.nonEmpty) markTwinsUnsorted(fs, d, repl)
    val candSet = candSet0
    val touchedManifests = GraftStagingCatalog.synchronized {
      val headNow = headManifest(fs, d).map(_._1).getOrElse(0L)
      if (headNow != headBefore || branchHeads() != branchesBefore)
        throw new java.util.ConcurrentModificationException(
          s"purge of $catalog.$ns.$table planned against version $headBefore " +
            s"(branches $branchesBefore) but the table moved — a concurrent " +
            "commit landed (possibly on a branch); retry")
      // the exactly-once ledger must survive the checkpoint rebuild below
      val batchIds = committedBatchIds(fs, d)
      // descriptors follow the rewrite (r14): remapped in place BEFORE the
      // manifests substitute, so no manifest ever pairs twin files with
      // original-name suppression state
      if (allDvNames.nonEmpty) {
        val conf = spark.sessionState.newHadoopConf()
        val replAll: Map[String, Seq[String]] =
          cand.map(f => f -> repl.getOrElse(f, Seq.empty).toSeq).toMap
        // twin row counts in ONE executor-parallel footer pass
        val twinRows: Map[String, Long] = rowCountsOf(spark, d,
          posCovered.iterator.flatMap(replAll(_)).toSeq)
        val twinCum: Map[String, Array[Long]] = posCovered.iterator.map { f =>
          f -> replAll(f).map(twinRows).scanLeft(0L)(_ + _).toArray
        }.toMap
        DeletionVectors.remapDvsForPurge(fs, d, conf, allDvNames, replAll,
          purgedByFile, twinCum)
      }
      var touched = 0
      allManifests(fs, d).foreach { mf =>
        val m = Manifest.read(fs, mf)
        if (m.files.exists(candSet)) {
          val newFiles = m.files.flatMap(f =>
            if (candSet(f)) repl.getOrElse(f, Seq.empty) else Seq(f))
          // the rowIds vector follows: purged originals drop out, twins
          // enter MATERIALIZED (their ids live in the physical column; the
          // carried base is inert but kept for provenance)
          val newEnts = m.rowIds.flatMap { case (f, e) =>
            if (!candSet(f)) Seq(f -> e)
            else repl.getOrElse(f, Seq.empty)
              .map(t => t -> RowLineage.Entry(e.base, mat = true))
          }
          Manifest.replace(fs, mf, m.copy(files = newFiles, rowIds = newEnts))
          touched += 1
        }
      }
      // checkpoints snapshot the head FILE LIST — rebuild at the head with
      // the substituted names and the carried ledger (a deleted-only
      // checkpoint would risk the ledger if old batch manifests were
      // already vacuumed)
      if (readCkptPointer(fs, d).isDefined) {
        val vd = new Path(d, VersionsDir)
        fs.delete(new Path(vd, CkptPointer), false)
        dropStaleCheckpoints(fs, d)
        readHead(fs, d).foreach { case (hv, hm) =>
          writeCheckpoint(fs, d, Checkpoint(hv, batchIds,
            versionManifests(fs, d).map { case (v, mf) => v -> Manifest.read(fs, mf).ts },
            hm.dvs, hm.files))
        }
      }
      // materialized change-feed caches hold pre-purge rows; they lazily
      // re-derive from the substituted manifests + twin files
      (try fs.listStatus(new Path(d, CdfDir)).toIndexedSeq
       catch { case _: FileNotFoundException => Seq.empty })
        .foreach { st => fs.delete(st.getPath, true); () }
      touched
    }
    // originals are unreferenced by every manifest now — delete, and trim
    // their sidecar entries (vacuum's hygiene, applied to the purged set)
    cand.foreach(f => fs.delete(new Path(d, f), false))
    val (stats, nulls) = readStatsFor(fs, d)
    val live = stats.filter { case ((f, _), _) => !candSet(f) }
    if (live.size != stats.size)
      StagingMaintenance.writeStats(fs, d, live, nulls.filter { case ((f, _), _) => !candSet(f) })
    val blooms = StagingMaintenance.readBloomsFor(fs, d)
    val liveB = blooms.filter { case ((f, _), _) => !candSet(f) }
    if (liveB.size != blooms.size) StagingMaintenance.writeBlooms(fs, d, liveB)
    try StagingMaintenance.autoAnalyze(spark, fs, d, meta)
    catch { case e: Exception =>
      System.err.println(s"[graft] auto-analyze after purge on $d failed: $e")
    }
    val dropped = cand.count(f => repl.getOrElse(f, Seq.empty).isEmpty)
    (cand.size - dropped, dropped, purgedRows, touchedManifests)
  }
}
