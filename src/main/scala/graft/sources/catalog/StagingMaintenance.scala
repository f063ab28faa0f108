package graft.sources.catalog

import java.io.FileNotFoundException
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates,
  SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning,
  UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.{FileScan, FileScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StructType, TimestampType}

import GraftStagingCatalog._

/** Per-file zone-map statistic for one column: an orderable [min,max] range
  * harvested from parquet footers. Three orderable kinds cover the corpus's
  * pruning keys — integral (incl. DATE as epoch days), TIMESTAMP (normalized
  * to MICROS regardless of the file's physical unit — event-time is the
  * hottest real-world pruning key), floating, and UTF-8 string. `NoneZ`
  * records "footer had no usable stats" so incremental ANALYZE knows the
  * file was visited; the pruner keeps such files conservatively.
  */
private[catalog] sealed trait ZStat
private[catalog] final case class LongZ(min: Long, max: Long) extends ZStat
private[catalog] final case class DoubleZ(min: Double, max: Double) extends ZStat
private[catalog] final case class StringZ(min: String, max: String) extends ZStat
private[catalog] case object NoneZ extends ZStat

/** Table-maintenance operations for [[GraftStagingCatalog]] tables — the
  * catalog-face answer to the object store's two operational hazards, the
  * same ones the streaming side's SegmentedIndex compaction addresses:
  *
  *  - '''optimize''': every INSERT commit lands one part-file set; a table
  *    fed by many small commits accretes many small files (the classic
  *    object-store pile-up — the reference's deployment target). OPTIMIZE
  *    rewrites the CURRENT file set into `targetFiles` compacted files and
  *    commits them as a NEW version; the originals stay on disk so every
  *    earlier `VERSION AS OF` still reads its exact file set.
  *  - '''vacuum''': bounded version retention. Drops all but the last
  *    `retainLast` manifests and deletes data files no retained version
  *    references — reclaiming the space OPTIMIZE deliberately left behind.
  *
  * Both are driver-side metadata+rewrite operations (like a lakehouse
  * OPTIMIZE/VACUUM pair), deliberately outside the SQL surface: they change
  * layout, never content. All storage access goes through the Hadoop
  * `FileSystem` API (the contract the reference implements,
  * `CephRgwFileSystem.java:42`); rewrite commits carry the base version they
  * scanned and abort on a concurrent commit instead of losing it.
  */
object StagingMaintenance {

  private[catalog] def tableDir(spark: SparkSession, catalog: String, ns: String,
      table: String): (FileSystem, Path) = {
    val root = spark.conf.getOption(s"spark.sql.catalog.$catalog.root")
      .getOrElse(throw new IllegalArgumentException(
        s"spark.sql.catalog.$catalog.root is not set"))
    val raw = new Path(new Path(root, ns), table)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val d = fs.makeQualified(raw)
    val ok = try fs.getFileStatus(d).isDirectory catch { case _: FileNotFoundException => false }
    if (!ok) throw new IllegalArgumentException(s"no staging table at $d")
    (fs, d)
  }

  /** DV-ONLY COMPACTION (r13 — `CALL optimize(scope => 'dvs')`): fold the
    * active position-delete sidecars of a keyless-MOR table into ONE
    * descriptor with one merged run bin per covered file, touching NO
    * data files. Many small delta statements (position-delta UPDATEs,
    * selective DELETEs) accrete one descriptor each; reads stay correct
    * (sorted-run union) but pay per-sidecar parse and membership overhead
    * — this folds N descriptors' worth of inline ordinals + run files
    * into one, O(sidecar bytes), executor-parallel (one task per covered
    * file; the ordinals never visit the driver beyond what the inline
    * JSON sidecars already materialized). Between full OPTIMIZEs this is
    * the cheap way to keep a high-churn keyless table's read overhead
    * flat. Returns (sidecars before, sidecars after, new version);
    * (n, n, -1) = nothing to fold.
    */
  def compactDvs(spark: SparkSession, catalog: String, ns: String,
      table: String): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.col
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val latest = GraftStagingCatalog.headManifest(fs, d).getOrElse(
      throw new IllegalArgumentException(
        s"$catalog.$ns.$table has no committed version"))
    val (base, mf) = latest
    val dvNames = GraftStagingCatalog.manifestDvs(fs, mf)
    if (dvNames.size < 2) return (dvNames.size, dvNames.size, -1L)
    require(DeletionVectors.morPos(fs, d),
      "optimize scope='dvs' folds position-delete sidecars (keyless " +
        "merge-on-read); keyed equality DVs fold with a full OPTIMIZE")
    val pos = DeletionVectors.loadPosDvs(fs, d, dvNames)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val runDirName = s"dvr-$token"
    val runDir = new Path(new Path(d, DeletionVectors.DvDir), runDirName)
    fs.mkdirs(runDir)
    val runDirStr = runDir.toString
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val work: Seq[(String, Seq[Long], Seq[String])] = pos.coveredFiles.toSeq.sorted
      .map(f => (f, pos.map.getOrElse(f, Set.empty).toSeq,
        pos.runs.getOrElse(f, Seq.empty)))
    import spark.implicits._
    val written = spark.createDataset(work)
      .repartition(math.min(work.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .map { case (rel, inline, bins) =>
        val (bin, count) = DeletionVectors.compactRunsTo(
          confBc.value.value, runDirStr, rel, inline, bins)
        (rel, bin, count)
      }.collect()
    val desc = DeletionVectors.writeRunDescriptor(fs, d, runDirName,
      written.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).toSeq },
      written.iterator.map(_._3).sum)
    // same data files, one descriptor: carried files keep their lineage
    // bases verbatim (nothing fresh, nothing materialized)
    val v = GraftStagingCatalog.writeExplicitManifest(fs, d,
      manifestFiles(fs, mf), kind = "optimize", expectedBase = Some(base),
      dvs = Seq(desc))
    (dvNames.size, 1, v)
  }

  /** SCOPED DELTA FOLD (r14 — `CALL optimize(scope => 'deltas')`): rewrite
    * ONLY the files the active delete machinery covers (position DVs —
    * inline and run sidecars — and keyed equality deletes — inline key
    * sets and distributed key bins), applying the suppressions; every
    * uncovered file carries into the new version BY NAME, byte-identical.
    * After the commit the head is delta-free (empty dv set), exactly like
    * a full OPTIMIZE — but the rewrite cost is O(covered bytes), never
    * O(table): a selective MERGE's debt folds without repacking the 99%
    * of a 100 TB table it never touched. This is also the machinery the
    * broad-statement auto-fold rides ('graft.delta.auto-fold-fraction'):
    * a keyless UPDATE that suppressed most of what it covered triggers
    * this fold right after its own commit, so write amplification is
    * bounded at one extra pass over the covered files instead of
    * suppress-and-carry forever.
    *
    * Twins are per-input-file, original row order preserved (survivor
    * positions only close ranks), placed in the SAME partition directory
    * — per-file sortedness (the ordering-report invariant) and path-based
    * pruning both survive; twins of provenance-unproven files re-enter
    * the marker. Lineage tables materialize row ids into the twins (same
    * rule as the full OPTIMIZE fold). Originals stay on disk for time
    * travel; VACUUM reclaims them with their versions.
    *
    * Returns (filesRewritten, filesDropped, newVersion); (0, 0, -1) =
    * no active deltas, nothing to fold.
    */
  def foldDeltas(spark: SparkSession, catalog: String, ns: String,
      table: String): (Int, Int, Long) = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    foldDeltasAt(spark, fs, d)
  }

  private[catalog] def foldDeltasAt(spark: SparkSession, fs: FileSystem,
      d: Path): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.{col, concat_ws, element_at, split, typedLit}
    val latest = GraftStagingCatalog.headManifest(fs, d).getOrElse(
      throw new IllegalArgumentException(s"$d has no committed version"))
    val (base, mf) = latest
    val dvNames = GraftStagingCatalog.manifestDvs(fs, mf)
    if (dvNames.isEmpty) return (0, 0, -1L)
    val all = manifestFiles(fs, mf)
    val allSet = all.toSet
    val morKey = DeletionVectors.morKey(fs, d)
    val dvMap = morKey.map(_ => DeletionVectors.dvMapAt(fs, d, mf))
      .getOrElse(Map.empty[String, Set[Any]])
    val keyRuns = morKey.map(_ => DeletionVectors.keyRunsAt(fs, d, mf)).getOrElse(Nil)
    val posMap =
      if (morKey.isEmpty && DeletionVectors.morPos(fs, d))
        DeletionVectors.posMapAt(fs, d, mf)
      else DeletionVectors.PosDvs.empty
    // a CLONE's descriptors reference borrowed files by BARE name while
    // its manifest holds the absolute path — resolve through the bare
    // names of foreign entries (UUID-fresh part names cannot alias)
    val byBare: Map[String, String] = all.filter(TableClone.isForeign)
      .groupBy(f => new Path(f).getName)
      .collect { case (b, fs0) if fs0.size == 1 => b -> fs0.head }
    val covered: Seq[String] =
      (dvMap.keysIterator ++ keyRuns.iterator.flatMap(_.files) ++
        posMap.coveredFiles.iterator)
        .flatMap(f => if (allSet(f)) Iterator.single(f)
                      else byBare.get(f).iterator)
        .toSeq.distinct.sorted
    if (covered.isEmpty) {
      // descriptors with no live targets: drop them from the head with a
      // data-free commit
      val v = GraftStagingCatalog.writeExplicitManifest(fs, d, all,
        kind = "optimize", expectedBase = Some(base))
      return (0, 0, v)
    }
    val lineage = RowLineage.enabled(fs, d)
    val lineageEntries: Map[String, RowLineage.Entry] =
      if (!lineage) Map.empty
      else RowLineage.parse(GraftStagingCatalog.readString(fs, mf))._1
    val reader = spark.read
    if (lineage) declaredSchema(fs, d).foreach(s => reader.schema(RowLineage.readSchema(s)))
    else declaredSchema(fs, d).foreach(reader.schema)
    val raw0 = reader.parquet(covered.map(f => new Path(d, f).toString): _*)
    val withMeta = raw0.select(col("*"), col("_metadata"))
    val dvApplied = morKey match {
      case Some(k) if dvMap.nonEmpty || keyRuns.nonEmpty =>
        DeletionVectors.applyKeyRunsToRead(
          DeletionVectors.applyToRead(withMeta, k, dvMap), k, keyRuns)
      case _ if posMap.nonEmpty => DeletionVectors.applyPosToRead(withMeta, posMap)
      case _                    => withMeta
    }
    // key each survivor back to its source file by the path's LAST TWO
    // segments (bare names collide across partition directories — the
    // purge twin-pass precedent) and remember its original row index
    val segs = split(col("_metadata.file_path"), "/")
    val tagged = dvApplied
      .withColumn("__graft_ff", concat_ws("/",
        element_at(segs, -2), element_at(segs, -1)))
      .withColumn("__graft_fr", col("_metadata.row_index"))
    val resolved =
      if (!lineage) tagged
      else RowLineage.materialize(tagged, lineageEntries)
    // key rows by the last TWO segments of the file's RESOLVED path —
    // identical for table-relative and borrowed-absolute entries
    def pathKey(f: String): String = {
      val full = new Path(d, f).toString
      val i2 = full.lastIndexOf('/')
      val i1 = full.lastIndexOf('/', i2 - 1)
      full.substring(i1 + 1)
    }
    val pidOf: Map[String, Int] = covered.zipWithIndex.map { case (f, i) =>
      pathKey(f) -> i }.toMap
    require(pidOf.size == covered.size,
      s"foldDeltas: covered dir/name keys are not unique (${covered.size} " +
        s"files, ${pidOf.size} distinct keys)")
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(d, s"_fold_$token")
    resolved
      .withColumn("__graft_fpid", element_at(typedLit(pidOf), col("__graft_ff")))
      .repartition(math.max(covered.size, 1), col("__graft_fpid"))
      .sortWithinPartitions(col("__graft_fpid"), col("__graft_fr"))
      .drop("__graft_ff", "__graft_fr", "_metadata")
      .write.partitionBy("__graft_fpid").mode("overwrite").parquet(tmp.toString)
    // place twins beside their originals (same partition directory: the
    // path-based pruner must keep judging them by the same spec)
    val repl = scala.collection.mutable.Map.empty[String, Seq[String]]
    fs.listStatus(tmp).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__graft_fpid="))
      .foreach { pd =>
        val pid = pd.getPath.getName.stripPrefix("__graft_fpid=").toInt
        val old = covered(pid)
        val slash = old.lastIndexOf('/')
        // a BORROWED file's twin materializes into the folding table's own
        // root — never back into the source's directory
        val dirPart =
          if (TableClone.isForeign(old)) ""
          else if (slash > 0) old.substring(0, slash + 1) else ""
        // listStatus order is unspecified; sorted part names ARE row order
        // (the writing task numbers them sequentially) — required for the
        // preserved-row-order claim the sort-provenance carry rides
        val parts = fs.listStatus(pd.getPath).toIndexedSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        repl(old) = parts.zipWithIndex.map { case (f, j) =>
          val name = s"${dirPart}fold-$token-$pid-$j.parquet"
          val target = new Path(d, name)
          if (!fs.rename(f.getPath, target))
            throw new IllegalStateException(s"foldDeltas: move ${f.getPath} -> $target failed")
          name
        }
      }
    fs.delete(tmp, true)
    // a twin preserves its original's row order, so it inherits the
    // original's provenance: twins of UNPROVEN files re-enter the marker
    // (the r13-advice false-readmission hazard), twins of proven files
    // stay proven for free
    GraftStagingCatalog.sortOrderUnproven(fs, d).foreach { case (_, unproven) =>
      val twins = repl.iterator.collect {
        case (old0, news) if unproven(old0) => news
      }.flatten.toSeq
      GraftStagingCatalog.markUnsorted(fs, d, twins)
    }
    val coveredSet = covered.toSet
    val newFiles = all.flatMap(f =>
      if (coveredSet(f)) repl.getOrElse(f, Seq.empty) else Seq(f))
    val twinSet = repl.valuesIterator.flatten.toSet
    val v = GraftStagingCatalog.writeExplicitManifest(fs, d, newFiles,
      kind = "optimize", expectedBase = Some(base),
      matFiles = if (lineage) twinSet else Set.empty)
    try autoAnalyze(spark, fs, d)
    catch { case e: Exception =>
      System.err.println(s"[graft] auto-analyze after foldDeltas on $d failed: $e")
    }
    val dropped = covered.count(f => repl.getOrElse(f, Seq.empty).isEmpty)
    (covered.size - dropped, dropped, v)
  }

  /** Compact the current file set into `targetFiles` files, committed as a
    * new version. Returns (filesBefore, filesAfter, newVersion).
    * `targetFiles = 0` derives the count from BYTES: ceil(rewritten bytes /
    * the table's declared 'graft.target-file-size', default 128 MiB).
    *
    * `clusterBy`: when set, the rewrite RANGE-partitions and sorts on that
    * column instead of hash-scattering — CLUSTER BY as a maintenance
    * operation (the lakehouse OPTIMIZE-with-clustering shape). Commits
    * arrive in ingestion order, so every file of an unclustered table spans
    * the whole keyspace and zone maps ([[analyze]]/[[prunedScan]]) can
    * skip nothing; after a clustered rewrite the per-file [min,max] ranges
    * are disjoint and a range predicate touches ~its fraction of files.
    * Layout only, never content — same manifest rules as a plain OPTIMIZE,
    * committed optimistically against the version the rewrite scanned.
    */
  def optimize(spark: SparkSession, catalog: String, ns: String, table: String,
      targetFiles: Int = 4, clusterBy: Option[String] = None,
      partitionBy: Option[String] = None, strayOnly: Boolean = false,
      minBytes: Option[Long] = None,
      whereFilter: Option[String] = None): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.col
    require(clusterBy.isEmpty || partitionBy.isEmpty,
      "optimize takes clusterBy OR partitionBy, not both")
    require(!strayOnly || partitionBy.isDefined,
      "strayOnly optimize needs partitionBy (the layout to complete)")
    require(minBytes.isEmpty || (!strayOnly && partitionBy.isEmpty),
      "small-file optimize (min_size_bytes) is a flat binpack — it cannot " +
        "combine with scope='stray' or partitionBy (complete the layout separately)")
    minBytes.foreach(mb => require(mb > 0L,
      s"min_size_bytes must be positive, got $mb"))
    require(whereFilter.isEmpty || (!strayOnly && minBytes.isEmpty && partitionBy.isEmpty),
      "where-scoped optimize cannot combine with scope='stray'/'small' or partitionBy")
    require(targetFiles >= 0,
      s"target_files must be positive, or 0 for size-derived — got $targetFiles")
    val (fs, d) = tableDir(spark, catalog, ns, table)
    // a declared-sort-order table's files are per-file sorted on the
    // declared columns by EVERY write path (the SupportsReportOrdering
    // invariant) — a cluster_by on a different column would silently break
    // that, so refuse loudly (drop the property first, or cluster by the
    // declared leading column)
    clusterBy.foreach { cb =>
      val so = GraftStagingCatalog.sortOrderCols(fs, d)
      require(so.isEmpty || cb.equalsIgnoreCase(so.head),
        s"optimize cluster_by '$cb' contradicts declared " +
          s"'graft.sort-order'='${so.mkString(",")}' — files must stay sorted " +
          "on the declared order; unset the table property to re-cluster")
    }
    val latest = GraftStagingCatalog.headManifest(fs, d)
    val base = latest.map(_._1).getOrElse(0L)
    val all = latest.map { case (_, mf) => manifestFiles(fs, mf) }
      .getOrElse(dataFiles(fs, d))
    // INCREMENTAL LAYOUT MAINTENANCE (partition-spec evolution's write
    // side): bed ONLY the STRAY files — flat root-level part files from
    // plain appends — into the requested layout; files already under ANY
    // layout directory (the current spec's, or a RETIRED spec's after
    // set_partition_spec) are carried into the new manifest BY NAME,
    // byte-identical. This is the 100 TB contract: "complete the layout"
    // costs O(new data), never O(table) — the old family keeps pruning
    // through its retired spec instead of being rewritten. v1 boundaries,
    // enforced loudly: no active DVs (a fold would have to split across
    // carried files) and no lineage (same fold ambiguity) — run a full
    // OPTIMIZE there.
    //
    // SMALL-FILE BINPACK (r12 — `minBytes`): compact ONLY files under the
    // size floor; every file at or above it carries BY NAME, byte-
    // identical. The streaming-ingest answer at 100 TB: a commit-per-
    // micro-batch table accretes thousands of tiny files next to a few
    // well-sized compacted ones — re-binpacking the good ones would
    // rewrite the table for nothing, so the rewrite cost is O(small
    // bytes), not O(table). Lineage rides the standard preserving path
    // (the compact subset materializes, carried files keep their id
    // bases); active DVs are refused like the stray scope (a fold must
    // cover every DV'd file — run a full OPTIMIZE).
    val (carried, current) =
      if (strayOnly) {
        require(manifestDvNames(fs, d, latest).isEmpty,
          "strayOnly optimize cannot fold active deletion vectors — run a full OPTIMIZE")
        require(!RowLineage.enabled(fs, d),
          "strayOnly optimize does not support row-lineage tables — run a full OPTIMIZE")
        all.partition(_.contains("/"))
      } else minBytes match {
        case Some(mb) =>
          require(manifestDvNames(fs, d, latest).isEmpty,
            "small-file optimize cannot fold active deletion vectors — run a full OPTIMIZE")
          // a manifest-listed file whose stat throws FNF (concurrent VACUUM
          // / external damage) must NOT classify as a 0-byte small file —
          // that would put the missing path into the rewrite set and fail
          // the whole pack at read time. Carry it: the pack of the files
          // that DO exist still succeeds, and the damage surfaces where it
          // belongs (the next read of the carried file).
          all.partition(f =>
            (try fs.getFileStatus(new Path(d, f)).getLen
             catch { case _: FileNotFoundException => Long.MaxValue }) >= mb)
        case None => whereFilter match {
          // WHERE-SCOPED MAINTENANCE (r12): re-cluster/compact ONLY the
          // files the predicate can touch — zone maps + partition paths
          // decide per file, exactly the DELETE three-way split's
          // can-match test, so at 100 TB "re-cluster yesterday" rewrites
          // yesterday's slice, never the table. The predicate SELECTS
          // FILES (a file any of whose rows may match is wholly included
          // — layout only, content never changes); unanalyzed files are
          // conservatively included. DVs refused like the other partial
          // scopes (a fold must cover every DV'd file).
          case Some(w) =>
            require(manifestDvNames(fs, d, latest).isEmpty,
              "where-scoped optimize cannot fold active deletion vectors — run a full OPTIMIZE")
            val parsed = spark.sessionState.sqlParser.parseExpression(w)
            // a misspelled column would look unprunable (conservative keep
            // on every file) and silently turn the O(slice) operation into
            // an O(table) rewrite — refuse loudly instead
            val declaredNames = declaredSchema(fs, d)
              .map(_.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
              .getOrElse(Set.empty)
            parsed.collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                require(declaredNames.isEmpty ||
                    declaredNames(a.name.toLowerCase(java.util.Locale.ROOT)),
                  s"optimize where-filter references unknown column '${a.name}' " +
                    s"(declared: ${declaredNames.toSeq.sorted.mkString(", ")})")
            }
            val v1 = ZoneMapScanBuilder.toV1(parsed).getOrElse(
              throw new IllegalArgumentException(
                s"optimize where-filter '$w' is not zone-map-translatable " +
                  "(use comparisons/IN/AND/OR over plain columns and literals)"))
            val stats0 = readStatsFor(fs, d)
            val nulls0 = readNullsFor(fs, d)
            val specs0 = GraftStagingCatalog.partSpecsAll(fs, d)
            val (sel, keep) = all.partition(f =>
              ZoneMapPrunedScan.canMatch(stats0, nulls0, f, v1) &&
                ZoneMapPrunedScan.partCanMatch(specs0, f, v1))
            (keep, sel)
          case None => (Seq.empty[String], all)
        }
      }
    // fewer than two sub-floor files: nothing to pack — no-op version-free
    if (minBytes.isDefined && current.size < 2) return (0, 0, -1L)
    if (current.isEmpty) return (0, 0, -1L)
    // SIZE-DERIVED file count (r12): `target_files => 0` sizes the
    // compaction by BYTES — ceil(rewritten bytes / the table's declared
    // 'graft.target-file-size', default 128 MiB). The count-based knob
    // freezes layout at a number that was right once; at 100 TB the
    // operator wants "files of ~512 MiB" however much data the rewrite
    // covers, same as the append-side sizing.
    val effTarget =
      if (targetFiles > 0) targetFiles
      else {
        require(partitionBy.isEmpty,
          "target_files => 0 (size-derived) does not apply to partitionBy " +
            "layouts (one file per partition dir)")
        // every `current` file is about to be READ by the rewrite — a
        // vanished one fails the pack regardless, so fail HERE with the
        // catalog-level concurrent-modification signal instead of silently
        // undercounting bytes and then crashing inside the parquet scan
        val bytes = current.map(f =>
          try fs.getFileStatus(new Path(d, f)).getLen
          catch { case _: FileNotFoundException =>
            throw new java.util.ConcurrentModificationException(
              s"optimize: manifest-listed file $f is gone (concurrent VACUUM?)") }).sum
        val per = GraftStagingCatalog.targetFileSize(fs, d) match {
          case 0L => 128L << 20
          case x  => x
        }
        math.max(1L, (bytes + per - 1L) / per).toInt
      }
    // lineage tables: the compaction MUST preserve row identity — read
    // every row WITH its resolved id and write it into the physical
    // column ([[RowLineage.materialize]]); the commit marks the compacted
    // files materialized. Non-lineage tables read the declared schema.
    val lineage = RowLineage.enabled(fs, d)
    val lineageEntries: Map[String, RowLineage.Entry] =
      if (!lineage) Map.empty
      else latest.map { case (_, mf) =>
        RowLineage.parse(GraftStagingCatalog.readString(fs, mf))._1
      }.getOrElse(Map.empty)
    val reader = spark.read
    if (lineage) declaredSchema(fs, d).foreach(s => reader.schema(RowLineage.readSchema(s)))
    else declaredSchema(fs, d).foreach(reader.schema)
    val raw0 = reader.parquet(current.map(f => new Path(d, f).toString): _*)
    // OPTIMIZE is where deletion vectors FOLD: the rewrite reads with the
    // current DVs applied (deleted rows must not resurrect into the
    // compacted files) and the commit below records an EMPTY dv set — after
    // an OPTIMIZE the table is DV-free until the next merge-on-read write.
    // Fold order on a lineage table: DVs FIRST, materialize SECOND — both
    // resolve rows off `_metadata`, which only a bare files-read provides,
    // and id resolution depends only on each surviving row's own
    // (phys, row_index), which the DV filter cannot disturb.
    val dvMap = latest.map { case (_, mf) => DeletionVectors.dvMapAt(fs, d, mf) }
      .getOrElse(Map.empty[String, Set[Any]])
    val posMap = latest.filter(_ => DeletionVectors.morPos(fs, d))
      .map { case (_, mf) => DeletionVectors.posMapAt(fs, d, mf) }
      .getOrElse(DeletionVectors.PosDvs.empty)
    val withMeta = if (!lineage) raw0 else raw0.select(col("*"), col("_metadata"))
    val keyRuns = latest.map { case (_, mf) =>
      DeletionVectors.keyRunsAt(fs, d, mf) }.getOrElse(Nil)
    val dvApplied = DeletionVectors.morKey(fs, d) match {
      case Some(k) if dvMap.nonEmpty || keyRuns.nonEmpty =>
        // fold order: inline keys first, then the distributed bins (r14) —
        // both anti-joins, both executor-side
        DeletionVectors.applyKeyRunsToRead(
          DeletionVectors.applyToRead(withMeta, k, dvMap), k, keyRuns)
      case _ if posMap.nonEmpty      => DeletionVectors.applyPosToRead(withMeta, posMap)
      case _                         => withMeta
    }
    val df =
      if (!lineage) dvApplied
      else RowLineage.materialize(dvApplied, lineageEntries).drop("_metadata")
    // rewrite into a staging subdir (underscore-prefixed: invisible to data
    // listings), then move the compacted parts into the table dir under
    // unique names BEFORE committing the manifest that references them —
    // a crash mid-move leaves unreferenced files, never a torn version.
    // (The moves are data-file placement, not the commit: atomicity lives
    // entirely in the create-exclusive manifest write.)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(d, s"_optimize_$token")
    val moved: Seq[String] = partitionBy match {
      case Some(p) =>
        // PARTITION layout: bed the current set into `<prefix>=v/`
        // directories (the reference's readdir namespace). `p` is a
        // partition SPEC — a bare column (identity), `days(c)`, or
        // `bucket(n,c)` — and the write partitions on the DERIVED value of
        // a clone column, so the real source column stays IN the data
        // files: reads never depend on the directory structure. For
        // identity and days the laid-out files are CONSTANT / day-bounded
        // on the source column (zone maps prune exactly after ANALYZE, and
        // the path-based pruner works with NO stats at all); for bucket the
        // path-based pruner is the ONLY file-skipping route — a point
        // lookup's bucket residue names its one directory, which min/max
        // ranges (each bucket spans the whole keyspace) can never express.
        val spec = GraftStagingCatalog.parsePartSpec(p)
        val derived = spec match {
          case GraftStagingCatalog.IdentityPart(c) => col(c)
          case GraftStagingCatalog.DaysPart(c) =>
            org.apache.spark.sql.functions.date_format(col(c), "yyyy-MM-dd")
          case GraftStagingCatalog.BucketPart(n, c) =>
            org.apache.spark.sql.functions.pmod(col(c).cast("long"),
              org.apache.spark.sql.functions.lit(n.toLong)).cast("int")
        }
        {
          // SORT-ORDER PRESERVATION (r13): a declared-sort-order table's
          // laid-out files stay per-file sorted — the invariant the scan's
          // SupportsReportOrdering report rides (and what makes a bucket
          // layout SMJ sort-free on top of exchange-free)
          val so = GraftStagingCatalog.sortOrderCols(fs, d)
            .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
          val base0 = df.withColumn("__graft_pdir", derived)
            .repartition(col("__graft_pdir"))
          val laidOut =
            if (so.isEmpty) base0
            else base0.sortWithinPartitions(
              (col("__graft_pdir") +: so.map(col)): _*)
          laidOut.write.partitionBy("__graft_pdir").mode("overwrite")
            .parquet(tmp.toString)
        }
        fs.listStatus(tmp).toIndexedSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("__graft_pdir="))
          .flatMap { pd =>
            // keep Spark's own escaped partition VALUE, swap in the spec's
            // directory prefix
            val dirName =
              spec.dirPrefix + pd.getPath.getName.stripPrefix("__graft_pdir=")
            val target = new Path(d, dirName)
            fs.mkdirs(target)
            fs.listStatus(pd.getPath).toIndexedSeq
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map { f =>
                val t = new Path(target, s"opt-$token-${f.getPath.getName}")
                if (!fs.rename(f.getPath, t))
                  throw new IllegalStateException(s"optimize: move ${f.getPath} -> $t failed")
                s"$dirName/${t.getName}"
              }
          }
      case None =>
        val laid = clusterBy match {
          case Some(spec) if spec.contains(",") =>
            // MULTI-COLUMN CLUSTER BY via Z-ORDER: interleave the two
            // dimensions' bits on a Morton curve (the q243 layout made a
            // maintenance operation), so per-file [min,max] ranges stay
            // bounded on BOTH columns and zone maps prune predicates on
            // EITHER — what a linear sort gives only its leading column.
            // Each dimension is scaled to 16 bits against its observed
            // [min,max] (one agg pass); the z key orders placement ONLY —
            // content and correctness never depend on it, so the double
            // arithmetic in the scaling is safe by construction.
            val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
            require(cols.length == 2,
              s"cluster_by takes one column or a pair 'a,b' (z-order), got '$spec'")
            import org.apache.spark.sql.functions.{greatest, least, lit => flit,
              max => fmax, min => fmin, shiftleft, shiftright}
            val b = df.agg(
              fmin(col(cols(0))).cast("double"), fmax(col(cols(0))).cast("double"),
              fmin(col(cols(1))).cast("double"), fmax(col(cols(1))).cast("double")).head
            val Bits = 16
            val Mask = (1L << Bits) - 1
            def scaled(c: String, mn: Double, mx: Double) =
              least(flit(Mask), greatest(flit(0L),
                ((col(c).cast("double") - mn) * Mask / math.max(mx - mn, 1.0))
                  .cast("long")))
            val za = scaled(cols(0), b.getDouble(0), b.getDouble(1))
            val zb = scaled(cols(1), b.getDouble(2), b.getDouble(3))
            val z = (0 until Bits).map { i =>
              shiftleft(shiftright(za, i).bitwiseAND(flit(1L)), 2 * i + 1)
                .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(flit(1L)), 2 * i))
            }.reduce(_.bitwiseOR(_))
            df.repartitionByRange(effTarget, z).sortWithinPartitions(z)
          case Some(c) =>
            df.repartitionByRange(effTarget, col(c)).sortWithinPartitions(col(c))
          case None =>
            // SORT-ORDER PRESERVATION (r13): a plain compaction of a
            // declared-sort-order table re-clusters on the declared
            // columns — the compacted files stay per-file sorted (the
            // SupportsReportOrdering invariant) AND the zone ranges stay
            // disjoint, exactly what the table declared it wants
            val so = GraftStagingCatalog.sortOrderCols(fs, d)
              .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
            if (so.isEmpty) df.repartition(effTarget)
            else df.repartitionByRange(effTarget, so.map(col): _*)
              .sortWithinPartitions(so.map(col): _*)
        }
        laid.write.mode("overwrite").parquet(tmp.toString)
        fs.listStatus(tmp).toIndexedSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val target = new Path(d, s"opt-$token-${f.getPath.getName}")
            if (!fs.rename(f.getPath, target))
              throw new IllegalStateException(s"optimize: move ${f.getPath} -> $target failed")
            target.getName
          }
    }
    fs.delete(tmp, true)
    val v = writeExplicitManifest(fs, d, carried ++ moved, expectedBase = Some(base),
      matFiles = if (lineage) moved.toSet else Set.empty)
    // commit-time zone-map maintenance, if declared — best-effort: the
    // rewrite is already committed, stats self-heal at the next trigger
    try autoAnalyze(spark, fs, d)
    catch { case e: Exception =>
      System.err.println(s"[graft] auto-analyze after optimize on $d failed: $e")
    }
    (current.size, moved.size, v)
  }

  /** DV sidecar names of the head manifest (empty when none). */
  private def manifestDvNames(fs: FileSystem,
      d: org.apache.hadoop.fs.Path,
      latest: Option[(Long, org.apache.hadoop.fs.Path)]): Seq[String] =
    latest.map { case (_, mf) => GraftStagingCatalog.manifestDvs(fs, mf) }
      .getOrElse(Seq.empty)

  /** Append-only change data feed: the rows added in versions
    * `(fromVersion, toVersion]`. Because commits only ADD files, the
    * row-level delta is exactly the FILE-level delta between the two
    * manifests — a metadata diff plus a scan of only the new files, no
    * row comparison anywhere. Refused across an OPTIMIZE boundary (its
    * manifest rewrites the file set without changing rows, so a file diff
    * there would misreport the whole table as changed) — read the two
    * versions directly in that case. This is the incremental-consumer
    * primitive: a downstream job remembers the version it last processed
    * and reads forward from there instead of re-scanning the table.
    */
  def changesBetween(spark: SparkSession, catalog: String, ns: String,
      table: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val (fs, d) = tableDir(spark, catalog, ns, table)
    def mf(v: Long): Path = GraftStagingCatalog.probeManifest(fs, d, v).getOrElse(
      throw new IllegalArgumentException(
        s"$catalog.$ns.$table has no version $v (vacuumed or never committed)"))
    ((fromVersion + 1) to toVersion).foreach { v =>
      val kind = manifestKind(fs, mf(v))
      // clone (a shallow clone's first version) and sync (absorbed source
      // appends) are pure file additions — append-comparable (r14)
      if (kind != "commit" && kind != "clone" && kind != "sync")
        throw new IllegalArgumentException(
          s"change feed crosses ${kind.toUpperCase} at version $v: file sets " +
            "are not append-comparable across a rewrite — read the versions directly")
    }
    val fromFiles =
      if (fromVersion == 0L) Set.empty[String] else manifestFiles(fs, mf(fromVersion)).toSet
    val newFiles = manifestFiles(fs, mf(toVersion)).filterNot(fromFiles)
    val reader = spark.read
    declaredSchema(fs, d).foreach(reader.schema)
    if (newFiles.isEmpty)
      reader.schema(declaredSchema(fs, d).getOrElse(
        spark.read.parquet(d.toString).schema))
        .parquet() // empty relation with the table schema
    else reader.parquet(newFiles.map(f => new Path(d, f).toString): _*)
  }

  /** ROW-level change feed across arbitrary version pairs — including
    * rewrites, which the append-only file diff ([[changesBetween]]) must
    * refuse. The payoff of FILE-GRANULAR commits: a keyed UPDATE/DELETE
    * carries untouched files by name, so the file sets of the two versions
    * differ only in the files the operation actually touched — and the
    * row-level delta is computable by scanning ONLY those:
    *
    *   deletes = rows(removed files) EXCEPT ALL rows(added files)
    *   inserts = rows(added files)  EXCEPT ALL rows(removed files)
    *
    * Bag semantics (EXCEPT ALL) cancel the rewritten-but-unchanged rows a
    * touched file carries along, leaving exactly the net row changes; an
    * updated row surfaces as its delete/insert pair. On a 100 TB table a
    * one-slice UPDATE diffs at slice cost, never table cost. Refused when
    * the two versions read under different era schemas (rows would not be
    * comparable column-for-column).
    */
  def rowLevelChanges(spark: SparkSession, catalog: String, ns: String,
      table: String, fromVersion: Long, toVersion: Long): DataFrame = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    rowLevelChangesAt(spark, fs, d, fromVersion, toVersion)
  }

  /** (fs, dir)-level core of [[rowLevelChanges]] — also the change-feed
    * stream's CDF materializer ([[ensureCdf]]), which has a table dir but
    * no catalog-qualified name.
    */
  private[catalog] def rowLevelChangesAt(spark: SparkSession, fs: FileSystem, d: Path,
      fromVersion: Long, toVersion: Long): DataFrame =
    rowLevelChangesParts(spark, fs, d, fromVersion, toVersion)._1

  /** [[rowLevelChangesAt]] core, additionally exposing STRUCTURAL
    * one-sidedness: `hasRemoved`/`hasAdded` report whether any file left or
    * entered the slice (by name or DV visibility). `hasRemoved == false`
    * proves the diff holds zero delete rows without running a job (the old
    * side is an empty relation), and symmetrically for inserts — callers
    * use this to skip pairing work on pure-append / pure-drop versions.
    */
  private[catalog] def rowLevelChangesParts(spark: SparkSession, fs: FileSystem, d: Path,
      fromVersion: Long, toVersion: Long): (DataFrame, Boolean, Boolean) = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    def manifestOf(v: Long): Path = GraftStagingCatalog.probeManifest(fs, d, v).getOrElse(
      throw new IllegalArgumentException(
        s"$d has no version $v (vacuumed or never committed)"))
    // version 0 = the empty pre-history (an overwrite/restore as the very
    // first commit diffs against nothing)
    def files(v: Long): Set[String] =
      if (v <= 0L) Set.empty else manifestFiles(fs, manifestOf(v)).toSet
    val sFrom = GraftStagingCatalog.schemaAtVersion(fs, d, math.max(fromVersion, 1L))
    val sTo = GraftStagingCatalog.schemaAtVersion(fs, d, toVersion)
    require(sFrom == sTo,
      s"row-level diff across a schema change is not comparable ($sFrom vs $sTo)")
    val from = files(fromVersion)
    val to = files(toVersion)
    // MERGE-ON-READ: a DV-only commit changes row VISIBILITY without
    // changing the file set, so a file whose deleted-key set differs
    // between the versions is part of the delta — it enters BOTH sides of
    // the diff, each side read under ITS version's deletion vectors, and
    // the EXCEPT ALL cancellation surfaces exactly the newly-suppressed
    // rows as deletes. Still slice-cost: only files that changed (by name
    // OR by DV) are scanned.
    val morKey = DeletionVectors.morKey(fs, d)
    val morPos = DeletionVectors.morPos(fs, d)
    val dvFrom = morKey.filter(_ => fromVersion > 0L)
      .map(_ => DeletionVectors.dvMapAt(fs, d, manifestOf(fromVersion)))
      .getOrElse(Map.empty[String, Set[Any]])
    val dvTo = morKey.map(_ => DeletionVectors.dvMapAt(fs, d, manifestOf(toVersion)))
      .getOrElse(Map.empty[String, Set[Any]])
    // r14 distributed key bins: visibility compares by descriptor IDENTITY
    // (immutable dirs), reads suppress via the executor-parallel anti-join
    val krFrom = morKey.filter(_ => fromVersion > 0L)
      .map(_ => DeletionVectors.keyRunsAt(fs, d, manifestOf(fromVersion)))
      .getOrElse(Nil)
    val krTo = morKey.map(_ => DeletionVectors.keyRunsAt(fs, d, manifestOf(toVersion)))
      .getOrElse(Nil)
    val (krFromState, krToState) =
      (DeletionVectors.keyRunState(krFrom), DeletionVectors.keyRunState(krTo))
    // position-delete twin of the key maps (keyless-MOR tables)
    val posFrom =
      if (morPos && fromVersion > 0L) DeletionVectors.posMapAt(fs, d, manifestOf(fromVersion))
      else DeletionVectors.PosDvs.empty
    val posTo =
      if (morPos) DeletionVectors.posMapAt(fs, d, manifestOf(toVersion))
      else DeletionVectors.PosDvs.empty
    // distributed run sidecars compare by IDENTITY (immutable paths), so a
    // DV-visibility change is detectable without parsing any ordinals
    val dvChanged = (from intersect to).filter(f =>
      dvFrom.getOrElse(f, Set.empty) != dvTo.getOrElse(f, Set.empty) ||
        posFrom.stateOf(f) != posTo.stateOf(f) ||
        krFromState.getOrElse(f, Set.empty) != krToState.getOrElse(f, Set.empty))
    val removed = ((from -- to) ++ dvChanged).toSeq.sorted
    val added = ((to -- from) ++ dvChanged).toSeq.sorted
    def read(fls: Seq[String], dv: Map[String, Set[Any]],
        pos: DeletionVectors.PosDvs,
        krs: Seq[DeletionVectors.KeyRuns]): DataFrame = {
      val reader = spark.read
      sFrom.foreach(reader.schema)
      val df =
        if (fls.isEmpty)
          reader.schema(sFrom.getOrElse(spark.read.parquet(d.toString).schema)).parquet()
        else reader.parquet(fls.map(f => new Path(d, f).toString): _*)
      morKey match {
        case Some(k) =>
          DeletionVectors.applyKeyRunsToRead(
            DeletionVectors.applyToRead(df, k,
              dv.filter { case (f, _) => fls.contains(f) }),
            k, krs.map(kr => kr.copy(files = kr.files.filter(fls.contains))))
        case None if morPos && fls.nonEmpty =>
          DeletionVectors.applyPosToRead(df, pos.filterFiles(fls.contains))
        case None => df
      }
    }
    val oldRows = read(removed, dvFrom, posFrom, krFrom)
    val newRows = read(added, dvTo, posTo, krTo)
    // ONE multiset difference for both polarities (r14 opt, guide §2.4):
    // `exceptAll` in each direction re-aggregates the SAME two inputs with
    // opposite signs (Spark rewrites ExceptAll to Union → Aggregate(sum ±1)
    // → ReplicateRows), so the two calls doubled every scan and shuffle.
    // Fused: tag old rows +1 / new rows −1, aggregate once; net > 0 rows
    // are deletes replicated net times, net < 0 inserts. Grouping equality
    // (null-safe, NaN-equal, −0.0 normalized) is the same Aggregate
    // machinery exceptAll itself lowers to, so the multiset semantics are
    // identical. One-sided slices (pure append / pure drop) skip the
    // shuffle outright — the other relation is structurally empty.
    import org.apache.spark.sql.functions.{abs => fabs, array_repeat, col, explode,
      sum => fsum, when => fwhen}
    val diff =
      if (removed.isEmpty) newRows.withColumn("_change", lit("insert"))
      else if (added.isEmpty) oldRows.withColumn("_change", lit("delete"))
      else {
        val cols = oldRows.columns.toSeq
        val net = oldRows.withColumn("_gn", lit(1L))
          .unionByName(newRows.withColumn("_gn", lit(-1L)))
          .groupBy(cols.map(col): _*).agg(fsum(col("_gn")).as("_gn"))
          .where(col("_gn") =!= 0L)
        net.withColumn("_change",
            fwhen(col("_gn") > 0L, lit("delete")).otherwise(lit("insert")))
          .withColumn("_gr", explode(array_repeat(lit(1), fabs(col("_gn")).cast("int"))))
          .select(cols.map(col) :+ col("_change"): _*)
      }
    (diff, removed.nonEmpty, added.nonEmpty)
  }

  private[catalog] val CdfDir = "_graft_cdf"

  /** MATERIALIZE a rewrite version's row-level delta as change-data files
    * (`_graft_cdf/v<N>/` — Delta's CDC-file shape, computed LAZILY on first
    * change-feed read instead of at commit time: the diff is a pure
    * function of two immutable manifests + files, so read-side
    * materialization is idempotent and needs no write-path hook or table
    * property). Columns: the table schema + `_change_type` + `_commit_
    * version`. `_SUCCESS` (the parquet committer's own marker) gates
    * completeness; a crash mid-write simply re-materializes. Cost is
    * slice-cost, not table cost — the diff reads only files the version
    * touched by name or by DV (rowLevelChangesAt).
    *
    * KEYED tables (a `graft.merge-keys` declaration — every MOR table) get
    * Delta-CDF update semantics (r11): a version's delete/insert rows that
    * share a merge key are re-typed `update_preimage`/`update_postimage`,
    * so a downstream MERGE-applier reads the old→new transition directly
    * instead of reconstructing it by joining bare pairs within
    * `_commit_version`. Unpaired rows keep `delete`/`insert` (a MERGE
    * version mixes paired updates with bare inserts naturally). Keyless
    * tables stay delete+insert — there is no row identity to pair on.
    */
  private[catalog] def ensureCdf(spark: SparkSession, fs: FileSystem, d: Path,
      v: Long): Path = GraftStagingCatalog.synchronized {
    import org.apache.spark.sql.functions.{col, lit, row_number, when}
    val out = new Path(new Path(d, CdfDir), s"v$v")
    if (isFile(fs, new Path(out, "_SUCCESS"))) out
    else if (RowLineage.enabled(fs, d)) {
      // LINEAGE tables: the diff pairs by ROW IDENTITY, not by key
      // heuristics — exact CDC for keyless-but-identified tables. Every
      // changed file's rows read WITH their resolved ids (each side under
      // ITS version's allocation vector); rows whose id appears on both
      // sides with identical data cancel, differing data becomes an
      // update pre/post PAIR sharing the id, one-sided ids are
      // deletes/inserts. `_row_id` is part of the feed schema, so a
      // downstream applier joins pre→post (or applies by id) directly.
      lineageCdfDiff(spark, fs, d, v)
        .withColumnRenamed("_change", "_change_type")
        .withColumn("_commit_version", org.apache.spark.sql.functions.lit(v))
        .write.mode("overwrite").parquet(out.toString)
      out
    }
    else {
      val (diff0, hasRemoved, hasAdded) =
        rowLevelChangesParts(spark, fs, d, v - 1L, v)
      if (!hasRemoved || !hasAdded) {
        // STRUCTURALLY one-sided version (pure append / pure metadata
        // drop, r14 opt): the other polarity's relation is empty by
        // manifest arithmetic, so nothing can pair — write the diff as-is
        // and skip the stability scan and the pairing machinery (for an
        // append this is a map-only copy of the added files).
        diff0.withColumnRenamed("_change", "_change_type")
          .withColumn("_commit_version", lit(v))
          .write.mode("overwrite").parquet(out.toString)
        return out
      }
      // persisted for the shaping below: the keyed path re-reads the diff
      // for its rank + per-key counts, and the keyless path reads it twice
      // (one stability-scan job + the pairing) — without this each would
      // recompute the multiset diff from the changed files every time
      val diff = diff0.persist()
      try {
      val shaped = DeletionVectors.morKey(fs, d) match {
        case Some(k) if diff.columns.exists(_.equalsIgnoreCase(k)) =>
          // pair the two polarities by (key, occurrence#): occurrence rank
          // is deterministic (ordered by every data column), so duplicate
          // keys pair stably. A key's first min(#deletes, #inserts) rows
          // of EACH polarity re-type — the r14 form: the old membership
          // intersect (two exchanges + dedup) + rank equi-join computed
          // exactly the set {rank <= min(side counts)} (each side's ranks
          // are contiguous 1..count), so one per-key count aggregation
          // joined back decides membership with the same result; NULL
          // keys never re-type in either form (null-rejecting join).
          val dataCols = diff.columns.filter(_ != "_change").toSeq
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(k), col("_change")).orderBy(dataCols.map(col): _*)
          val tagged = diff.withColumn("_graft_rn", row_number().over(w))
          val cnts = diff.groupBy(col(k).as("_graft_pk"))
            .agg(org.apache.spark.sql.functions.least(
              org.apache.spark.sql.functions.sum(
                when(col("_change") === "delete", 1L).otherwise(0L)),
              org.apache.spark.sql.functions.sum(
                when(col("_change") === "insert", 1L).otherwise(0L))).as("_gm"))
            .where(col("_gm") > 0L)
          tagged.join(cnts, tagged(k) === cnts("_graft_pk"), "left")
            .withColumn("_change",
              when(col("_graft_rn") <= col("_gm"),
                when(col("_change") === "delete", lit("update_preimage"))
                  .otherwise(lit("update_postimage")))
                .otherwise(col("_change")))
            .drop("_graft_rn", "_graft_pk", "_gm")
        case _ =>
          // KEYLESS update images (r12): no declared row identity, so the
          // old→new correspondence is reconstructed from column content.
          // The UPDATE's untouched columns have IDENTICAL delete/insert
          // value multisets; pairing by (those stable columns,
          // occurrence#) is unambiguous exactly where each stable-group
          // has EQUAL delete and insert counts — such groups re-type into
          // pre/post pairs, everything else stays bare delete/insert (the
          // honest answer for genuine ambiguity). All-columns-stable
          // degenerates to rows EXCEPT ALL already cancelled — skip.
          val dataCols = diff.columns.filter(_ != "_change").toSeq
          // ONE aggregation decides everything the shaping needs (r13 —
          // replaces two isEmpty probes + two jobs PER COLUMN): unpivot
          // each row into (column, canonical-value) pairs and count the
          // two polarities per group; a column is STABLE iff every one of
          // its value-groups has equal delete/insert counts, and the
          // per-side totals fall out of the same result (a pure DELETE or
          // append-shaped rewrite pairs nothing). Values canonicalize via
          // to_json(struct(v)) — injective per column for atomic types
          // (one column = one type) and well-defined for nested ones; the
          // one divergence from exceptAll-equality is -0.0 vs 0.0, which
          // to_json distinguishes — the CONSERVATIVE direction (a column
          // demoted to unstable just means those rows stay bare
          // delete/insert, the honest-ambiguity fallback).
          import org.apache.spark.sql.functions.{explode, map => fmap, max => fmax,
            struct, sum => fsum, to_json}
          val stats =
            if (dataCols.isEmpty) Array.empty[org.apache.spark.sql.Row]
            else {
              val kv = dataCols.flatMap(c => Seq(lit(c), to_json(struct(col(c).as("v")))))
              diff.select(col("_change"), explode(fmap(kv: _*)).as(Seq("_gc", "_gv")))
                .groupBy("_gc", "_gv")
                .agg(fsum(when(col("_change") === "delete", 1L).otherwise(0L)).as("_gd"),
                  fsum(when(col("_change") === "insert", 1L).otherwise(0L)).as("_gi"))
                .groupBy("_gc")
                .agg(fmax(when(col("_gd") =!= col("_gi"), 1).otherwise(0)).as("_bad"),
                  fsum(col("_gd")).as("_gdt"), fsum(col("_gi")).as("_git"))
                .collect()
            }
          val pairable = stats.nonEmpty &&
            stats.exists(_.getLong(2) > 0L) && stats.exists(_.getLong(3) > 0L)
          val stable =
            if (!pairable) Seq.empty
            else dataCols.filter(c => stats.exists(r =>
              r.getString(0) == c && r.getInt(1) == 0))
          if (stable.isEmpty || stable.size == dataCols.size) diff
          else {
            // A stable-value group re-types WHOLESALE iff its two sides
            // have equal cardinality (r14 opt): the old machinery ranked
            // rows within (stable, _change) by a window sort, intersected
            // (stable, rank) across the sides and semi-joined equal-max
            // groups — but with equal side counts the rank sets coincide
            // at 1..n, so membership is a property of the GROUP alone.
            // One per-group count aggregation + one equi-join (NULL stable
            // values still never pair — null-rejecting join, the
            // conservative direction) replaces the window sort, the
            // intersect's two exchanges, and the two max-rank aggregates.
            // Which delete pairs with which insert was always dropped from
            // the output (only `_change` is rewritten), so the rank itself
            // was dead weight.
            val eq = diff.groupBy(stable.map(col): _*)
              .agg(fsum(when(col("_change") === "delete", 1L).otherwise(0L)).as("_gd"),
                fsum(when(col("_change") === "insert", 1L).otherwise(0L)).as("_gi"))
              .where(col("_gd") === col("_gi"))
              .select(stable.map(c => col(c).as("_gs_" + c)): _*)
              .withColumn("_graft_paired", lit(true))
            val cond = stable.map(c => diff(c) === eq("_gs_" + c)).reduce(_ && _)
            diff.join(eq, cond, "left")
              .withColumn("_change",
                when(col("_graft_paired").isNotNull,
                  when(col("_change") === "delete", lit("update_preimage"))
                    .otherwise(lit("update_postimage")))
                  .otherwise(col("_change")))
              .select(dataCols.map(col) :+ col("_change"): _*)
          }
      }
      shaped
        .withColumnRenamed("_change", "_change_type")
        .withColumn("_commit_version", lit(v))
        .write.mode("overwrite").parquet(out.toString)
      out
      } finally { diff.unpersist(); () }
    }
  }

  /** Identity-paired row diff of a LINEAGE table between versions v-1 and
    * v: data columns + `_row_id` + `_change` (insert / delete /
    * update_preimage / update_postimage). Slice-cost — only files that
    * changed by NAME or (merge-on-read, r12) by DV-visibility are read;
    * each side reads under ITS version's deletion vectors, so a DV-only
    * delete surfaces as identity-keyed deletes and a MOR UPDATE (DV-delete
    * + preserved-id insert) pairs into pre/post images off the shared id.
    */
  private def lineageCdfDiff(spark: SparkSession, fs: FileSystem, d: Path,
      v: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, not, struct}
    def manifestOf(mv: Long): Option[Path] = GraftStagingCatalog.probeManifest(fs, d, mv)
    def state(mv: Long): (Set[String], Map[String, RowLineage.Entry]) =
      if (mv <= 0L) (Set.empty, Map.empty)
      else manifestOf(mv).map { mf =>
        val txt = readString(fs, mf)
        (GraftStagingCatalog.parseManifestFiles(txt).toSet, RowLineage.parse(txt)._1)
      }.getOrElse(throw new IllegalArgumentException(
        s"$d has no version $mv (vacuumed or never committed)"))
    val (fromF, fromE) = state(v - 1L)
    val (toF, toE) = state(v)
    val sFrom = GraftStagingCatalog.schemaAtVersion(fs, d, math.max(v - 1L, 1L))
    val sTo = GraftStagingCatalog.schemaAtVersion(fs, d, v)
    require(sFrom == sTo,
      s"row-level diff across a schema change is not comparable ($sFrom vs $sTo)")
    val declared = sTo.getOrElse(
      throw new IllegalStateException(s"$d has no declared schema"))
    val dataCols = declared.fieldNames.toSeq
    // merge-on-read: a DV-only commit changes visibility without changing
    // the file set — such files enter BOTH sides, each read under its
    // version's vectors (the rowLevelChangesAt rule, identity-paired here)
    val morKey = DeletionVectors.morKey(fs, d)
    val morPos = DeletionVectors.morPos(fs, d)
    def dvState(mv: Long): (Map[String, Set[Any]], DeletionVectors.PosDvs,
        Seq[DeletionVectors.KeyRuns]) =
      if (mv <= 0L || (morKey.isEmpty && !morPos))
        (Map.empty[String, Set[Any]], DeletionVectors.PosDvs.empty,
          Seq.empty[DeletionVectors.KeyRuns])
      else manifestOf(mv).map { mf =>
        (if (morKey.isDefined) DeletionVectors.dvMapAt(fs, d, mf)
         else Map.empty[String, Set[Any]],
          if (morPos) DeletionVectors.posMapAt(fs, d, mf)
          else DeletionVectors.PosDvs.empty,
          if (morKey.isDefined) DeletionVectors.keyRunsAt(fs, d, mf)
          else Seq.empty[DeletionVectors.KeyRuns])
      }.getOrElse((Map.empty[String, Set[Any]], DeletionVectors.PosDvs.empty,
        Seq.empty[DeletionVectors.KeyRuns]))
    val (dvFrom, posFrom, krFrom) = dvState(v - 1L)
    val (dvTo, posTo, krTo) = dvState(v)
    val (krFromState, krToState) =
      (DeletionVectors.keyRunState(krFrom), DeletionVectors.keyRunState(krTo))
    val dvChanged = (fromF intersect toF).filter(f =>
      dvFrom.getOrElse(f, Set.empty) != dvTo.getOrElse(f, Set.empty) ||
        posFrom.stateOf(f) != posTo.stateOf(f) ||
        krFromState.getOrElse(f, Set.empty) != krToState.getOrElse(f, Set.empty))
    def applyDvsOf(fls: Set[String], dv: Map[String, Set[Any]],
        pos: DeletionVectors.PosDvs,
        krs: Seq[DeletionVectors.KeyRuns]): DataFrame => DataFrame = morKey match {
      case Some(k) =>
        df => DeletionVectors.applyKeyRunsToRead(
          DeletionVectors.applyToRead(df, k, dv.filter { case (f, _) => fls(f) }),
          k, krs.map(kr => kr.copy(files = kr.files.filter(fls))))
      case None if morPos =>
        df => DeletionVectors.applyPosToRead(df, pos.filterFiles(fls))
      case None => identity
    }
    val oldFiles = (fromF -- toF) ++ dvChanged
    val newFiles = (toF -- fromF) ++ dvChanged
    val olds = RowLineage.readWithIds(spark, d, oldFiles.toSeq.sorted,
      declared, fromE, applyDvs = applyDvsOf(oldFiles, dvFrom, posFrom, krFrom))
    val news = RowLineage.readWithIds(spark, d, newFiles.toSeq.sorted,
      declared, toE, applyDvs = applyDvsOf(newFiles, dvTo, posTo, krTo))
    // ONE full-outer join on the id decides every case (r14 opt — the old
    // form ran five joins: two anti for inserts/deletes, one inner for
    // changed ids, two semi for the pre/post images, re-reading each side
    // up to three times): id only on the new side → insert, only on the
    // old side → delete, both sides with identical data (the
    // rewritten-but-untouched remainder) → cancels, both sides with
    // differing data → a pre/post image PAIR sharing the id (emitted via
    // a 2-element generate). Ids are unique per side, so the join never
    // multiplies rows.
    val o = olds.alias("__gco"); val n = news.alias("__gcn")
    val oid = col("__gco._row_id"); val nid = col("__gcn._row_id")
    def rowOf(side: String, change: String) = struct(
      dataCols.map(c => col(s"$side.$c").as(c)) :+
        col(s"$side._row_id").as("_row_id") :+ lit(change).as("_change"): _*)
    import org.apache.spark.sql.functions.{array, explode, when => fwhen}
    o.join(n, oid === nid, "full_outer")
      .where(oid.isNull || nid.isNull ||
        not(struct(dataCols.map(c => col(s"__gco.$c")): _*) <=>
          struct(dataCols.map(c => col(s"__gcn.$c")): _*)))
      .select(explode(
        fwhen(oid.isNull, array(rowOf("__gcn", "insert")))
          .when(nid.isNull, array(rowOf("__gco", "delete")))
          .otherwise(array(rowOf("__gco", "update_preimage"),
            rowOf("__gcn", "update_postimage")))).as("_gr"))
      .select(dataCols.map(c => col(s"_gr.$c")) :+
        col("_gr._row_id").as("_row_id") :+ col("_gr._change").as("_change"): _*)
  }

  // ---- zone maps (file-level min/max data skipping) ----------------------
  //
  // The object-store answer to "don't read what can't match": per-file
  // min/max statistics harvested from the parquet FOOTERS (a metadata-only
  // positional read — the same access pattern the reference's
  // CephRgwInputStream.read(position,...) exists to make cheap,
  // CephRgwInputStream.java:103-120), persisted in a `_graft_stats.tsv`
  // sidecar, and consulted at read time to skip whole files whose
  // [min,max] range cannot intersect the predicate. File-granular skipping
  // sits ABOVE the row-group skipping Spark's parquet reader already does
  // (FsParitySpec proves that layer): at 100 TB it is the difference
  // between listing-and-opening every object and touching only the
  // partitions of the keyspace the query asks for. Files are immutable, so
  // stats never go stale; ANALYZE is incremental (only files without
  // recorded stats are footer-read) but REWRITES the sidecar from the
  // merged map each run — no duplicate lines, and entries for files no
  // retained version references are dropped (VACUUM trims too), so the
  // sidecar stays proportional to the live file count. The sidecar is an
  // advisory CACHE, not a commit: losing it (or a torn write) only costs
  // pruning until the next ANALYZE, never correctness — which is why a
  // plain overwrite is acceptable where manifests demand create-exclusive.

  private val StatsSidecar = "_graft_stats.tsv"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** (file, column) -> range, from the stats sidecar. Tolerates torn or
    * legacy lines (4-field = long-typed; 5-field = pre-null-count) by
    * skipping what fails to parse — advisory cache semantics.
    */
  private[catalog] def readStatsFor(fs: FileSystem, d: Path): Map[(String, String), ZStat] = {
    val f = new Path(d, StatsSidecar)
    if (!isFile(fs, f)) Map.empty
    else readString(fs, f).split('\n').toIndexedSeq.filter(_.nonEmpty).flatMap { line =>
      try line.split("\t", 8).take(5) match {
        case Array(file, col, "L", mn, mx) => Some((file, col) -> LongZ(mn.toLong, mx.toLong))
        case Array(file, col, "D", mn, mx) =>
          Some((file, col) -> DoubleZ(mn.toDouble, mx.toDouble))
        case Array(file, col, "S", mn, mx) => Some((file, col) -> StringZ(dec(mn), dec(mx)))
        case Array(file, col, "N", _, _)   => Some((file, col) -> NoneZ)
        case Array(file, col, mn, mx)      => Some((file, col) -> LongZ(mn.toLong, mx.toLong))
        case _                             => None
      } catch { case _: RuntimeException => None }
    }.toMap
  }

  /** (file, column) -> (nullCount, rowCount), from the 7-field sidecar
    * lines (ANALYZE ≥ r8). Absent for legacy 5-field lines and when any
    * chunk's null count was unavailable — every consumer treats absence as
    * unknown (no IS NULL pruning, no all-rows-match proofs).
    */
  private[catalog] def readNullsFor(fs: FileSystem, d: Path): Map[(String, String), (Long, Long)] = {
    val f = new Path(d, StatsSidecar)
    if (!isFile(fs, f)) Map.empty
    else readString(fs, f).split('\n').toIndexedSeq.filter(_.nonEmpty).flatMap { line =>
      try line.split("\t", 8) match {
        case Array(file, col, _, _, _, nulls, total) if nulls != "-" =>
          Some((file, col) -> (nulls.toLong, total.toLong))
        case _ => None
      } catch { case _: RuntimeException => None }
    }.toMap
  }

  private def statLine(file: String, col: String, z: ZStat,
      nulls: Option[(Long, Long)]): String = {
    val range = z match {
      case LongZ(mn, mx)   => s"L\t$mn\t$mx"
      case DoubleZ(mn, mx) => s"D\t$mn\t$mx"
      case StringZ(mn, mx) => s"S\t${enc(mn)}\t${enc(mx)}"
      case NoneZ           => "N\t-\t-"
    }
    val nt = nulls.map { case (n, t) => s"$n\t$t" }.getOrElse("-\t-")
    s"$file\t$col\t$range\t$nt"
  }

  private[catalog] def writeStats(fs: FileSystem, d: Path,
      stats: Map[(String, String), ZStat],
      nulls: Map[(String, String), (Long, Long)]): Unit = {
    val body = stats.toSeq.sortBy { case ((f, c), _) => (f, c) }
      .map { case ((f, c), z) => statLine(f, c, z, nulls.get((f, c))) }
    if (body.isEmpty) fs.delete(new Path(d, StatsSidecar), false)
    else writeString(fs, new Path(d, StatsSidecar), body.mkString("", "\n", "\n"))
  }

  /** Files the CURRENT version reads (manifest-pinned when versioned). */
  private def currentFiles(fs: FileSystem, d: Path): Seq[String] =
    GraftStagingCatalog.headManifest(fs, d)
      .map { case (_, mf) => manifestFiles(fs, mf) }.getOrElse(dataFiles(fs, d))

  /** Harvest per-file min/max for `columns` from parquet footers — no data
    * pages are read. Covers integral, DATE (epoch days), TIMESTAMP
    * (normalized to micros), double/float, and string columns; a column
    * with no usable footer stats records a `NoneZ` marker so the file
    * counts as visited (the pruner keeps it conservatively). Incremental:
    * files already covered by the sidecar are skipped (files are
    * immutable); the sidecar is rewritten from the merged map and pruned
    * to files still on disk. Returns the number of files newly analyzed.
    */
  def analyze(spark: SparkSession, catalog: String, ns: String, table: String,
      columns: Seq[String]): Int = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    analyzeAt(spark, fs, d, columns)
  }

  /** AUTO-ANALYZE (the commit-hook face): tables created with
    * `'graft.auto-analyze'='c1[,c2…]'` extend their zone-map sidecars at
    * every append/overwrite/optimize commit, so pruning works from the
    * first query with no manual ANALYZE step — the freshness gap a 100 TB
    * ingest pipeline otherwise has to schedule around. Cost is bounded:
    * the harvest is incremental (only files without stats pay a footer
    * read — normally exactly this commit's files) and driver-side (no
    * Spark jobs). Row-level rewrites don't hook here; their outputs are
    * backfilled by the NEXT auto trigger, because the incremental harvest
    * covers every current file still missing stats, not just the
    * triggering commit's.
    */
  private[catalog] def autoAnalyze(spark: SparkSession, fs: FileSystem, d: Path): Unit = {
    val cols = GraftStagingCatalog.autoAnalyzeCols(fs, d)
    if (cols.nonEmpty) { analyzeAt(spark, fs, d, cols); () }
  }

  /** (fs, dir)-level core of [[analyze]] — also the auto-analyze hook. */
  private[catalog] def analyzeAt(spark: SparkSession, fs: FileSystem, d: Path,
      columns: Seq[String]): Int = synchronized {
    import org.apache.parquet.column.statistics.{BinaryStatistics, DoubleStatistics,
      FloatStatistics, IntStatistics, LongStatistics}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val existing = readStatsFor(fs, d)
    val existingNulls = readNullsFor(fs, d)
    val todo = currentFiles(fs, d)
      .filterNot(f => columns.forall(c => existing.contains((f, c))))
    val conf = spark.sessionState.newHadoopConf()
    val harvestedNulls = Map.newBuilder[(String, String), (Long, Long)]
    val harvested: Seq[((String, String), ZStat)] = todo.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(d, f), conf))
      try {
        val byCol = reader.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        columns.map { c =>
          val chunks = byCol.getOrElse(c, Seq.empty)
          // null/row counts power IS [NOT] NULL pruning and the
          // metadata-only all-rows-match DELETE: recorded only when EVERY
          // chunk reports them (same completeness gate as ranges)
          if (chunks.nonEmpty && chunks.forall { ch =>
              val s = ch.getStatistics; s != null && !s.isEmpty }) {
            harvestedNulls += ((f, c) ->
              (chunks.map(_.getStatistics.getNumNulls).sum, chunks.map(_.getValueCount).sum))
          }
          val tsUnit = chunks.headOption
            .map(_.getPrimitiveType.getLogicalTypeAnnotation).flatMap {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t.getUnit)
              case _ => None
            }
          // TIMESTAMP stats normalize to micros whatever the file's unit —
          // the sidecar then has ONE comparable scale per column
          def toMicros(v: Long): Long = tsUnit match {
            case Some(LogicalTypeAnnotation.TimeUnit.MILLIS) => v * 1000L
            case Some(LogicalTypeAnnotation.TimeUnit.NANOS)  => v / 1000L
            case _                                           => v
          }
          val ranges: Seq[ZStat] = chunks.map(_.getStatistics).collect {
            case s: LongStatistics if s.hasNonNullValue =>
              LongZ(toMicros(s.getMin), toMicros(s.getMax))
            case s: IntStatistics if s.hasNonNullValue =>
              LongZ(s.getMin.toLong, s.getMax.toLong)
            case s: DoubleStatistics if s.hasNonNullValue => DoubleZ(s.getMin, s.getMax)
            case s: FloatStatistics if s.hasNonNullValue =>
              DoubleZ(s.getMin.toDouble, s.getMax.toDouble)
            case s: BinaryStatistics if s.hasNonNullValue &&
                chunks.head.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              StringZ(s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
          }.toIndexedSeq
          // SOUNDNESS GATE: the merged [min,max] must bound EVERY row in the
          // file, so every column chunk has to account for itself — either
          // it contributed a range above, or it is provably all-null (null
          // rows can never satisfy a range predicate, so they need no
          // bound). Parquet silently drops binary min/max above its stats
          // size cap; a file where one chunk lost its stats while another
          // kept them would otherwise get a range that does NOT cover all
          // rows, and pruning on it would drop matching rows.
          val covered = chunks.count { ch =>
            val s = ch.getStatistics
            s != null && !s.isEmpty &&
              (s.hasNonNullValue || s.getNumNulls == ch.getValueCount)
          }
          val merged: ZStat =
            if (covered != chunks.size) NoneZ
            else ranges.reduceOption[ZStat] {
              case (LongZ(a, b), LongZ(c, e))     => LongZ(math.min(a, c), math.max(b, e))
              case (DoubleZ(a, b), DoubleZ(c, e)) => DoubleZ(math.min(a, c), math.max(b, e))
              case (StringZ(a, b), StringZ(c, e)) =>
                // parquet orders binary stats by UNSIGNED UTF-8 bytes; Java
                // String `<` is UTF-16 code-unit order and disagrees above
                // the BMP — merge in the footer's own order
                StringZ(if (ZoneMapPrunedScan.utf8Cmp(a, c) <= 0) a else c,
                  if (ZoneMapPrunedScan.utf8Cmp(b, e) >= 0) b else e)
              case _                              => NoneZ
            }.getOrElse(NoneZ)
          (f, c) -> merged
        }
      } finally reader.close()
    }
    // rewrite (not append): merged map, restricted to files still on disk —
    // reclaimed files' entries drop out here and in vacuum
    val onDisk = dataFiles(fs, d).toSet
    val merged = (existing ++ harvested).filter { case ((f, _), _) => onDisk(f) }
    val mergedNulls = (existingNulls ++ harvestedNulls.result())
      .filter { case ((f, _), _) => onDisk(f) }
    if (harvested.nonEmpty || merged.size != existing.size)
      writeStats(fs, d, merged, mergedNulls)
    todo.size
  }

  /** Zone-map-pruned scan: read only current files whose recorded
    * [min,max] on `column` intersects [lo,hi] (files without stats are
    * read conservatively), then apply the row-level predicate on top —
    * pruning is file-granular, it never substitutes for the filter.
    * For TIMESTAMP columns `lo`/`hi` are MICROSECONDS since the epoch
    * (the sidecar's normalized scale). Returns (dataframe, filesCurrent,
    * filesRead).
    */
  def prunedScan(spark: SparkSession, catalog: String, ns: String, table: String,
      column: String, lo: Long, hi: Long): (DataFrame, Int, Int) =
    prunedScan(spark, catalog, ns, table, Seq((column, lo, hi)))

  /** Conjunctive zone-map pruning: a file survives only if EVERY
    * predicate's [lo,hi] can intersect its recorded range — ranges compose
    * by AND, so two individually-weak predicates can together prune a file
    * (or everything) that neither alone could. All row-level predicates
    * still apply after the scan.
    */
  def prunedScan(spark: SparkSession, catalog: String, ns: String, table: String,
      preds: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    require(preds.nonEmpty, "prunedScan needs at least one predicate")
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val stats = readStatsFor(fs, d)
    val current = currentFiles(fs, d)
    val keep = current.filter { f =>
      preds.forall { case (column, lo, hi) =>
        stats.get((f, column)) match {
          case Some(LongZ(mn, mx))   => mx >= lo && mn <= hi
          case Some(DoubleZ(mn, mx)) => mx >= lo.toDouble && mn <= hi.toDouble
          case _                     => true // string/none/absent: conservative
        }
      }
    }
    val reader = spark.read
    declaredSchema(fs, d).foreach(reader.schema)
    val df =
      if (keep.isEmpty)
        reader.schema(declaredSchema(fs, d).getOrElse(
          spark.read.parquet(d.toString).schema)).parquet()
      else reader.parquet(keep.map(f => new Path(d, f).toString): _*)
    val cond = preds.map { case (c, lo, hi) =>
      df.schema.find(_.name == c).map(_.dataType) match {
        case Some(TimestampType) =>
          col(c) >= timestamp_micros(lit(lo)) && col(c) <= timestamp_micros(lit(hi))
        case _ => col(c) >= lo && col(c) <= hi
      }
    }.foldLeft(lit(true))(_ && _)
    (df.where(cond), current.size, keep.size)
  }

  /** DESCRIBE-HISTORY face: one row per retained version manifest —
    * (version, kind, n_files, batch_id). Timestamps are deliberately NOT
    * exposed here (wall-clock noise); they remain in the manifest for
    * `TIMESTAMP AS OF`. This is how an operator audits what happened to a
    * table: which commits were appends, which were maintenance rewrites,
    * which streaming batch each append belongs to.
    */
  def history(spark: SparkSession, catalog: String, ns: String,
      table: String): DataFrame = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val rows = versionManifests(fs, d).map { case (v, mf) =>
      val txt = readString(fs, mf)
      val bid = "\"batchId\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      val kind = "\"kind\":\"([a-z]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("commit")
      (v, kind, parseManifestFiles(txt).size.toLong, bid)
    }
    import spark.implicits._
    rows.toDF("version", "kind", "n_files", "batch_id")
  }

  /** Drop a column's zone-map entries (DROP/RENAME COLUMN takes the
    * stats with it — a renamed column re-ANALYZEs under its new name).
    */
  private[catalog] def dropColumnStats(fs: FileSystem, d: Path, column: String): Unit = {
    val stats = readStatsFor(fs, d)
    val live = stats.filter { case ((_, c), _) => !c.equalsIgnoreCase(column) }
    if (live.size != stats.size)
      writeStats(fs, d, live,
        readNullsFor(fs, d).filter { case ((_, c), _) => !c.equalsIgnoreCase(column) })
    val blooms = readBloomsFor(fs, d)
    val liveBlooms = blooms.filter { case ((_, c), _) => !c.equalsIgnoreCase(column) }
    if (liveBlooms.size != blooms.size) writeBlooms(fs, d, liveBlooms)
  }

  /** File names the CURRENT version reads — the public face of the
    * manifest, for operators/tests that assert carry-by-name behavior
    * (e.g. "this keyed UPDATE rewrote 1 of 8 files").
    */
  def currentFileNames(spark: SparkSession, catalog: String, ns: String,
      table: String): Seq[String] = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    currentFiles(fs, d)
  }

  /** File names a specific VERSION reads — currentFileNames pinned to a
    * manifest, for tests that assert per-commit layout properties (e.g.
    * "each append's files are range-disjoint on the sort key").
    */
  def filesAtVersion(spark: SparkSession, catalog: String, ns: String,
      table: String, version: Long): Seq[String] = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val mf = GraftStagingCatalog.probeManifest(fs, d, version).getOrElse(
      throw new IllegalArgumentException(s"$catalog.$ns.$table has no version $version"))
    manifestFiles(fs, mf)
  }

  /** TAG a version by name ([[GraftStagingCatalog.readTags]] semantics:
    * `VERSION AS OF '<name>'` resolves it; VACUUM exempts it from
    * retention until [[dropTag]]). Defaults to the current head. Returns
    * the pinned version. Names must not parse as versions — the one
    * namespace `VERSION AS OF` has to disambiguate in.
    */
  def tag(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String, version: Option[Long] = None): Long = {
    // name must be sidecar-safe (the tags sidecar is TSV — a tab or newline
    // in a name would corrupt EVERY tag's parse) and must not collide with
    // the version-number namespace `VERSION AS OF` disambiguates in
    require(name.matches("[\\w.-]+") && !name.matches("v?\\d+"),
      s"tag name '$name' must match [\\w.-]+ and not look like a version number")
    val (fs, d) = tableDir(spark, catalog, ns, table)
    // The whole validate+read+write sequence holds the catalog's manifest
    // monitor: writeTags alone being synchronized still loses one of two
    // concurrent read-modify-write tag() calls, and the manifest existence
    // check must not race a concurrent VACUUM (which derives its delete set
    // under this same monitor — a tag observed inside it is honored, a
    // version reclaimed inside it can no longer be tagged).
    GraftStagingCatalog.synchronized {
      val v = version.getOrElse(
        GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(
          throw new IllegalStateException(
            s"$catalog.$ns.$table has no committed versions to tag")))
      require(GraftStagingCatalog.probeManifest(fs, d, v).isDefined,
        s"$catalog.$ns.$table has no version $v to tag")
      GraftStagingCatalog.writeTags(fs, d, GraftStagingCatalog.readTags(fs, d) + (name -> v))
      v
    }
  }

  /** Drop a tag; the pinned version re-enters normal VACUUM retention.
    * Read-modify-write under the catalog monitor (same rationale as
    * [[tag]]): concurrent tag/drop_tag calls must not lose each other's
    * sidecar updates.
    */
  def dropTag(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String): Unit = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.synchronized {
      val tags = GraftStagingCatalog.readTags(fs, d)
      require(tags.contains(name), s"$catalog.$ns.$table has no tag '$name'")
      GraftStagingCatalog.writeTags(fs, d, tags - name)
    }
  }

  // ---- partition-spec evolution ------------------------------------------

  /** Split on TOP-LEVEL commas only — `bucket(8,k), days(ts)` is two
    * transforms, the comma inside `bucket(…)` is the transform's own.
    */
  private def splitSpecLines(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** PARTITION-SPEC EVOLUTION — re-declare the table's partition transforms
    * WITHOUT rewriting a byte (Iceberg's signature layout feature,
    * re-derived for the path-carried layout). The previous declaration is
    * RETIRED, not forgotten: files bedded under it stay in their old
    * directories and keep pruning through the retired spec (the per-file
    * path pruner judges each file by the spec family its path carries —
    * [[GraftStagingCatalog.partSpecsAll]]), while new layout work
    * (`optimize(partitionBy=…, strayOnly=true)`) beds ONLY post-evolution
    * files under the new spec at O(new data) cost. At 100 TB this is the
    * operation that lets a table switch from time-partitioned to
    * key-bucketed (or re-grain a bucket count) without the week-long
    * rewrite a physical re-partition would cost. An empty `spec` makes the
    * table unpartitioned (history still prunes the old families).
    */
  def setPartitionSpec(spark: SparkSession, catalog: String, ns: String, table: String,
      spec: String): Unit = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val schema = GraftStagingCatalog.declaredSchema(fs, d).getOrElse(
      spark.table(s"$catalog.$ns.$table").schema)
    // validate each transform against the declared schema NOW (a typo fails
    // the CALL, not the next OPTIMIZE) — the same rules CREATE enforces;
    // column case canonicalizes to the schema's spelling
    val rendered = splitSpecLines(spec).map { line =>
      val ps = GraftStagingCatalog.parsePartSpec(line)
      val f = schema.fields.find(_.name.equalsIgnoreCase(ps.col)).getOrElse(
        throw new IllegalArgumentException(
          s"set_partition_spec: column ${ps.col} is not in the table schema"))
      ps match {
        case GraftStagingCatalog.IdentityPart(_) =>
          GraftStagingCatalog.IdentityPart(f.name).render
        case GraftStagingCatalog.DaysPart(_) =>
          require(f.dataType == TimestampType ||
              f.dataType == org.apache.spark.sql.types.DateType,
            s"days() partition column ${f.name} must be TIMESTAMP or DATE, got ${f.dataType}")
          GraftStagingCatalog.DaysPart(f.name).render
        case GraftStagingCatalog.BucketPart(n, _) =>
          require(n > 0, s"bucket count must be positive, got $n")
          require(f.dataType == org.apache.spark.sql.types.IntegerType ||
              f.dataType == org.apache.spark.sql.types.LongType,
            s"bucket() partition column ${f.name} must be integral, got ${f.dataType}")
          GraftStagingCatalog.BucketPart(n, f.name).render
      }
    }
    // read-modify-write of BOTH sidecars under the catalog monitor (the
    // tag() rule: concurrent evolutions must not lose each other's history)
    GraftStagingCatalog.synchronized {
      val cur = GraftStagingCatalog.partitionCols(fs, d)
      if (cur != rendered) {
        // a re-adopted spec leaves history (it is current again); everything
        // else the table ever declared stays retired for pruning
        val retired = (GraftStagingCatalog.retiredPartitionCols(fs, d) ++ cur)
          .distinct.filterNot(rendered.contains)
        val prevP = new Path(d, GraftStagingCatalog.PartitionPrevSidecar)
        if (retired.isEmpty) { fs.delete(prevP, false); () }
        else GraftStagingCatalog.writeString(fs, prevP, retired.mkString("\n"))
        val curP = new Path(d, GraftStagingCatalog.PartitionSidecar)
        if (rendered.isEmpty) { fs.delete(curP, false); () }
        else GraftStagingCatalog.writeString(fs, curP, rendered.mkString("\n"))
      }
    }
  }

  // ---- writable branches (write-audit-publish) --------------------------

  /** FORK a branch at the table's current head (version 0 = empty table is
    * allowed — a WAP pipeline may branch before first ingest). Returns the
    * fork version. Under the catalog monitor: the fork point must be a
    * version VACUUM cannot reclaim while the branch lives, and concurrent
    * branch() calls must not lose registry updates (the tag() rule).
    */
  def branch(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String): Long = {
    require(name.matches("[\\w.-]+"),
      s"branch name '$name' must match [\\w.-]+ (it becomes a directory and a TSV line)")
    val (fs, d) = tableDir(spark, catalog, ns, table)
    // lineage tables fork safely since r12: every commit (main or branch)
    // allocates id bases at or above the max watermark across ALL logs
    // ([[GraftStagingCatalog.lineageFloor]]), publish fast-forwards branch
    // vectors verbatim, and rebase re-anchors carried bases alongside files
    GraftStagingCatalog.synchronized {
      val branches = GraftStagingCatalog.readBranches(fs, d)
      require(!branches.contains(name), s"$catalog.$ns.$table already has branch '$name'")
      val fork = GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L)
      GraftStagingCatalog.writeBranches(fs, d, branches + (name -> fork))
      fs.mkdirs(GraftStagingCatalog.branchLogDir(d, name))
      fork
    }
  }

  /** PUBLISH a branch: fast-forward main onto the branch's commits. Legal
    * exactly when main still stands at the branch's fork version (checked —
    * and the copy performed — under the manifest monitor; a main that
    * advanced since the fork is a CONFLICT: the branch's snapshots were
    * derived from a superseded base, fast-forwarding would silently drop
    * main's newer commits). Copying manifests moves ZERO data bytes: branch
    * data files already live in the table dir. Returns the new main head.
    */
  def publish(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String): Long = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.synchronized {
      val branches = GraftStagingCatalog.readBranches(fs, d)
      val fork = branches.getOrElse(name,
        throw new IllegalArgumentException(s"$catalog.$ns.$table has no branch '$name'"))
      val mainHead = GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L)
      if (mainHead != fork)
        throw new java.util.ConcurrentModificationException(
          s"publish conflict on $catalog.$ns.$table: branch '$name' forked at version " +
            s"$fork but main is now at $mainHead — a commit landed on main since the " +
            "fork; re-branch from the current head and re-apply (or drop the branch)")
      val bms = GraftStagingCatalog.branchManifests(fs, d, name)
      bms.foreach { case (v, mf) =>
        if (!GraftStagingCatalog.tryCreateExclusive(fs,
            GraftStagingCatalog.manifestPath(d, v), readString(fs, mf)))
          throw new java.util.ConcurrentModificationException(
            s"publish conflict on $catalog.$ns.$table: version $v already exists on main")
      }
      // the published head is main's head now — checkpoint it (bounded walk)
      bms.lastOption.foreach { case (v, mf) =>
        GraftStagingCatalog.writeCheckpoint(fs, d, v,
          GraftStagingCatalog.manifestFiles(fs, mf),
          GraftStagingCatalog.manifestDvs(fs, mf),
          GraftStagingCatalog.committedBatchIds(fs, d),
          GraftStagingCatalog.assembleHistory(fs, d))
      }
      fs.delete(GraftStagingCatalog.branchLogDir(d, name), true)
      GraftStagingCatalog.writeBranches(fs, d, branches - name)
      bms.lastOption.map(_._1).getOrElse(fork)
    }
  }

  /** REBASE a stranded branch onto the current main head. `publish` is
    * deliberately fast-forward-only (a main that advanced since the fork
    * makes the branch's SNAPSHOTS stale — copying them would silently drop
    * main's newer commits), so without this a single main commit after the
    * fork permanently stranded a WAP branch. Rebase is the retry path:
    * it re-derives each branch commit as a DELTA against its predecessor
    * (added/removed files, added/removed DV sidecars — manifests are full
    * snapshots, so the delta is two set differences), checks the deltas
    * are SERIALIZABLE over main's post-fork changes at file granularity,
    * and replays them as fresh branch snapshots computed from MAIN's head
    * state, renumbered `mainHead+1…`. The registry re-anchors the fork at
    * the main head, and the existing fast-forward `publish` applies.
    *
    * Conflict rules (any hit throws; the always-correct fallback is
    * re-branch + re-apply, exactly what publish's error message says):
    *  - a file the branch REMOVED (rewrote via branch DML) is no longer in
    *    main's head — both sides rewrote it; replaying the branch's version
    *    would silently drop main's outcome;
    *  - a branch-added DV targets a fork file main has since removed — the
    *    deletes were computed against rows main already rewrote away;
    *  - main added a DV to a file the branch removed — the branch's rewrite
    *    of that file predates main's deletes and would resurrect them;
    *  - (degenerate) a branch-added file NAME collides with a main file.
    *
    * Pure appends on both sides always rebase cleanly — the Iceberg
    * cherry-pick guarantee — and main-side OPTIMIZE never conflicts with a
    * branch append: the replay starts from main's compacted file set and
    * layers the branch's new files on top. Returns the new fork version
    * (= main's head at rebase time).
    */
  def rebase(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String): Long = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.synchronized {
      val branches = GraftStagingCatalog.readBranches(fs, d)
      val fork = branches.getOrElse(name,
        throw new IllegalArgumentException(s"$catalog.$ns.$table has no branch '$name'"))
      val mainHead = GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L)
      if (mainHead == fork) fork // already based — publish will fast-forward
      else {
        def state(v: Long): (Set[String], Set[String]) =
          if (v == 0L) (Set.empty, Set.empty)
          else {
            val mf = GraftStagingCatalog.probeManifest(fs, d, v).getOrElse(
              throw new IllegalStateException(
                s"rebase: version $v of $catalog.$ns.$table is gone (VACUUMed?)"))
            (GraftStagingCatalog.manifestFiles(fs, mf).toSet,
              GraftStagingCatalog.manifestDvs(fs, mf).toSet)
          }
        val (forkFiles, forkDvs) = state(fork)
        val (mainFiles, mainDvs) = state(mainHead)
        val mainRemoved = forkFiles -- mainFiles
        // per-commit deltas, oldest first; kind/batchId carry verbatim so
        // change-feed consumers and the exactly-once ledger see the same
        // commit identities after the replay. Lineage tables also carry
        // each manifest's rowIds vector + watermark: the replay re-anchors
        // id bases the way it re-anchors files (branch files keep their
        // branch-allocated bases — globally unique by the allocation floor)
        final case class Delta(kind: String, batchId: Option[Long],
          addF: Set[String], remF: Set[String], addDv: Set[String], remDv: Set[String],
          rowIds: Map[String, RowLineage.Entry], next: Long)
        var prevF = forkFiles; var prevDv = forkDvs
        val deltas = GraftStagingCatalog.branchManifests(fs, d, name).map { case (_, mf) =>
          val txt = readString(fs, mf)
          val fset = GraftStagingCatalog.parseManifestFiles(txt).toSet
          val dvset = GraftStagingCatalog.parseArray(txt, "dvs").toSet
          val kind = "\"kind\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
            .map(_.group(1)).getOrElse("commit")
          val bid = "\"batchId\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
          val (rids, rnext) = RowLineage.parse(txt)
          val dl = Delta(kind, bid, fset -- prevF, prevF -- fset,
            dvset -- prevDv, prevDv -- dvset, rids, rnext)
          prevF = fset; prevDv = dvset; dl
        }
        def dvTargets(names: Set[String]): Set[String] = names.flatMap { n =>
          DeletionVectors.loadDvs(fs, d, Seq(n)).keySet ++
            DeletionVectors.loadPosDvs(fs, d, Seq(n)).coveredFiles ++
            DeletionVectors.loadKeyRuns(fs, d, Seq(n)).flatMap(_.files) // r14
        }
        val branchRemoved = deltas.iterator.flatMap(_.remF).toSet & forkFiles
        def conflict(what: String): Nothing =
          throw new java.util.ConcurrentModificationException(
            s"rebase conflict on $catalog.$ns.$table branch '$name': $what — " +
              "re-branch from the current head and re-apply (or drop the branch)")
        if ((branchRemoved & mainRemoved).nonEmpty)
          conflict(s"both the branch and main rewrote " +
            s"${(branchRemoved & mainRemoved).toSeq.sorted.take(3).mkString(", ")}")
        val branchAdds = deltas.iterator.flatMap(_.addF).toSet
        if ((branchAdds & mainFiles).nonEmpty)
          conflict(s"branch file name collides with a main file: " +
            s"${(branchAdds & mainFiles).head}")
        val branchDvTargets = dvTargets(deltas.iterator.flatMap(_.addDv).toSet) & forkFiles
        if ((branchDvTargets & mainRemoved).nonEmpty)
          conflict(s"a branch delete targets ${(branchDvTargets & mainRemoved).head}, " +
            "which main has since rewritten")
        val mainDvTargets = dvTargets(mainDvs -- forkDvs)
        if ((mainDvTargets & branchRemoved).nonEmpty)
          conflict(s"main deleted rows of ${(mainDvTargets & branchRemoved).head}, " +
            "which the branch rewrote from the pre-delete state")
        // replay: each delta applied to the running state that STARTS at
        // main's head — snapshots renumbered mainHead+1…; zero data bytes
        // move (branch data files already live in the table dir). Lineage:
        // carried (main) files keep MAIN's bases, branch-added files keep
        // their BRANCH bases, and the watermark is the max of both logs —
        // the id twin of the file re-anchor.
        val lineageOn = RowLineage.enabled(fs, d)
        val (mainE, mainNext) =
          if (!lineageOn) (Map.empty[String, RowLineage.Entry], 0L)
          else if (mainHead == 0L) (Map.empty[String, RowLineage.Entry], 0L)
          else RowLineage.parse(readString(fs,
            GraftStagingCatalog.probeManifest(fs, d, mainHead).get))
        // CROSS-PROCESS id-range guard: the allocation floor serializes
        // main and branch commits on the catalog monitor, but two DRIVER
        // PROCESSES sharing a table dir write to different log files and
        // never couple — each side could hand out the same base range.
        // Rebase is the merge point where a collision would become two
        // live rows with one id, so refuse it loudly here (the publish
        // path is immune: it requires main AT the fork, whose vector is a
        // prefix of the branch's). The test must see EVERY base main
        // allocated since the fork, not just the head vector: a main-side
        // COW rewrite/OPTIMIZE retires a base from the vector while its
        // preserved ids live on in the successor's physical column, so
        // head-set membership alone would wave a branch reuse of the
        // retired slot straight into duplicate live `_row_id`s. Bases are
        // slot-aligned (`next + i·2^32`), so base equality IS range
        // overlap. Branch-ALLOCATED entries are exactly those at or above
        // the fork watermark (everything below was inherited); same-JVM
        // interleaved allocations stay disjoint by the shared floor and
        // pass untouched.
        if (lineageOn) {
          val forkNext =
            if (fork == 0L) 0L
            else RowLineage.parse(readString(fs,
              GraftStagingCatalog.probeManifest(fs, d, fork).getOrElse(
                throw new IllegalStateException(
                  s"rebase: fork version $fork of $catalog.$ns.$table is gone (VACUUMed?)"))))._2
          var missingMid = false
          val mainEverBases = ((fork + 1L) to mainHead).iterator.flatMap { v =>
            GraftStagingCatalog.probeManifest(fs, d, v) match {
              case Some(mf) =>
                RowLineage.parse(readString(fs, mf))._1.valuesIterator.map(_.base)
              case None => missingMid = true; Iterator.empty
            }
          }.toSet
          // a vacuumed intermediate manifest can hide a retired slot —
          // fall back to the conservative watermark test (refuse ANY
          // branch-allocated base below main's head watermark; over-refusal
          // is safe, the remedy is re-branch + re-apply)
          val clash = deltas.iterator.flatMap(_.rowIds.iterator).collectFirst {
            case (f, e) if e.base >= forkNext &&
              (mainEverBases(e.base) || (missingMid && e.base < mainNext)) => f
          }
          clash.foreach(f => conflict(
            s"row-id base of branch file $f collides with a main allocation " +
              "(concurrent multi-process commits on a forked lineage table)"))
        }
        var curF = mainFiles; var curDv = mainDvs
        var curE = mainE
        val replayed = deltas.zipWithIndex.map { case (dl, i) =>
          curF = curF ++ dl.addF -- dl.remF
          curDv = curDv ++ dl.addDv -- dl.remDv
          val rids =
            if (!lineageOn) None
            else {
              curE = (curE -- dl.remF) ++ dl.addF.iterator.map { f =>
                f -> dl.rowIds.getOrElse(f, throw new IllegalStateException(
                  s"rebase: branch file $f has no rowIds entry in its manifest"))
              }
              Some((RowLineage.renderVector(curE.view.filterKeys(curF).toMap),
                math.max(mainNext, dl.next)))
            }
          (mainHead + i + 1L, GraftStagingCatalog.manifestJson(
            curF.toSeq, dl.batchId, dl.kind, curDv.toSeq, rids))
        }
        val logDir = GraftStagingCatalog.branchLogDir(d, name)
        fs.delete(logDir, true)
        fs.mkdirs(logDir)
        replayed.foreach { case (v, json) =>
          GraftStagingCatalog.writeString(fs, new Path(logDir, s"v$v.json"), json)
        }
        GraftStagingCatalog.writeBranches(fs, d, branches + (name -> mainHead))
        mainHead
      }
    }
  }

  /** DROP a branch: the audit failed (or the experiment ended) — the branch
    * log vanishes, its commits' data files become unreferenced orphans, and
    * VACUUM reclaims them. Main never saw any of it: the WAP guarantee.
    */
  def dropBranch(spark: SparkSession, catalog: String, ns: String, table: String,
      name: String): Unit = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.synchronized {
      val branches = GraftStagingCatalog.readBranches(fs, d)
      require(branches.contains(name), s"$catalog.$ns.$table has no branch '$name'")
      fs.delete(GraftStagingCatalog.branchLogDir(d, name), true)
      GraftStagingCatalog.writeBranches(fs, d, branches - name)
    }
  }

  /** Read a row-lineage table WITH its stable `_row_id` column — resolved
    * `coalesce(materialized physical id, file base + row_index)` per
    * [[RowLineage]]. `asOf` pins a version: ids read under THAT version's
    * allocation vector, so a pinned snapshot sees pinned identities.
    * The scan stays a plain parquet files-read (full pushdown; the id
    * arithmetic is a broadcast map join + one projection).
    */
  def readLineage(spark: SparkSession, catalog: String, ns: String,
      table: String, asOf: Option[Long] = None): DataFrame = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    require(RowLineage.enabled(fs, d),
      s"$catalog.$ns.$table does not track row lineage " +
        "(create it with 'graft.row-lineage'='true')")
    val mf = asOf match {
      case Some(v) => GraftStagingCatalog.probeManifest(fs, d, v).getOrElse(
        throw new IllegalArgumentException(
          s"$catalog.$ns.$table has no version $v"))
      case None => GraftStagingCatalog.headManifest(fs, d).map(_._2).getOrElse(
        throw new IllegalStateException(s"$catalog.$ns.$table has no commits yet"))
    }
    val txt = readString(fs, mf)
    val files = GraftStagingCatalog.parseManifestFiles(txt)
    val (entries, _) = RowLineage.parse(txt)
    val schema = declaredSchema(fs, d).getOrElse(
      throw new IllegalStateException(s"$catalog.$ns.$table has no declared schema"))
    // merge-on-read (r12): suppress the version's DV-deleted rows before
    // resolving ids — the same filter-then-resolve order the DSv2 combined
    // reader uses
    val applyDvs: DataFrame => DataFrame = DeletionVectors.morKey(fs, d) match {
      case Some(k) =>
        val dv = DeletionVectors.dvMapAt(fs, d, mf)
        val krs = DeletionVectors.keyRunsAt(fs, d, mf)
        df => DeletionVectors.applyKeyRunsToRead(
          DeletionVectors.applyToRead(df, k, dv), k, krs)
      case None if DeletionVectors.morPos(fs, d) =>
        val pos = DeletionVectors.posMapAt(fs, d, mf)
        df => DeletionVectors.applyPosToRead(df, pos)
      case None => identity
    }
    RowLineage.readWithIds(spark, d, files, schema, entries, applyDvs = applyDvs)
  }

  /** Live branches: name → (fork version, branch head version). */
  def branches(spark: SparkSession, catalog: String, ns: String,
      table: String): Map[String, (Long, Long)] = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.readBranches(fs, d).map { case (n, fork) =>
      n -> (fork, GraftStagingCatalog.branchHead(fs, d, n).map(_._1).getOrElse(fork))
    }
  }

  /** Resolution-cost counters for a table: (full version-log listings,
    * single-manifest probes) since JVM start — the observable face of the
    * bounded-resolution contract (checkpoint pointer + forward probes must
    * keep the LISTING count flat on hot paths however long the log grows).
    */
  def resolutionCounters(spark: SparkSession, catalog: String, ns: String,
      table: String): (Long, Long) = {
    val (_, d) = tableDir(spark, catalog, ns, table)
    (GraftStagingCatalog.countFor(GraftStagingCatalog.fullLogListings, d),
      GraftStagingCatalog.countFor(GraftStagingCatalog.manifestProbes, d))
  }

  /** Current tags of a table, name → version. */
  def tags(spark: SparkSession, catalog: String, ns: String, table: String): Map[String, Long] = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.readTags(fs, d)
  }

  /** DESCRIBE-DETAIL snapshot: (version, nFiles, nBytes, partitionCols,
    * analyzedCols, nVersions) — the operator's one-call answer to "what is
    * this table right now": how big, laid out how, prunable on what, and
    * how much retained history VACUUM has to work with. Bytes come from
    * per-file `getFileStatus` (the reference's metadata op,
    * `AbstractFileHandlerReceiver.java:27-31`) over the CURRENT manifest's
    * files only — time-travel-only files don't count against the live size.
    */
  def detail(spark: SparkSession, catalog: String, ns: String,
      table: String): (Long, Long, Long, String, String, Long, Long) = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val manifests = versionManifests(fs, d)
    val v = manifests.lastOption.map(_._1).getOrElse(0L)
    val files = currentFiles(fs, d)
    val bytes = files.map { f =>
      try fs.getFileStatus(new Path(d, f)).getLen
      catch { case _: FileNotFoundException => 0L }
    }.sum
    val parts = GraftStagingCatalog.partitionCols(fs, d).mkString(",")
    val acols = readStatsFor(fs, d).keysIterator.map(_._2).toSeq.distinct.sorted.mkString(",")
    // consecutive commit-time auto-analyze failures (0 = healthy): the
    // harvest is best-effort, so this is where persistent breakage shows
    val aaFails: Long =
      Option(ZoneMapScan.autoAnalyzeFailures.get(d.toString)).map(_.longValue).getOrElse(0L)
    (v, files.size.toLong, bytes, parts, acols, manifests.size.toLong, aaFails)
  }

  // ---- per-file Bloom-filter sidecars (point-lookup pruning) -------------
  //
  // Zone maps answer RANGE questions; they are blind to point lookups on a
  // column whose values interleave across files (every file's [min,max]
  // spans the whole keyspace — e.g. any hash-distributed ingest). The Bloom
  // sidecar covers exactly that hole: per (file, column), a Bloom filter
  // over xxhash64 of the column's values (cast to string — one canonical
  // form across integer widths), built by an explicit `CALL bloom(...)`
  // pass and consulted for EqualTo / IN predicates. Blooms have NO false
  // negatives, so pruning on `mightContain == false` is sound; false
  // positives only over-keep. Same advisory-cache contract as the stats
  // sidecar: losing it costs pruning, never correctness. 100 TB shape: an
  // equality probe on a 10k-file table opens ZERO data files beyond the
  // ones that can hold the key — the lakehouse answer to the reference's
  // per-object read surface (open only the objects you must,
  // CephRgwFileSystem.java:104-120). The build here is one small job per
  // NEW file (incremental, streaming-batch friendly); a petabyte backfill
  // would group by `_metadata.file_path` in one pass instead.

  private val BloomSidecar = "_graft_bloom.tsv"

  private[catalog] def hasBloomSidecar(fs: FileSystem, d: Path): Boolean =
    isFile(fs, new Path(d, BloomSidecar))

  private[catalog] def readBloomsFor(fs: FileSystem, d: Path)
      : Map[(String, String), org.apache.spark.util.sketch.BloomFilter] = {
    val f = new Path(d, BloomSidecar)
    if (!isFile(fs, f)) Map.empty
    else readString(fs, f).split('\n').toIndexedSeq.filter(_.nonEmpty).flatMap { line =>
      try line.split("\t", 4) match {
        case Array(file, col, b64) =>
          val bytes = java.util.Base64.getDecoder.decode(b64)
          Some((file, col) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes)))
        case _ => None
      } catch { case _: RuntimeException => None } // torn line: advisory cache
    }.toMap
  }

  private[catalog] def writeBlooms(fs: FileSystem, d: Path,
      blooms: Map[(String, String), org.apache.spark.util.sketch.BloomFilter]): Unit = {
    val body = blooms.toSeq.sortBy { case ((f, c), _) => (f, c) }.map { case ((f, c), bf) =>
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      s"$f\t$c\t${java.util.Base64.getEncoder.encodeToString(bos.toByteArray)}"
    }
    if (body.isEmpty) fs.delete(new Path(d, BloomSidecar), false)
    else writeString(fs, new Path(d, BloomSidecar), body.mkString("", "\n", "\n"))
  }

  /** The one hash both sides share: executors insert
    * `xxhash64(cast(col AS string))` (codegen'd, seed 42); the planner
    * probes with the same expression evaluated over the literal.
    */
  private[catalog] def bloomHash(s: String): Long =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long]

  /** Build per-file Bloom filters for `columns` over every current file not
    * yet covered. Incremental like ANALYZE (files are immutable); the
    * sidecar is rewritten from the merged map, trimmed to on-disk files.
    * Returns the number of (file) builds performed. An empty/all-null file
    * gets an empty bloom — which prunes every probe, exactly right.
    */
  def analyzeBloom(spark: SparkSession, catalog: String, ns: String, table: String,
      columns: Seq[String], expectedItems: Long = 100000L,
      fpp: Double = 0.001): Int = synchronized {
    import org.apache.spark.util.sketch.BloomFilter
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val existing = readBloomsFor(fs, d)
    val todo = currentFiles(fs, d)
      .filterNot(f => columns.forall(c => existing.contains((f, c))))
    implicit val bfEnc: org.apache.spark.sql.Encoder[BloomFilter] =
      org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
    import org.apache.spark.sql.functions.{col, xxhash64}
    val harvested = todo.flatMap { f =>
      val df = spark.read.parquet(new Path(d, f).toString)
      columns.filterNot(c => existing.contains((f, c))).map { c =>
        import spark.implicits._
        val hashes = df.where(col(c).isNotNull)
          .select(xxhash64(col(c).cast("string")).as("h")).as[Long]
        val bf = hashes.mapPartitions { it =>
          val b = BloomFilter.create(expectedItems, fpp)
          it.foreach(b.putLong)
          Iterator(b)
        }.collect() // one sketch per partition of ONE file — bounded
          .reduceOption { (a, b) => a.mergeInPlace(b); a }
          .getOrElse(BloomFilter.create(expectedItems, fpp))
        (f, c) -> bf
      }
    }
    val onDisk = dataFiles(fs, d).toSet
    val merged = (existing ++ harvested).filter { case ((f, _), _) => onDisk(f) }
    if (harvested.nonEmpty || merged.size != existing.size) writeBlooms(fs, d, merged)
    todo.size
  }

  /** RESTORE: roll the table back to the file set of an earlier version —
    * METADATA-ONLY. Because data files are immutable and copy-on-write
    * keeps every superseded file on disk until VACUUM, "undo" is just a new
    * manifest (kind=restore) that references version `toVersion`'s exact
    * file list: no data is read, moved, or rewritten, the rollback itself
    * is versioned (history shows it, and a restore can be restored away),
    * and the optimistic `expectedBase` guard aborts if a concurrent commit
    * advances the head mid-restore. The one precondition is that VACUUM has
    * not reclaimed the target's files — checked file-by-file up front with
    * a loud error naming what's gone (restoring to a half-present version
    * would silently lose rows). Returns the new head version.
    */
  /** Resolve a tag name to its pinned version (the restore-to-tag face). */
  def resolveTag(spark: SparkSession, catalog: String, ns: String, table: String,
      tag: String): Long = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val tags = GraftStagingCatalog.readTags(fs, d)
    tags.getOrElse(tag, throw new IllegalArgumentException(
      s"$catalog.$ns.$table has no tag '$tag'" +
        (if (tags.isEmpty) " (no tags exist)"
         else s" (tags: ${tags.keys.toSeq.sorted.mkString(", ")})")))
  }

  def restore(spark: SparkSession, catalog: String, ns: String, table: String,
      toVersion: Long): Long = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val mf = GraftStagingCatalog.probeManifest(fs, d, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"$catalog.$ns.$table has no version $toVersion " +
          s"(available: ${versionManifests(fs, d).map(_._1).mkString(", ")})"))
    val files = manifestFiles(fs, mf)
    val dvs = GraftStagingCatalog.manifestDvs(fs, mf)
    val missing = files.filterNot(f => isFile(fs, new Path(d, f))) ++
      dvs.filterNot(n => isFile(fs, new Path(new Path(d, DeletionVectors.DvDir), n)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore $catalog.$ns.$table to version $toVersion: " +
          s"${missing.size} of its data/DV files were vacuumed (${missing.take(3).mkString(", ")}…)")
    val base = GraftStagingCatalog.headManifest(fs, d).map(_._1).getOrElse(0L)
    // the restored version reads under ITS deletion vectors, exactly as the
    // pinned time-travel read of that version does; lineage ids map from
    // the restore TARGET's manifest (rolled-back rows keep their pinned
    // identities) while the allocation watermark stays monotonic
    GraftStagingCatalog.writeExplicitManifest(fs, d, files,
      kind = "restore", expectedBase = Some(base), dvs = dvs,
      rowIdsFrom = Some(mf))
  }

  /** Deletion-vector sidecars active at the table's HEAD version (empty for
    * every non-MOR table and every post-OPTIMIZE version) — the test- and
    * operator-visible probe of merge-on-read state.
    */
  def activeDvs(spark: SparkSession, catalog: String, ns: String,
      table: String): Seq[String] = {
    val (fs, d) = tableDir(spark, catalog, ns, table)
    GraftStagingCatalog.headManifest(fs, d)
      .map { case (_, mf) => GraftStagingCatalog.manifestDvs(fs, mf) }
      .getOrElse(Seq.empty)
  }

  /** Keep only the last `retainLast` versions; delete every data file no
    * retained version references, and trim their zone-map sidecar entries.
    * Returns the deleted file names.
    */
  def vacuum(spark: SparkSession, catalog: String, ns: String, table: String,
      retainLast: Int = 1, olderThanMillis: Option[Long] = None): Seq[String] = {
    require(retainLast >= 1, "vacuum must retain at least the current version")
    require(olderThanMillis.forall(_ >= 0L), "older_than window must be non-negative")
    // TIME-BASED retention (the Delta/Iceberg `RETAIN n HOURS` surface):
    // with a window, any version committed AT OR AFTER (now - window) is
    // retention-exempt regardless of count — "keep a week of history"
    // composes with the count floor instead of fighting it. The horizon is
    // fixed ONCE here; the locked re-plan below reuses it so a version
    // cannot age out between planning and deletion.
    val horizon: Option[Long] = olderThanMillis.map(w => System.currentTimeMillis() - w)
    val (fs, d) = tableDir(spark, catalog, ns, table)
    val manifests = versionManifests(fs, d)
    // The reclamation plan (keep/drop/dead) is derived INSIDE the locked
    // section below. TAGGED versions are retention-exempt: a tag pins its
    // manifest, files, and DVs until dropped — retain_last governs only
    // untagged history. Deriving the plan under the lock (not merely
    // re-checking the head) also closes the tag race: a CALL tag that
    // lands before the lock is honored, because tags are read under the
    // same monitor their writer holds.
    def plan(): (Seq[(Long, Path)], Seq[(Long, Path)], Seq[String]) = {
      val ms = versionManifests(fs, d)
      val tagged = GraftStagingCatalog.readTags(fs, d).values.toSet
      // live branches pin their FORK version (branchHead falls back to it)
      // and every file their own commits reference — a WAP branch under
      // audit must survive main's retention until published or dropped
      val branchReg = GraftStagingCatalog.readBranches(fs, d)
      val branchForks = branchReg.values.filter(_ > 0L).toSet
      // commit-group pins are retention-exempt like tags: a reader resolves
      // member tables AT the group vector, so a vacuumed pin would brick
      // every group read (bounded: groups retain a fixed manifest window)
      val groupPinned = CommitGroups.pins(fs, d)
      val tail = ms.drop(math.max(0, ms.size - retainLast)).map(_._1).toSet
      // versions committed inside the time window survive regardless of count
      val recent: Set[Long] = horizon.fold(Set.empty[Long])(h =>
        ms.filter { case (_, f) => GraftStagingCatalog.commitMillis(fs, f) >= h }
          .map(_._1).toSet)
      val (keep, drop) = ms.partition { case (v, _) =>
        tail(v) || tagged(v) || branchForks(v) || groupPinned(v) || recent(v) }
      val branchFiles = branchReg.keys.flatMap(b =>
        GraftStagingCatalog.branchManifests(fs, d, b)
          .flatMap { case (_, mf) => manifestFiles(fs, mf) }).toSet
      // shallow-clone exemption (r14): files a live registered clone still
      // borrows survive source-side vacuum — see TableClone.cloneReferenced
      val referenced = keep.flatMap { case (_, f) => manifestFiles(fs, f) }.toSet ++
        branchFiles ++ TableClone.cloneReferenced(fs, d)
      (keep, drop, dataFiles(fs, d).filterNot(referenced))
    }
    // CONCURRENCY GUARD: a commit that lands after planning could reference
    // a data file the plan classified as dead (a RESTORE is the sharpest
    // case — it re-references old files), and a CALL tag could pin a
    // version the plan is about to drop. Re-checking alone is
    // check-then-act — a commit can still land BETWEEN the re-check and
    // the deletes — so the plan is RE-DERIVED and the delete loop runs
    // while HOLDING the manifest-writer monitor (the same `synchronized`
    // lock writeExplicitManifest / writeCommitManifest / writeTags
    // serialize on): within this JVM no manifest or tag can be written
    // while files are being reclaimed. The head re-check aborts if a
    // commit advanced the table since planning (the caller retries);
    // multi-JVM deployments additionally need the store-level
    // create-exclusive contract documented on tryCreateExclusive.
    val baseV = manifests.lastOption.map(_._1).getOrElse(0L)
    val dvDir = new Path(d, DeletionVectors.DvDir)
    val dead = GraftStagingCatalog.synchronized {
      val headNow = versionManifests(fs, d).lastOption.map(_._1).getOrElse(0L)
      if (headNow != baseV)
        throw new java.util.ConcurrentModificationException(
          s"vacuum of $catalog.$ns.$table planned against version $baseV but head " +
            s"is now $headNow — a concurrent commit landed; retry")
      val (keep, drop, deadNow) = plan()
      // deletion-vector retention mirrors data-file retention: a DV
      // sidecar lives while any retained manifest references it — branch
      // manifests included (branch appends carry the fork's DVs forward)
      val referencedDvs = keep.flatMap { case (_, f) =>
        GraftStagingCatalog.manifestDvs(fs, f) }.toSet ++
        GraftStagingCatalog.readBranches(fs, d).keys.flatMap(b =>
          GraftStagingCatalog.branchManifests(fs, d, b)
            .flatMap { case (_, mf) => GraftStagingCatalog.manifestDvs(fs, mf) })
      val deadDvs =
        (try fs.listStatus(dvDir).toIndexedSeq
         catch { case _: FileNotFoundException => Seq.empty })
          .filter(_.isFile).map(_.getPath.getName).filterNot(referencedDvs)
      // RE-CHECKPOINT at the head BEFORE reclaiming: the pointer must name
      // a version vacuum retains (a stale pointer only costs a listing
      // fallback, but a correct one keeps resolution bounded), and the
      // ledger snapshot must be taken while the dropped manifests still
      // exist — it is what carries their batchIds (exactly-once) past
      // their reclamation. A crash after this write and before the deletes
      // leaves a valid checkpoint over an un-reclaimed log — retryable.
      keep.lastOption.foreach { case (hv, hmf) =>
        GraftStagingCatalog.writeCheckpoint(fs, d, hv,
          manifestFiles(fs, hmf), GraftStagingCatalog.manifestDvs(fs, hmf),
          GraftStagingCatalog.committedBatchIds(fs, d),
          // exactly the retained set — reclaimed versions leave the history
          keep.map { case (kv, kmf) => kv -> GraftStagingCatalog.commitMillis(fs, kmf) })
      }
      drop.foreach { case (_, f) => fs.delete(f, false) }
      deadNow.foreach(f => fs.delete(new Path(d, f), false))
      deadDvs.foreach(n => fs.delete(new Path(dvDir, n), false))
      // CRASHED-REWRITE STAGING DIRS (r12): an OPTIMIZE/DELETE that died
      // mid-write leaves its underscore-prefixed work dir (`_optimize_*`,
      // `_delete_*`, or the parquet committer's `_temporary`) holding up
      // to a table's worth of bytes — invisible to data listings, so
      // without this they leak FOREVER. Reclaim those whose ENTIRE TREE is
      // older than `spark.graft.vacuum.temp-ttl-ms` (default 24 h).
      // Liveness is judged by the max modification time ACROSS the tree,
      // not the top-level dir: a long-running committer write mutates only
      // nested `_temporary/...` task files, so the top-level mtime froze
      // at job start — an in-flight rewrite's tree always has recent
      // leaves, a crashed one's tree is uniformly old. Only the three
      // crash-artifact prefixes are touched — `_graft_*` sidecars and the
      // version log never match.
      val tempTtl = spark.conf.getOption("spark.graft.vacuum.temp-ttl-ms")
        .map(_.toLong).getOrElse(86400000L)
      val tempHorizon = System.currentTimeMillis() - tempTtl
      def treeMaxMtime(p: Path): Long = {
        val st = fs.getFileStatus(p)
        val own = st.getModificationTime
        if (!st.isDirectory) own
        else (try fs.listStatus(p).toIndexedSeq
              catch { case _: FileNotFoundException => Seq.empty })
          .foldLeft(own)((m, c) => math.max(m, treeMaxMtime(c.getPath)))
      }
      (try fs.listStatus(d).toIndexedSeq
       catch { case _: FileNotFoundException => Seq.empty })
        .foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory &&
              (n.startsWith("_optimize_") || n.startsWith("_delete_") ||
                n == "_temporary") &&
              (try treeMaxMtime(st.getPath) < tempHorizon
               catch { case _: FileNotFoundException => false })) {
            fs.delete(st.getPath, true); ()
          }
        }
      // DISTRIBUTED run-sidecar dirs (r13): `dvr-<token>/` is reclaimable
      // once its descriptor `dvr-<token>.json` is referenced by no
      // retained manifest — either the descriptor died above, or it never
      // committed (a DELETE that crashed between the executor writes and
      // its manifest commit). The temp-dir TTL guards the in-flight case:
      // an active DELETE's dir has recent leaves, a dead one's tree is
      // uniformly old.
      (try fs.listStatus(dvDir).toIndexedSeq
       catch { case _: FileNotFoundException => Seq.empty })
        .foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory &&
              (n.startsWith("dvr-") || n.startsWith("dvk-")) &&
              !referencedDvs(n + ".json") &&
              (try treeMaxMtime(st.getPath) < tempHorizon
               catch { case _: FileNotFoundException => false })) {
            fs.delete(st.getPath, true); ()
          }
        }
      // row-id allocation leases (r13) the logs have overtaken: a lease
      // whose end is at or below the max watermark across every log was
      // consumed by its commit (or superseded by later allocations) — the
      // manifests now carry the authoritative floor. A crashed claim ABOVE
      // the watermark is kept only until its recorded TTL passes
      // (`<end>,<expiresAtMs>` since r14 — the claim and its commit share
      // one monitor-held call, so an expired-but-uncommitted lease has no
      // live owner; reclaiming it bounds lease-dir growth and so
      // per-commit leaseFloor cost, advice r13). Legacy `<end>`-only
      // leases carry no TTL and keep the r13 forever-retention; torn
      // (unparsable) leases are reclaimable once older than the temp
      // horizon (their owner never saw a successful claim), as are
      // orphaned `.tmp-lease-*` spool files from crashed claims.
      if (RowLineage.enabled(fs, d)) {
        val maxW = (GraftStagingCatalog.headManifest(fs, d).iterator ++
          GraftStagingCatalog.readBranches(fs, d).keysIterator.flatMap(b =>
            GraftStagingCatalog.branchHead(fs, d, b).iterator))
          .map { case (_, mf) => RowLineage.parse(readString(fs, mf))._2 }
          .foldLeft(0L)(math.max)
        val nowMs = System.currentTimeMillis()
        val ld = new Path(d, GraftStagingCatalog.RowLeaseDir)
        (try fs.listStatus(ld).toIndexedSeq
         catch { case _: FileNotFoundException => IndexedSeq.empty })
          .foreach { st =>
            val n = st.getPath.getName
            if (st.isFile && n.startsWith("lease-")) {
              val reclaim =
                (try readString(fs, st.getPath)
                 catch { case _: java.io.IOException => "" })
                  .trim.split(',') match {
                  case Array(e) if e.nonEmpty && e.forall(_.isDigit) =>
                    e.toLong <= maxW // legacy r13 content: overtaken only
                  case Array(e, exp) if e.forall(_.isDigit) &&
                      exp.forall(_.isDigit) =>
                    e.toLong <= maxW || exp.toLong < nowMs
                  case _ => // torn: owner never saw a successful claim
                    st.getModificationTime < tempHorizon
                }
              if (reclaim) { fs.delete(st.getPath, false); () }
            } else if (st.isFile && n.startsWith(".tmp-lease-") &&
                st.getModificationTime < tempHorizon) {
              fs.delete(st.getPath, false); ()
            }
          }
      }
      GraftStagingCatalog.dropStaleCheckpoints(fs, d)
      // change-data files of reclaimed versions are unreadable history
      val keptV = keep.map(_._1).toSet
      (try fs.listStatus(new Path(d, CdfDir)).toIndexedSeq
       catch { case _: FileNotFoundException => Seq.empty })
        .foreach { f =>
          f.getPath.getName match {
            case n if n.startsWith("v") &&
                n.drop(1).forall(_.isDigit) && !keptV(n.drop(1).toLong) =>
              fs.delete(f.getPath, true); ()
            case _ => ()
          }
        }
      deadNow
    }
    // trim reclaimed files out of the advisory stats cache
    val stats = readStatsFor(fs, d)
    val deadSet = dead.toSet
    val live = stats.filter { case ((f, _), _) => !deadSet(f) }
    if (live.size != stats.size)
      writeStats(fs, d, live,
        readNullsFor(fs, d).filter { case ((f, _), _) => !deadSet(f) })
    val blooms = readBloomsFor(fs, d)
    val liveBlooms = blooms.filter { case ((f, _), _) => !deadSet(f) }
    if (liveBlooms.size != blooms.size) writeBlooms(fs, d, liveBlooms)
    pruneSortOrderUnproven(fs, d)
    dead
  }

  /** Shrinks the sort-order provenance marker (r14 — see
    * [[GraftStagingCatalog.sortOrderUnproven]]) to the pre-declaration
    * files still REACHABLE through some readable version (main or branch
    * log — what RESTORE/rebase could resurrect). Called after VACUUM
    * reclaims manifests: once no readable version holds any listed file,
    * the marker itself goes (every servable snapshot postdates the
    * declaration), and the live-property trust the r13 advice flagged is
    * restored legitimately — by provenance, not assumption.
    */
  private[catalog] def pruneSortOrderUnproven(fs: FileSystem, d: Path): Unit =
    GraftStagingCatalog.sortOrderUnproven(fs, d).foreach { case (since, unproven) =>
      val cols = GraftStagingCatalog.sortOrderCols(fs, d)
      val reachable: Set[String] = GraftStagingCatalog.reachableFiles(fs, d)
      val remaining = unproven.filter(reachable)
      if (remaining.size != unproven.size)
        GraftStagingCatalog.writeSortOrderSidecar(fs, d, cols,
          if (remaining.isEmpty) None else Some((since, remaining)))
    }
}

/** DSv2 zone-map integration: wraps the native parquet `FileScanBuilder` so
  * a PLAIN `SELECT … WHERE` on an ANALYZEd staging-catalog table gets
  * file-level skipping with no side API. The wrapper delegates every
  * pushdown face to the real builder (filters, column pruning, footer
  * aggregates), then at `build()` reads the V1 filters the builder accepted
  * (`pushedDataFilters`) and drops planned splits whose per-file [min,max]
  * cannot satisfy them. Pruning only ever REMOVES files whose range proves
  * no row can match — the row-level filter still runs on everything read —
  * and anything unprovable (no stats, unknown filter shape, type mismatch)
  * is kept conservatively. Aggregate pushdown composes safely: parquet
  * only accepts a pushed aggregation when no data filters exist, and with
  * no filters nothing prunes.
  */
private[catalog] class ZoneMapScanBuilder(delegate: FileScanBuilder,
    stats: Map[(String, String), ZStat],
    nulls: Map[(String, String), (Long, Long)] = Map.empty,
    tableDir: String = "",
    blooms: () => Map[(String, String), org.apache.spark.util.sketch.BloomFilter] =
      () => Map.empty,
    dvKeys: Map[String, Set[Any]] = Map.empty,
    dvKeyField: Option[org.apache.spark.sql.types.StructField] = None,
    partSpecs: Seq[GraftStagingCatalog.PartSpec] = Seq.empty,
    streamOpts: Map[String, String] = Map.empty,
    posDvs: DeletionVectors.PosDvs = DeletionVectors.PosDvs.empty,
    posIdxCapable: Boolean = false,
    lineage: Option[Map[String, RowLineage.Entry]] = None,
    spjCandidate: Option[(GraftStagingCatalog.PartSpec,
      org.apache.spark.sql.types.DataType)] = None,
    sortedBy: Seq[String] = Nil,
    keyRuns: Seq[DeletionVectors.KeyRuns] = Nil)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private val dvActive =
    (dvKeys.nonEmpty || keyRuns.nonEmpty) && dvKeyField.isDefined
  private val posActive = posDvs.nonEmpty
  // the row-index position path: the delegate TABLE's schema carries
  // Spark's generated `_tmp_metadata_row_index` column, so positions come
  // from the parquet readers themselves (row-group-skip-aware) and pushdown
  // stays ON; without the capability (the row-level-op path, which pushes
  // nothing by design) positions fall back to the sequential counter
  private val posIdx = posActive && posIdxCapable

  // the conjuncts the query pushed at the scan, translated to V1 filters —
  // ANY of them can prune (zone maps apply the whole conjunction at file
  // granularity even when the parquet reader accepted only part of it)
  private var v1Filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // whether the query's pruned schema already carried the DV key column
  private var dvKeyAdded = false
  // the pruned schema the query asked for WITH `_row_id` in place — set
  // only when lineage is capable and the metadata column was requested
  private var lineageOut: Option[StructType] = None
  // the pruned schema WITH `_graft_file`/`_graft_pos` in place — the plain
  // position-row-id read (r13): keyless-MOR tables expose their (file,
  // ordinal) identity as metadata columns
  private var posMetaOut: Option[StructType] = None

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // POSITION-delete COUNTER mode (no row-index column available): nothing
    // is pushed to the parquet reader — row positions are sequential
    // ordinals of an UNFILTERED read, and pushed predicates would let
    // parquet skip row groups and desync the scan-side counter. Zone maps
    // still prune at FILE granularity, and Spark re-evaluates every data
    // filter above the scan regardless. The row-index path ([[posIdx]])
    // does NOT take this trade: ordinals are parquet-generated, so
    // predicates push and row groups skip.
    if (posActive && !posIdx) {
      v1Filters = filters.flatMap(ZoneMapScanBuilder.toV1).toArray; filters
    } else {
      val remaining = delegate.pushFilters(filters)
      v1Filters = filters.flatMap(ZoneMapScanBuilder.toV1).toArray
      remaining
    }
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    // ROW LINEAGE: `_row_id` requested (plain SQL, or a row-level rewrite's
    // required metadata attribute) — the delegate reads the query's data
    // columns plus the physical-id column (NULL where never materialized)
    // and the parquet-generated row index; the readers resolve
    // `coalesce(phys, base + row_index)` and project the carriers off.
    // Pushdown stays ON: row_index is generated correctly under row-group
    // skipping. On a merge-on-read table (r12) the same widened read also
    // serves the DV filter: equality mode additionally needs the key
    // column present, position mode reuses the row-index carrier — the
    // combined reader ([[RowLineage.MorLineageReaderFactory]]) filters
    // deleted rows BEFORE resolving ids.
    if (requiredSchema.fieldNames.exists(n =>
        n.equalsIgnoreCase(DeletionVectors.FileMetaColName) ||
          n.equalsIgnoreCase(DeletionVectors.PosMetaColName))) {
      // POSITION ROW ID requested (`_graft_file`/`_graft_pos`, r13): the
      // delegate reads the data columns plus the generated row index (and
      // the physical id when `_row_id` rides along on a lineage table);
      // the reader attributes each row to its one-file partition and
      // filters through the in-force position deletes. Pushdown stays ON
      // (ordinals are parquet-generated).
      posMetaOut = Some(requiredSchema)
      val metaNames = Set(DeletionVectors.FileMetaColName,
        DeletionVectors.PosMetaColName, RowLineage.MetaColName)
        .map(_.toLowerCase(java.util.Locale.ROOT))
      val wantsId = requiredSchema.fieldNames
        .exists(_.equalsIgnoreCase(RowLineage.MetaColName))
      val dataFields = requiredSchema.fields
        .filterNot(f => metaNames(f.name.toLowerCase(java.util.Locale.ROOT)))
      val carriers =
        if (wantsId) Seq(RowLineage.PhysField, DeletionVectors.RowIdxField)
        else Seq(DeletionVectors.RowIdxField)
      delegate.pruneColumns(StructType(dataFields ++ carriers))
    } else
    if (lineage.isDefined &&
        requiredSchema.fieldNames.exists(_.equalsIgnoreCase(RowLineage.MetaColName))) {
      lineageOut = Some(requiredSchema)
      val dataFields = requiredSchema.fields
        .filterNot(_.name.equalsIgnoreCase(RowLineage.MetaColName))
      val withKey =
        if (dvActive && !dataFields.exists(
            _.name.equalsIgnoreCase(dvKeyField.get.name)))
          dataFields :+ dvKeyField.get
        else dataFields
      delegate.pruneColumns(StructType(withKey :+ RowLineage.PhysField :+
        DeletionVectors.RowIdxField))
    } else
    // deletion vectors filter on the MOR key: if the query pruned it away,
    // widen the delegate's read schema by the key column — the readers
    // project it back off, so the reported scan schema is unchanged
    if (dvActive &&
        !requiredSchema.fieldNames.exists(_.equalsIgnoreCase(dvKeyField.get.name))) {
      dvKeyAdded = true
      delegate.pruneColumns(StructType(requiredSchema.fields :+ dvKeyField.get))
    } else if (posIdx) {
      // row-index position mode: always read the generated ordinal column
      // alongside the query's columns (projected off by the readers)
      delegate.pruneColumns(StructType(requiredSchema.fields :+
        DeletionVectors.RowIdxField))
    } else delegate.pruneColumns(requiredSchema)
  // footer/complete aggregate pushdown is UNSOUND under deletion vectors
  // (pushed counts/min/max would include DV-deleted rows) — disabled until
  // OPTIMIZE folds the DVs away
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !dvActive && !posActive && (delegate match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
      case _                             => false
    })
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val pushed = !dvActive && !posActive && (delegate match {
      case a: SupportsPushDownAggregates => a.pushAggregation(agg)
      case _                             => false
    })
    if (pushed) aggPushed = true
    pushed
  }

  // whether the delegate accepted a pushed aggregation — the scan's rows
  // are then footer aggregates, not data rows, so storage-partitioned
  // reporting (whose clustering references a DATA column) must stay off
  private var aggPushed = false

  /** DV scan info against the delegate's FINAL (table-ordered, possibly
    * widened) read schema — ordinals resolved here, on the driver.
    */
  protected def dvInfo(scan: Scan): Option[DeletionVectors.DvScanInfo] =
    if (!dvActive) None
    else {
      val wide = scan.readSchema()
      val key = dvKeyField.get
      val keyOrd = wide.fieldNames.indexWhere(_.equalsIgnoreCase(key.name))
      require(keyOrd >= 0, s"DV key ${key.name} missing from read schema $wide")
      val projectOrds =
        if (!dvKeyAdded) None
        else Some(wide.fields.indices.filter(_ != keyOrd).toArray)
      val out =
        if (projectOrds.isEmpty) wide
        else StructType(wide.fields.zipWithIndex.collect {
          case (f, i) if i != keyOrd => f
        })
      val keyBins = keyRuns.iterator
        .flatMap(kr => kr.files.iterator.map(f => f -> kr.spec))
        .toSeq.groupBy(_._1).map { case (f, sps) => f -> sps.map(_._2) }
      Some(DeletionVectors.DvScanInfo(dvKeys, keyOrd, key.dataType, out, projectOrds,
        keyBins))
    }

  /** Position-row-id info against the BUILT scan's wide schema (r13):
    * ordinals of the generated row index and (when `_row_id` rides along)
    * the physical id carrier, plus the requested-field mapping.
    */
  private def posMetaInfo(scan: Scan): Option[DeletionVectors.PosMetaInfo] =
    posMetaOut.map { requested =>
      val wide = scan.readSchema()
      val idxOrd = wide.fieldNames.indexWhere(_ == DeletionVectors.RowIdxField.name)
      require(idxOrd >= 0, s"row-index carrier missing from read schema $wide")
      val physOrd = wide.fieldNames.indexWhere(_ == RowLineage.PhysCol)
      val outOrds = requested.fields.map { f =>
        if (f.name.equalsIgnoreCase(DeletionVectors.FileMetaColName)) -1
        else if (f.name.equalsIgnoreCase(DeletionVectors.PosMetaColName)) -2
        else if (f.name.equalsIgnoreCase(RowLineage.MetaColName)) -3
        else {
          val o = wide.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
          require(o >= 0, s"requested column ${f.name} missing from read schema $wide")
          o
        }
      }
      DeletionVectors.PosMetaInfo(requested, physOrd, idxOrd, outOrds, wide,
        lineage.getOrElse(Map.empty))
    }

  /** Row-index position-delete info against the BUILT scan's schema — the
    * generated ordinal column's position resolved here (FileScanBuilder
    * reorders pruned columns to table-schema order, so trailing is never
    * assumed), plus the projection that strips it back off.
    */
  private def posIdxInfo(scan: Scan): Option[DeletionVectors.PosIdxInfo] =
    if (!posIdx) None
    else {
      val wide = scan.readSchema()
      val ord = wide.fieldNames.indexWhere(_ == DeletionVectors.RowIdxField.name)
      require(ord >= 0, s"row-index column missing from read schema $wide")
      val projectOrds = wide.fields.indices.filter(_ != ord).toArray
      val out = StructType(wide.fields.zipWithIndex.collect {
        case (f, i) if i != ord => f
      })
      Some(DeletionVectors.PosIdxInfo(ord, out, projectOrds))
    }

  /** Lineage resolution info against the BUILT scan's (table-ordered)
    * read schema: carrier ordinals + the requested-field mapping.
    */
  private def lineageInfo(scan: Scan)
      : Option[(RowLineage.LineageScanInfo, Map[String, RowLineage.Entry])] =
    lineageOut.map { requested =>
      val wide = scan.readSchema()
      val physOrd = wide.fieldNames.indexWhere(_ == RowLineage.PhysCol)
      val idxOrd = wide.fieldNames.indexWhere(_ == DeletionVectors.RowIdxField.name)
      require(physOrd >= 0 && idxOrd >= 0,
        s"lineage carriers missing from read schema $wide")
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

  override def build(): Scan = {
    val scan = delegate.build()
    val filters = v1Filters
    scan match {
      // ALWAYS wrapped (even filterless, where zone maps prune nothing):
      // the wrapper is also the scan's streaming face (toMicroBatchStream),
      // and a filter-free `readStream.table(…)` must reach it
      case f: FileScan =>
        // STORAGE-PARTITIONED JOIN eligibility: a pure data read (no DVs,
        // no position deletes, no lineage resolution, no pushed aggregate)
        // of a table whose CURRENT spec is a single bucket or integral
        // identity transform (threaded in by the table, which also rules
        // out a retired spec sharing the same layout prefix) whose source
        // column survives column pruning. The scan then OFFERS
        // KeyGroupedPartitioning — whether it actually reports depends on
        // every planned file living in a layout dir
        // ([[ZoneMapPrunedScan.spjGroups]]).
        val spj = spjCandidate.filter { case (sp, _) =>
          !dvActive && !posActive && lineage.isEmpty && !aggPushed &&
            posMetaOut.isEmpty &&
            scan.readSchema().fieldNames.exists(_.equalsIgnoreCase(sp.col))
        }
        new ZoneMapPrunedScan(f, stats, filters, nulls, tableDir, blooms, dvInfo(scan),
          partSpecs, streamOpts, posDvs, posIdxInfo(scan), lineageInfo(scan), spj,
          sortedBy, posMetaInfo(scan))
      case other => other
    }
  }
}

private[catalog] object ZoneMapScanBuilder {
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, EqualTo => CEq,
    Expression, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn,
    IsNotNull => CNotNull, IsNull => CIsNull, LessThan => CLt,
    LessThanOrEqual => CLe, Literal, Or => COr, StartsWith => CSw}
  import org.apache.spark.sql.sources._

  private def ext(l: Literal): Any =
    CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value)

  /** Catalyst → V1 translation for exactly the comparison shapes zone maps
    * can evaluate; anything else drops out (never pruned on). Literal
    * values convert from internal form (UTF8String, micros-long) to the
    * external types [[ZoneMapPrunedScan.canMatch]] understands.
    */
  private[catalog] def toV1(e: Expression): Option[Filter] = e match {
    case CEq(a: Attribute, l: Literal) => Some(EqualTo(a.name, ext(l)))
    case CEq(l: Literal, a: Attribute) => Some(EqualTo(a.name, ext(l)))
    case CGt(a: Attribute, l: Literal) => Some(GreaterThan(a.name, ext(l)))
    case CGt(l: Literal, a: Attribute) => Some(LessThan(a.name, ext(l)))
    case CGe(a: Attribute, l: Literal) => Some(GreaterThanOrEqual(a.name, ext(l)))
    case CGe(l: Literal, a: Attribute) => Some(LessThanOrEqual(a.name, ext(l)))
    case CLt(a: Attribute, l: Literal) => Some(LessThan(a.name, ext(l)))
    case CLt(l: Literal, a: Attribute) => Some(GreaterThan(a.name, ext(l)))
    case CLe(a: Attribute, l: Literal) => Some(LessThanOrEqual(a.name, ext(l)))
    case CLe(l: Literal, a: Attribute) => Some(GreaterThanOrEqual(a.name, ext(l)))
    case CIn(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      Some(In(a.name, vs.map(v => ext(v.asInstanceOf[Literal])).toArray))
    case CSw(a: Attribute, l: Literal) =>
      Some(StringStartsWith(a.name, String.valueOf(ext(l))))
    case CIsNull(a: Attribute)   => Some(IsNull(a.name))
    case CNotNull(a: Attribute)  => Some(IsNotNull(a.name))
    case CAnd(l, r) => for (lf <- toV1(l); rf <- toV1(r)) yield And(lf, rf)
    case COr(l, r)  => for (lf <- toV1(l); rf <- toV1(r)) yield Or(lf, rf)
    case _          => None
  }
}

/** Observability hook for the DSv2 zone-map path: records (filesKept,
  * filesTotal) of the most recent pruned planning, so specs and operators
  * can assert skipping happened without parsing plan strings.
  */
object ZoneMapScan {
  @volatile var lastPrune: Option[(Int, Int)] = None
  /** V1-filter strings the most recent ROW-LEVEL (UPDATE/MERGE/DELETE
    * fallback) scan harvested for group pruning — lets specs assert the
    * operation's condition actually reached the file-granular path.
    */
  @volatile var lastRowLevelFilters: Seq[String] = Seq.empty
  /** Runtime (dynamic-pruning) filters most recently delivered to a
    * row-level scan — proves the MERGE group-filter subquery fired.
    */
  @volatile var lastRuntimeGroupFilters: Seq[String] = Seq.empty
  /** (untouched, droppedMetadataOnly, rewritten) of the latest DELETE. */
  @volatile var lastDeleteSplit: Option[(Int, Int, Int)] = None
  /** Which path the latest keyless-MOR DELETE took: "dv" (position
    * sidecar), "cow-fallback" (matched rows exceeded
    * spark.graft.pos-delete.max-matched-rows — file-granular rewrite), or
    * "noop" (nothing matched). Lets specs assert the driver-side ordinal
    * materialization stayed bounded.
    */
  @volatile var lastPosDeleteMode: Option[String] = None
  /** r14: how the last keyed delta recorded its deleted keys —
    * "dv-inline" (driver JSON) or "dv-keyrun" (executor-written bins).
    */
  @volatile var lastKeyDeleteMode: Option[String] = None
  /** r14 broad-statement admission: the version the auto-fold committed
    * after the latest position-delta statement, None when the statement
    * stayed below the declared fraction (or no fraction is declared).
    */
  @volatile var lastDeltaAutoFold: Option[Long] = None
  /** Rows the position-delete readers pulled from parquet, PER TABLE DIR —
    * lets tests prove pushed predicates actually skipped row groups (rows
    * seen < file rows) under active position DVs. Executor-side bump: exact
    * in local mode, advisory on a cluster.
    */
  val posRowsRead = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** CONSECUTIVE commit-time auto-analyze failures per table dir (reset to
    * absent on the next success). The harvest is best-effort by contract —
    * a failure only degrades reads to unpruned — but a PERSISTENTLY
    * failing harvest would silently cost every future scan, so the count
    * surfaces in `CALL detail` (`auto_analyze_failures`).
    */
  val autoAnalyzeFailures = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def bumpPosRows(dir: String): Unit = { posRowsRead.merge(dir, 1L, _ + _); () }
}

private[catalog] class ZoneMapPrunedScan(delegate: FileScan,
    stats: Map[(String, String), ZStat],
    filters: Array[org.apache.spark.sql.sources.Filter],
    nulls: Map[(String, String), (Long, Long)] = Map.empty,
    tableDir: String = "",
    bloomsThunk: () => Map[(String, String), org.apache.spark.util.sketch.BloomFilter] =
      () => Map.empty,
    dv: Option[DeletionVectors.DvScanInfo] = None,
    partSpecs: Seq[GraftStagingCatalog.PartSpec] = Seq.empty,
    streamOpts: Map[String, String] = Map.empty,
    posDvs: DeletionVectors.PosDvs = DeletionVectors.PosDvs.empty,
    posIdx: Option[DeletionVectors.PosIdxInfo] = None,
    lineage: Option[(RowLineage.LineageScanInfo, Map[String, RowLineage.Entry])] = None,
    spjSpec: Option[(GraftStagingCatalog.PartSpec,
      org.apache.spark.sql.types.DataType)] = None,
    sortedBy: Seq[String] = Nil,
    posMeta: Option[DeletionVectors.PosMetaInfo] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** Streaming face of the staging-catalog scan: `readStream.table(…)`
    * tails the table's version manifests as micro-batches — see
    * [[StagingMicroBatchStream]]. The streaming read schema is this scan's
    * (column-pruned, DV-key projected off).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(tableDir.nonEmpty, "streaming reads need a catalog-managed table dir")
    new StagingMicroBatchStream(tableDir, readSchema(), streamOpts)
  }

  // loaded at most once per scan, and only when an equality/IN filter can
  // actually use it — range-only queries never pay the sidecar IO
  private lazy val loadedBlooms = bloomsThunk()

  /** Sidecar keys are TABLE-DIR-RELATIVE paths (a partition-laid-out file
    * is `k=v/<file>`); relativize against the dir when known, else the
    * bare name (flat tables).
    */
  private def statKey(p: org.apache.hadoop.fs.Path): String = {
    val full = p.toString
    val prefix = if (tableDir.isEmpty) "" else tableDir + "/"
    if (prefix.nonEmpty && full.startsWith(prefix)) full.substring(prefix.length)
    else p.getName
  }

  // with a widened-for-DV (or row-index / lineage) delegate schema, the
  // scan REPORTS the query's schema; readers project the carriers back off
  override def readSchema(): StructType =
    posMeta.map(_.requested)
      .orElse(lineage.map(_._1.requested))
      .orElse(posIdx.map(_.outputSchema))
      .getOrElse(dv.fold(delegate.readSchema())(_.outputSchema))
  override def toBatch: Batch = this
  override def estimateStatistics(): Statistics = delegate.estimateStatistics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (dv.isDefined || posDvs.nonEmpty || lineage.isDefined || posMeta.isDefined)
      Scan.ColumnarSupportMode.PARTITION_DEFINED
    else delegate.columnarSupportMode()
  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = delegate.createReaderFactory()
    // executors resolve distributed run sidecars through the DRIVER's
    // Hadoop conf (credentials, fs bindings) — shipped serialized
    lazy val hconf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (posMeta.isDefined)
      return new DeletionVectors.PosMetaReaderFactory(inner, posMeta.get, hconf)
    lineage match {
      case Some((info, _)) if dv.exists(i =>
          i.fileKeys.nonEmpty || i.keyBins.nonEmpty) || posDvs.nonEmpty =>
        // MOR + lineage combined (r12): filter DV-deleted rows, then
        // resolve ids — one factory over the shared widened schema
        val keyKind = dv.map(_.keyType) match {
          case Some(org.apache.spark.sql.types.IntegerType) => 0
          case Some(org.apache.spark.sql.types.LongType)    => 1
          case _                                            => 2
        }
        new RowLineage.MorLineageReaderFactory(inner, info,
          dv.map(_.keyOrdinal).getOrElse(-1), keyKind, hconf)
      case Some((info, _)) => // lineage: pushdown kept, per-file id resolution
        new RowLineage.LineageReaderFactory(inner, info)
      case None => posIdx match {
        case Some(info) => // row-index positions: pushdown kept, ordinal filter
          new DeletionVectors.PosIdxReaderFactory(inner, info, tableDir, hconf)
        case None =>
          val keyed = dv.fold(inner)(info =>
            new DeletionVectors.DvReaderFactory(inner, info, Some(hconf)))
          if (posDvs.isEmpty) keyed
          else new DeletionVectors.PosDvReaderFactory(keyed, hconf)
      }
    }
  }

  /** Filters in force for pruning — subclasses may add runtime filters. */
  protected def effectiveFilters: Array[org.apache.spark.sql.sources.Filter] = filters

  /** Plan the delegate's splits, drop files whose zone-map ranges cannot
    * satisfy `effectiveFilters`. NOT cached: runtime filtering re-plans
    * after `filter()` arrives, and the result must reflect the filters in
    * force at call time.
    */
  private def prune(): (Array[InputPartition], Int, Int) = {
    val fs = effectiveFilters
    val bl = if (fs.exists(ZoneMapPrunedScan.wantsBloom)) loadedBlooms
             else Map.empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
    val in = delegate.toBatch.planInputPartitions()
    var total = 0
    var kept = 0
    val out = in.flatMap {
      case fp: FilePartition =>
        val keep = fp.files.filter { pf =>
          total += 1
          val key = statKey(pf.toPath)
          val ok = fs.forall(f =>
            ZoneMapPrunedScan.canMatch(stats, nulls, bl, key, f) &&
              ZoneMapPrunedScan.partCanMatch(partSpecs, key, f))
          if (ok) kept += 1
          ok
        }
        if (keep.isEmpty) None
        else Some(FilePartition(fp.index, keep): InputPartition)
      case other => Some(other)
    }
    (out, kept, total)
  }

  /** File names this scan would read under the filters currently in force —
    * the GROUP set a row-level commit replaces.
    */
  private[catalog] def plannedFileNames(): Set[String] = {
    val fs = effectiveFilters
    val bl = if (fs.exists(ZoneMapPrunedScan.wantsBloom)) loadedBlooms
             else Map.empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
    delegate.toBatch.planInputPartitions().iterator.flatMap {
      case fp: FilePartition => fp.files.iterator.map(pf => statKey(pf.toPath))
        .filter(n => fs.forall(f => ZoneMapPrunedScan.canMatch(stats, nulls, bl, n, f) &&
          ZoneMapPrunedScan.partCanMatch(partSpecs, n, f)))
      case _ => Iterator.empty
    }.toSet
  }

  // ---- storage-partitioned reporting (bucket layouts) ----------------------
  //
  // When every planned (post-prune) file of a bucket-spec table lives in a
  // `<col>_bucket=<v>/` layout directory, the physical clustering is a
  // catalog FACT: file placement used the canonical mod_bucket residue, so
  // rows of residue b exist only in bucket-b files. The scan then groups
  // splits ONE PER RESIDUE, each carrying its partition key, and reports
  // `KeyGroupedPartitioning(bucket(n, col))` — with
  // spark.sql.sources.v2.bucketing.enabled, a join of two tables laid out
  // by the same spec plans with ZERO Exchange (Iceberg's SPJ shape; q232 is
  // the same surface on the synthetic SeqSource). At 100 TB this turns a
  // fact⋈fact join from two full shuffles into an embarrassingly parallel
  // per-bucket zip. Any stray file (a post-OPTIMIZE append, the NULL-key
  // dir) makes the layout non-provable → report Unknown, plan as before:
  // correctness never depends on the report.
  //
  // ONE PARTITION PER FILE, each carrying its key (`HasPartitionKey`) —
  // the shape Spark's own SPJ machinery consumes: `BatchScanExec.
  // groupPartitions` groups same-key splits into one task by default, and
  // with `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.
  // enabled` it KEEPS multiple partitions for a hot key on the larger
  // side — the skew answer for bucket layouts (a viral bucket fans across
  // tasks while co-location holds). Pre-grouping here would force one
  // task per key and make that impossible.
  private var spjPruneCounts: Option[(Int, Int)] = None
  private lazy val spjGroups: Option[Array[InputPartition]] = spjSpec.flatMap {
    case (sp, colType) =>
      val (parts, kept, total) = prune()
      spjPruneCounts = Some((kept, total))
      val prefix = sp.dirPrefix
      import GraftStagingCatalog.{BucketPart, IdentityPart}
      // layout-dir value → partition key, typed to the clustering
      // expression: bucket keys are the residue INT; identity keys are the
      // column's own value. String identities (r12) round-trip Spark's own
      // partition-dir escaping (the writer laid out with Spark's
      // `partitionBy`, so `unescapePathName` is the exact inverse); the
      // NULL-derivation dir withdraws the report — NULL never equi-joins,
      // but a partition VALUE for it cannot be expressed.
      def keyOf(value: String): Option[Any] = (sp, colType) match {
        case (BucketPart(n, _), _) =>
          value.toIntOption.filter(b => b >= 0 && b < n).map(Int.box)
        case (IdentityPart(_), org.apache.spark.sql.types.LongType) =>
          value.toLongOption.map(Long.box)
        case (IdentityPart(_), org.apache.spark.sql.types.IntegerType) =>
          value.toIntOption.map(Int.box)
        case (IdentityPart(_), org.apache.spark.sql.types.StringType)
            if value != "__HIVE_DEFAULT_PARTITION__" =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(value)))
        case _ => None
      }
      val files = Array.newBuilder[(Any, PartitionedFile)]
      var provable = true
      parts.foreach {
        case fp: FilePartition => fp.files.foreach { pf =>
          val rel = statKey(pf.toPath)
          val key: Option[Any] =
            if (rel.startsWith(prefix)) {
              val rest = rel.substring(prefix.length)
              val i = rest.indexOf('/')
              if (i > 0) keyOf(rest.substring(0, i)) else None
            } else None
          key match {
            case Some(k) => files += ((k, pf))
            case None    => provable = false
          }
        }
        case _ => provable = false
      }
      def sortKey(k: Any): (Long, String) = k match {
        case i: java.lang.Integer => (i.longValue, "")
        case l: java.lang.Long    => (l.longValue, "")
        case s                    => (0L, s.toString)
      }
      if (!provable) None
      else Some(files.result()
        // deterministic order: by key, then file, then split offset. One
        // partition PER SPLIT is safe here — SPJ is only offered on pure
        // data reads (no DV/lineage per-file reader contracts), and split
        // granularity is exactly what lets partially-clustered execution
        // fan a hot bucket's bytes across tasks
        .sortBy { case (k, pf) => (sortKey(k), pf.filePath.toString, pf.start) }
        .zipWithIndex.map { case ((k, pf), i) =>
          new KeyedFilePartition(i, Array(pf),
            org.apache.spark.sql.catalyst.InternalRow(k)): InputPartition
        }.toArray)
  }

  /** SORTED-LAYOUT ORDERING REPORT (r13 — `SupportsReportOrdering`): when
    * the table DECLARES a sort order (every write path re-sorts its output
    * files, see the preservation contract on [[StagingMaintenance
    * .optimize]] / the row-level Write) and the scan reports key-grouped
    * SPJ partitions (one SPLIT per partition — a slice of one sorted file
    * is itself sorted), each partition is provably ordered on the declared
    * columns, so a bucketed sort-merge join skips BOTH per-task Sorts on
    * top of skipping both Exchanges. Validity of multi-split key groups is
    * Spark's problem and Spark already solves it: `DataSourceV2ScanExecBase
    * .outputOrdering` drops the report whenever any key group holds more
    * than one input partition, so concatenation never rides this. Columns
    * pruned away withdraw the report (nothing downstream could consume
    * it, and the reference could not resolve).
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sortedBy.isEmpty || spjGroups.isEmpty ||
        !sortedBy.forall(c => readSchema().fieldNames.exists(_.equalsIgnoreCase(c))))
      Array.empty
    else {
      import org.apache.spark.sql.connector.{expressions => v2x}
      sortedBy.map(c => v2x.Expressions.sort(v2x.Expressions.column(c),
        v2x.SortDirection.ASCENDING)).toArray
    }

  override def outputPartitioning(): Partitioning = spjGroups match {
    case Some(gs) =>
      val expr = spjSpec.get._1 match {
        case GraftStagingCatalog.BucketPart(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
        case sp =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(sp.col)
      }
      new KeyGroupedPartitioning(Array(expr), gs.length)
    case None => new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = spjGroups match {
    case Some(gs) =>
      spjPruneCounts.foreach(c => ZoneMapScan.lastPrune = Some(c))
      gs
    case None => planUngrouped()
  }

  private def planUngrouped(): Array[InputPartition] = {
    val (parts, kept, total) = prune()
    ZoneMapScan.lastPrune = Some((kept, total))
    // position-row-id reads (r13): one partition per file carrying its
    // relative name, lineage base, and in-force position deletes
    if (posMeta.isDefined)
      return DeletionVectors.repackPosMeta(parts, posDvs,
        posMeta.get.entries, statKey)
    // lineage reads: one partition per file carrying the file's id base —
    // plus, on merge-on-read tables (r12), that file's in-force delete sets
    lineage match {
      case Some((_, entries))
          if dv.exists(i => i.fileKeys.nonEmpty || i.keyBins.nonEmpty) ||
            posDvs.nonEmpty =>
        RowLineage.repackMorLineage(parts, entries,
          dv.map(_.fileKeys).getOrElse(Map.empty), posDvs, statKey,
          dv.map(_.keyBins).getOrElse(Map.empty))
      case Some((_, entries)) => RowLineage.repackLineage(parts, entries, statKey)
      case None =>
        // deletion vectors: files with a delete set move into one partition
        // per FILE so their (row-based) readers know which delete set
        // governs every row; clean files keep the delegate's packing and
        // columnar readers
        val keyed = dv.filter(i => i.fileKeys.nonEmpty || i.keyBins.nonEmpty)
          .fold(parts)(info =>
            DeletionVectors.repack(parts, info.fileKeys, statKey, info.keyBins))
        if (posDvs.isEmpty) keyed
        else DeletionVectors.repackPos(keyed, posDvs, statKey)
    }
  }

  override def description(): String =
    delegate.description() + ", GraftZoneMaps: on" +
      (if (dv.exists(_.fileKeys.nonEmpty)) ", GraftDVs: on" else "") +
      (if (posDvs.nonEmpty)
        (if (posIdx.isDefined) ", GraftPosDVs: row-index" else ", GraftPosDVs: counter")
      else "")
}

/** The ROW-LEVEL (UPDATE / MERGE / DELETE-fallback) scan: zone-map pruning
  * plus RUNTIME group filtering. Spark's
  * `RowLevelOperationRuntimeGroupFiltering` rule sees this scan implement
  * `SupportsRuntimeV2Filtering` and injects a dynamic-pruning subquery that
  * evaluates the operation's group-filter condition (for MERGE: an EXISTS
  * over the source on the ON clause — the condition static pushdown can
  * never see) against the table, collects the DISTINCT values of
  * `filterAttributes` from the matching rows, and hands them back through
  * [[filter]] as IN-predicates before execution re-plans the splits. Zone
  * maps then turn that value set into a FILE set: a keyed MERGE on a
  * clustered table reads and rewrites only the files whose [min,max] admit
  * a matched key. The attributes offered are exactly the columns the stats
  * sidecar covers — without stats a runtime IN can prune nothing here, and
  * offering zero attributes keeps the rule off entirely (the scan is then
  * built as a plain [[ZoneMapPrunedScan]]).
  *
  * Scale note: the collected value set is bounded by the DISTINCT matched
  * key values (the standard dynamic-pruning trade), not by the file count —
  * a merge matching 10⁹ distinct keys pays a driver-side collect upstream
  * of this scan. The build-side pass itself is cheap: it reads through the
  * PLAIN zone-mapped scan path, projected to the filter columns.
  */
/** A [[FilePartition]] that also carries its storage-partition key — the
  * split shape Spark's key-grouped (SPJ) execution requires
  * (`HasPartitionKey`). Subclassing keeps the parquet reader factory's
  * `FilePartition` contract intact; the key is the bucket residue parsed
  * from the files' layout directory.
  */
private[catalog] final class KeyedFilePartition(index0: Int,
    files0: Array[PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends FilePartition(index0, files0) with HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

private[catalog] final class RowLevelGroupScan(delegate: FileScan,
    stats: Map[(String, String), ZStat],
    staticFilters: Array[org.apache.spark.sql.sources.Filter],
    filterCols: Array[String],
    nulls: Map[(String, String), (Long, Long)] = Map.empty,
    tableDir: String = "",
    blooms: () => Map[(String, String), org.apache.spark.util.sketch.BloomFilter] =
      () => Map.empty,
    dv: Option[DeletionVectors.DvScanInfo] = None,
    partSpecs: Seq[GraftStagingCatalog.PartSpec] = Seq.empty,
    posDvs: DeletionVectors.PosDvs = DeletionVectors.PosDvs.empty,
    lineage: Option[(RowLineage.LineageScanInfo, Map[String, RowLineage.Entry])] = None)
    extends ZoneMapPrunedScan(delegate, stats, staticFilters, nulls, tableDir, blooms, dv,
      partSpecs, Map.empty, posDvs, None, lineage)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.NamedReference

  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override protected def effectiveFilters: Array[org.apache.spark.sql.sources.Filter] =
    staticFilters ++ runtimeFilters

  override def filterAttributes(): Array[NamedReference] =
    filterCols.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimeFilters = predicates.flatMap(RowLevelGroupScan.v2InToV1)
    ZoneMapScan.lastRuntimeGroupFilters = runtimeFilters.map(_.toString).toSeq
  }
}

private[catalog] object RowLevelGroupScan {
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}

  /** Translate the runtime V2 IN / = predicates the dynamic-pruning
    * machinery delivers into V1 filters [[ZoneMapPrunedScan.canMatch]]
    * understands; anything unrecognized is dropped (prunes nothing —
    * conservative, never unsound).
    */
  private[catalog] def v2InToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] = {
    def ext(l: V2Literal[_]): Any =
      CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value)
    (p.name(), p.children()) match {
      case ("IN", cs) if cs.nonEmpty =>
        cs.head match {
          case ref: NamedReference if cs.tail.forall(_.isInstanceOf[V2Literal[_]]) =>
            Some(org.apache.spark.sql.sources.In(ref.toString,
              cs.tail.map(c => ext(c.asInstanceOf[V2Literal[_]]))))
          case _ => None
        }
      case ("=", Array(ref: NamedReference, l: V2Literal[_])) =>
        Some(org.apache.spark.sql.sources.EqualTo(ref.toString, ext(l)))
      case _ => None
    }
  }
}

private[catalog] object ZoneMapPrunedScan {
  import org.apache.spark.sql.sources._

  /** Unsigned lexicographic comparison of the UTF-8 encodings — the order
    * parquet's binary statistics use. Coincides with code-POINT order
    * (not Java's code-UNIT order, which sorts [U+E000,U+FFFF] after
    * supplementary-plane characters).
    */
  private[catalog] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Compare `s`'s first |p| UTF-8 bytes against p's bytes (shorter-s is
    * smaller on a byte-prefix tie). ≤ 0 means some string with prefix p
    * can be ≥ s in UTF-8 order.
    */
  private[catalog] def utf8PrefixCmp(s: String, p: String): Int = {
    val x = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    if (x.length >= y.length) 0 else -1 // s shorter than p: prefix tie → smaller
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Integer   => Some(n.longValue)
    case n: java.lang.Long      => Some(n.longValue)
    case n: java.lang.Short     => Some(n.longValue)
    case n: java.lang.Byte      => Some(n.longValue)
    case t: java.sql.Timestamp  => Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000L)
    case i: java.time.Instant   =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _                      => None
  }
  private def asDouble(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case _                   => None
  }

  /** Range test: can any row of a file with the recorded stats satisfy the
    * filter? Every unprovable case answers true (keep the file).
    * Comparisons are INCLUSIVE on both ends — deliberately weaker than the
    * strict filters they stand in for, which can only over-keep.
    * (NaN note: parquet-mr OMITS float/double chunk statistics when a NaN
    * was written — PARQUET-1246 — so a NaN-bearing chunk fails analyze's
    * completeness gate and the file is never pruned; the Spark-sorts-NaN-
    * highest hazard cannot bite through stats that exist.)
    */
  def canMatch(stats: Map[(String, String), ZStat], file: String, f: Filter): Boolean =
    canMatch(stats, Map.empty, file, f)

  /** canMatch with NULL-count knowledge (ANALYZE ≥ r8): `IS NULL` prunes
    * zero-null files, `IS NOT NULL` prunes all-null files, and every value
    * predicate prunes an all-null file (NULL satisfies no comparison).
    * Unknown counts degrade to the range-only answer.
    */
  def canMatch(stats: Map[(String, String), ZStat],
      nulls: Map[(String, String), (Long, Long)], file: String, f: Filter): Boolean = {
    def allNull(a: String): Boolean =
      nulls.get((file, a)).exists { case (n, t) => t > 0 && n == t }
    def noNull(a: String): Boolean =
      nulls.get((file, a)).exists { case (n, _) => n == 0L }
    def inRange(a: String, v: Any, side: Int): Boolean = stats.get((file, a)) match {
      case Some(LongZ(mn, mx)) => asLong(v).forall { x =>
        side match {
          case 0  => mx >= x && mn <= x // equality: x inside [mn,mx]
          case 1  => mx >= x            // > / >= : some value reaches x
          case -1 => mn <= x            // < / <= : some value is below x
        }
      }
      case Some(DoubleZ(mn, mx)) => asDouble(v).forall { x =>
        side match {
          case 0  => mx >= x && mn <= x
          case 1  => mx >= x
          case -1 => mn <= x
        }
      }
      case Some(StringZ(mn, mx)) => v match {
        // parquet's binary min/max are ordered by UNSIGNED UTF-8 bytes
        // (code-point order); Java String comparison is UTF-16 code-unit
        // order and the two disagree when [U+E000,U+FFFF] chars mix with
        // supplementary-plane code points — compare in the footer's order
        case s: String =>
          side match {
            case 0  => utf8Cmp(mx, s) >= 0 && utf8Cmp(mn, s) <= 0
            case 1  => utf8Cmp(mx, s) >= 0
            case -1 => utf8Cmp(mn, s) <= 0
          }
        case _ => true
      }
      case _ => true
    }
    f match {
      case EqualTo(a, v)            => !allNull(a) && inRange(a, v, 0)
      case EqualNullSafe(a, v)      =>
        if (v == null) !noNull(a) else !allNull(a) && inRange(a, v, 0)
      case GreaterThan(a, v)        => !allNull(a) && inRange(a, v, 1)
      case GreaterThanOrEqual(a, v) => !allNull(a) && inRange(a, v, 1)
      case LessThan(a, v)           => !allNull(a) && inRange(a, v, -1)
      case LessThanOrEqual(a, v)    => !allNull(a) && inRange(a, v, -1)
      // an empty IN is satisfied by NO row (runtime group filtering emits
      // one when a MERGE matches nothing) — pruning every file is exact
      case In(a, vs)                => !allNull(a) && vs.exists(v => inRange(a, v, 0))
      case IsNull(a)                => !noNull(a)
      case IsNotNull(a)             => !allNull(a)
      case StringStartsWith(a, p)   => !allNull(a) && (stats.get((file, a)) match {
        // In UTF-8 byte order: the SMALLEST string with prefix p is p
        // itself, so some prefix-p string can be ≤ max iff p ≤ max; and
        // some prefix-p string can be ≥ min iff min's first |p| bytes are
        // ≤ p (every prefix-p string shares those bytes exactly). This is
        // exact in the footer's comparator — no `p + '￿'` sentinel,
        // which is unsound for data containing U+FFFF or astral chars.
        case Some(StringZ(mn, mx)) =>
          utf8Cmp(p, mx) <= 0 && utf8PrefixCmp(mn, p) <= 0
        case _ => true
      })
      case And(l, r) => canMatch(stats, nulls, file, l) && canMatch(stats, nulls, file, r)
      case Or(l, r)  => canMatch(stats, nulls, file, l) || canMatch(stats, nulls, file, r)
      case _         => true // Not / unknown: conservative
    }
  }

  /** Bloom-aware canMatch: equality/IN probes additionally consult the
    * per-file Bloom sidecar — a definite "not present" prunes a file whose
    * [min,max] range admits the value (the hash-distributed-ingest case
    * where every file spans the whole keyspace). Blooms cover the values'
    * CANONICAL string form; probe values of other shapes (timestamps,
    * doubles — where engine-to-string renderings could disagree) skip the
    * bloom and fall back to the range answer. Sound: no false negatives.
    */
  def canMatch(stats: Map[(String, String), ZStat],
      nulls: Map[(String, String), (Long, Long)],
      blooms: Map[(String, String), org.apache.spark.util.sketch.BloomFilter],
      file: String, f: Filter): Boolean = {
    def probeForm(v: Any): Option[String] = v match {
      case s: String            => Some(s)
      case n: java.lang.Long    => Some(n.toString)
      case n: java.lang.Integer => Some(n.toString)
      case n: java.lang.Short   => Some(n.toString)
      case n: java.lang.Byte    => Some(n.toString)
      case _                    => None // conservative: no bloom consult
    }
    def bloomAdmits(a: String, v: Any): Boolean =
      blooms.get((file, a)).forall { bf =>
        probeForm(v).forall(s => bf.mightContainLong(StagingMaintenance.bloomHash(s)))
      }
    if (blooms.isEmpty) canMatch(stats, nulls, file, f)
    else f match {
      case EqualTo(a, v) => canMatch(stats, nulls, file, f) && bloomAdmits(a, v)
      case EqualNullSafe(a, v) if v != null =>
        canMatch(stats, nulls, file, f) && bloomAdmits(a, v)
      case In(a, vs) =>
        vs.exists(v => canMatch(stats, nulls, blooms, file, EqualTo(a, v)))
      case And(l, r) =>
        canMatch(stats, nulls, blooms, file, l) && canMatch(stats, nulls, blooms, file, r)
      case Or(l, r) =>
        canMatch(stats, nulls, blooms, file, l) || canMatch(stats, nulls, blooms, file, r)
      case _ => canMatch(stats, nulls, file, f)
    }
  }

  /** Does the filter tree contain an equality/IN leaf a Bloom could help
    * with? Gates the sidecar load — range-only queries never pay the IO.
    */
  private[catalog] def wantsBloom(f: Filter): Boolean = f match {
    case _: EqualTo                      => true
    case EqualNullSafe(_, v) if v != null => true
    case _: In                           => true
    case And(l, r)                       => wantsBloom(l) || wantsBloom(r)
    case Or(l, r)                        => wantsBloom(l) || wantsBloom(r)
    case _                               => false
  }

  /** The DUAL proof: does EVERY row of the file provably satisfy `f`? Used
    * by DELETE to drop whole files METADATA-ONLY (no read, no rewrite) —
    * the zone-map answer to drop-partition retention: on a ts-clustered
    * table, `DELETE WHERE day BETWEEN …` erases interior files by manifest
    * edit alone and rewrites only the two boundary files. Strictly
    * sufficient, never necessary: any doubt (missing range, unknown null
    * count, a NULL row that would make the predicate UNKNOWN rather than
    * TRUE, an unmodeled filter shape) answers false and the file takes the
    * ordinary rewrite path. Value predicates therefore require a recorded
    * ZERO null count — min/max ignore nulls, and a NULL row must SURVIVE a
    * DELETE whose predicate evaluates UNKNOWN on it.
    */
  def mustMatchAll(stats: Map[(String, String), ZStat],
      nulls: Map[(String, String), (Long, Long)], file: String, f: Filter): Boolean = {
    def noNull(a: String): Boolean =
      nulls.get((file, a)).exists { case (n, _) => n == 0L }
    def allNull(a: String): Boolean =
      nulls.get((file, a)).exists { case (n, t) => n == t }
    // does every value in the file's range satisfy <cmp v>?
    def rangeAll(a: String, v: Any, side: Int, strict: Boolean): Boolean =
      stats.get((file, a)) match {
        case Some(LongZ(mn, mx)) => asLong(v).exists { x =>
          side match {
            case 0  => mn == x && mx == x
            case 1  => if (strict) mn > x else mn >= x
            case -1 => if (strict) mx < x else mx <= x
          }
        }
        case Some(DoubleZ(mn, mx)) => asDouble(v).exists { x =>
          side match {
            case 0  => mn == x && mx == x
            case 1  => if (strict) mn > x else mn >= x
            case -1 => if (strict) mx < x else mx <= x
          }
        }
        case Some(StringZ(mn, mx)) => v match {
          case s: String => side match {
            case 0  => utf8Cmp(mn, s) == 0 && utf8Cmp(mx, s) == 0
            case 1  => if (strict) utf8Cmp(mn, s) > 0 else utf8Cmp(mn, s) >= 0
            case -1 => if (strict) utf8Cmp(mx, s) < 0 else utf8Cmp(mx, s) <= 0
          }
          case _ => false
        }
        case _ => false
      }
    f match {
      case EqualTo(a, v)            => noNull(a) && rangeAll(a, v, 0, strict = false)
      case EqualNullSafe(a, v)      =>
        if (v == null) allNull(a) else noNull(a) && rangeAll(a, v, 0, strict = false)
      case GreaterThan(a, v)        => noNull(a) && rangeAll(a, v, 1, strict = true)
      case GreaterThanOrEqual(a, v) => noNull(a) && rangeAll(a, v, 1, strict = false)
      case LessThan(a, v)           => noNull(a) && rangeAll(a, v, -1, strict = true)
      case LessThanOrEqual(a, v)    => noNull(a) && rangeAll(a, v, -1, strict = false)
      case In(a, vs)                => // provable only for a constant file
        noNull(a) && vs.exists(v => rangeAll(a, v, 0, strict = false))
      case IsNull(a)                => allNull(a)
      case IsNotNull(a)             => noNull(a)
      case And(l, r) =>
        mustMatchAll(stats, nulls, file, l) && mustMatchAll(stats, nulls, file, r)
      case Or(l, r) =>
        mustMatchAll(stats, nulls, file, l) || mustMatchAll(stats, nulls, file, r)
      case _ => false
    }
  }

  // ---- PATH-BASED partition-transform pruning ------------------------------
  //
  // A file laid out by `OPTIMIZE partitionBy <spec>` carries its partition
  // value in its PATH (`<col>_day=2024-01-02/…`, `<col>_bucket=5/…`,
  // `<col>=v/…`), and rows inside are structurally constrained: a day file
  // holds only timestamps of that UTC day, a bucket file only keys of that
  // mod_bucket residue, and in both cases the partition source column is
  // NON-NULL (a NULL derivation lands in Spark's default-partition dir,
  // whose name does not match the spec prefix and is therefore never
  // pruned). That gives file skipping with NO stats sidecar at all — and
  // for bucket layouts it is the ONLY possible skip: every bucket spans the
  // whole keyspace, so min/max ranges can never separate them. Day
  // boundaries are the UTC day (the engine pins
  // spark.sql.session.timeZone=UTC everywhere).

  /** Hive's default-partition value — the NULL-derivation dir. For every
    * supported transform the derivation is NULL iff the SOURCE column is
    * NULL, so this dir structurally holds exactly the all-NULL-source rows.
    */
  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** The spec's partition value from the file's table-relative path, when
    * the file lives in a matching layout directory.
    */
  private def partValueOf(s: GraftStagingCatalog.PartSpec, file: String): Option[String] =
    if (file.startsWith(s.dirPrefix)) {
      val rest = file.substring(s.dirPrefix.length)
      val i = rest.indexOf('/')
      if (i > 0) Some(rest.substring(0, i)) else None
    } else None

  /** (dayStartMicros, dayEndMicrosInclusive, epochDay) of a layout value. */
  private def dayRange(value: String): Option[(Long, Long, Long)] =
    try {
      val day = java.time.LocalDate.parse(value)
      val s = day.toEpochDay * 86400000000L
      Some((s, s + 86399999999L, day.toEpochDay))
    } catch { case _: RuntimeException => None }

  private def bucketOf(v: Any, n: Int): Option[Int] = v match {
    case num: java.lang.Integer => Some((((num.longValue % n) + n) % n).toInt)
    case num: java.lang.Long    => Some((((num.longValue % n) + n) % n).toInt)
    case _                      => None
  }

  /** CAN any row of a file in this layout dir satisfy `f`? Unprovable →
    * true (keep). Mirrors [[canMatch]]'s inclusive-weak semantics.
    */
  private def specCanMatch(s: GraftStagingCatalog.PartSpec, value: String,
      f: Filter): Boolean = {
    import GraftStagingCatalog.{BucketPart, DaysPart}
    // unlike footer stats (inclusive-weak by design), the day window is
    // STRUCTURALLY exact — every row is inside [dayStart, dayEnd] — so
    // strict comparisons prune the adjacent-day boundary file soundly
    def dayCmp(v: Any, side: Int, strict: Boolean): Boolean = dayRange(value) match {
      case Some((mnMicros, mxMicros, epochDay)) =>
        asLong(v) match {
          case Some(x) =>
            val (mn, mx) = v match {
              case _: java.sql.Date | _: java.time.LocalDate => (epochDay, epochDay)
              case _                                         => (mnMicros, mxMicros)
            }
            side match {
              case 0  => mx >= x && mn <= x
              case 1  => if (strict) mx > x else mx >= x
              case -1 => if (strict) mn < x else mn <= x
            }
          case None => true
        }
      case None => true
    }
    (s, f) match {
      case (_, And(l, r)) => specCanMatch(s, value, l) && specCanMatch(s, value, r)
      case (_, Or(l, r))  => specCanMatch(s, value, l) || specCanMatch(s, value, r)
      // the NULL-derivation dir: every row's source column IS NULL, so no
      // value comparison can be TRUE and IS NOT NULL matches nothing
      case (spec, EqualNullSafe(a, null)) if a == spec.col && value == NullDir => true
      case (spec, IsNull(a)) if a == spec.col && value == NullDir => true
      case (spec, EqualTo(a, _)) if a == spec.col && value == NullDir => false
      case (spec, EqualNullSafe(a, _)) if a == spec.col && value == NullDir => false
      case (spec, GreaterThan(a, _)) if a == spec.col && value == NullDir => false
      case (spec, GreaterThanOrEqual(a, _)) if a == spec.col && value == NullDir => false
      case (spec, LessThan(a, _)) if a == spec.col && value == NullDir => false
      case (spec, LessThanOrEqual(a, _)) if a == spec.col && value == NullDir => false
      case (spec, In(a, _)) if a == spec.col && value == NullDir => false
      case (spec, IsNotNull(a)) if a == spec.col && value == NullDir => false
      case (_, _) if value == NullDir => true // unmodeled filter: keep
      case (BucketPart(n, c), EqualTo(a, v)) if a == c =>
        try bucketOf(v, n).forall(_ == value.toInt)
        catch { case _: NumberFormatException => true }
      case (BucketPart(n, c), EqualNullSafe(a, v)) if a == c && v != null =>
        try bucketOf(v, n).forall(_ == value.toInt)
        catch { case _: NumberFormatException => true }
      case (BucketPart(n, c), In(a, vs)) if a == c =>
        try vs.exists(v => bucketOf(v, n).forall(_ == value.toInt))
        catch { case _: NumberFormatException => true }
      case (DaysPart(c), EqualTo(a, v)) if a == c            => dayCmp(v, 0, strict = false)
      case (DaysPart(c), EqualNullSafe(a, v)) if a == c && v != null =>
        dayCmp(v, 0, strict = false)
      case (DaysPart(c), GreaterThan(a, v)) if a == c        => dayCmp(v, 1, strict = true)
      case (DaysPart(c), GreaterThanOrEqual(a, v)) if a == c => dayCmp(v, 1, strict = false)
      case (DaysPart(c), LessThan(a, v)) if a == c           => dayCmp(v, -1, strict = true)
      case (DaysPart(c), LessThanOrEqual(a, v)) if a == c    => dayCmp(v, -1, strict = false)
      case (DaysPart(c), In(a, vs)) if a == c =>
        vs.exists(v => dayCmp(v, 0, strict = false))
      // layout dirs hold only rows whose derivation was NON-NULL
      case (spec, IsNull(a)) if a == spec.col => false
      case _ => true
    }
  }

  /** Does EVERY row of a file in this layout dir provably satisfy `f`?
    * Unprovable → false. The structural non-null guarantee stands in for
    * the zero-null-count requirement [[mustMatchAll]] needs from stats.
    */
  private def specMustMatchAll(s: GraftStagingCatalog.PartSpec, value: String,
      f: Filter): Boolean = {
    import GraftStagingCatalog.DaysPart
    def dayAll(v: Any, side: Int, strict: Boolean): Boolean = dayRange(value) match {
      case Some((mnMicros, mxMicros, epochDay)) =>
        asLong(v) match {
          case Some(x) =>
            val (mn, mx) = v match {
              case _: java.sql.Date | _: java.time.LocalDate => (epochDay, epochDay)
              case _                                         => (mnMicros, mxMicros)
            }
            side match {
              case 0  => mn == x && mx == x
              case 1  => if (strict) mn > x else mn >= x
              case -1 => if (strict) mx < x else mx <= x
            }
          case None => false
        }
      case None => false
    }
    (s, f) match {
      case (_, And(l, r)) => specMustMatchAll(s, value, l) && specMustMatchAll(s, value, r)
      case (_, Or(l, r))  => specMustMatchAll(s, value, l) || specMustMatchAll(s, value, r)
      // the NULL-derivation dir: all-NULL source column, provably
      case (spec, IsNull(a)) if a == spec.col && value == NullDir => true
      case (spec, EqualNullSafe(a, null)) if a == spec.col && value == NullDir => true
      case (_, _) if value == NullDir => false
      case (DaysPart(c), EqualTo(a, v)) if a == c => dayAll(v, 0, strict = false)
      case (DaysPart(c), GreaterThan(a, v)) if a == c => dayAll(v, 1, strict = true)
      case (DaysPart(c), GreaterThanOrEqual(a, v)) if a == c => dayAll(v, 1, strict = false)
      case (DaysPart(c), LessThan(a, v)) if a == c => dayAll(v, -1, strict = true)
      case (DaysPart(c), LessThanOrEqual(a, v)) if a == c => dayAll(v, -1, strict = false)
      case (spec, IsNotNull(a)) if a == spec.col => true
      case _ => false
    }
  }

  /** Specs whose layout prefix identifies them UNIQUELY within the set. A
    * shared prefix (a bucket-count re-spec: retired `bucket(4,k)` and
    * current `bucket(8,k)` both lay out under `k_bucket=`; or an identity
    * transform on a column literally named `k_bucket`) makes file→spec
    * attribution ambiguous — an old bucket(4) file in `k_bucket=3/` holds
    * keys whose bucket(8) residue is 3 OR 7, so judging it by the current
    * spec would prune rows that exist. Ambiguous specs contribute NOTHING
    * to pruning (their files are conservatively kept / never proven).
    * Memoized by spec-list value: the predicates below run once per
    * (file, filter) pair across every pruning loop, and a table's spec
    * list is a handful of entries that rarely changes — the cache is
    * bounded by distinct spec lists ever seen in the JVM.
    */
  private val unambiguousCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[GraftStagingCatalog.PartSpec],
      Seq[GraftStagingCatalog.PartSpec]]()
  private def unambiguousSpecs(specs: Seq[GraftStagingCatalog.PartSpec])
      : Seq[GraftStagingCatalog.PartSpec] =
    unambiguousCache.computeIfAbsent(specs,
      sps => sps.filter(sp => sps.forall(s => s == sp || s.dirPrefix != sp.dirPrefix)))

  /** Conjunction of [[specCanMatch]] across the table's declared partition
    * specs — ANY spec's path value can refute the filter. Only
    * [[unambiguousSpecs]] participate: a prefix shared by two distinct
    * specs cannot attribute a file to the spec that placed it.
    */
  private[catalog] def partCanMatch(specs: Seq[GraftStagingCatalog.PartSpec],
      file: String, f: Filter): Boolean =
    unambiguousSpecs(specs)
      .forall(s => partValueOf(s, file).forall(v => specCanMatch(s, v, f)))

  /** Disjunction of [[specMustMatchAll]] across the specs — ANY spec's path
    * value proving all-rows-match suffices. Ambiguous-prefix specs are
    * excluded for the same attribution reason as [[partCanMatch]].
    */
  private[catalog] def partMustMatchAll(specs: Seq[GraftStagingCatalog.PartSpec],
      file: String, f: Filter): Boolean =
    unambiguousSpecs(specs)
      .exists(s => partValueOf(s, file).exists(v => specMustMatchAll(s, v, f)))
}
